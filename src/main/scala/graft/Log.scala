package graft

/** Minimal warning channel for registry-maintenance code paths whose
  * degraded/compat arms are CORRECT but expensive or lossy-looking —
  * silence there lets a mis-deployed production registry pay a decayed
  * cost curve with no operator-visible signal (ADVICE r18; e.g.
  * `impactIndexStats` serving across an incomplete retention). Warnings
  * go to stderr (the local-mode operator channel; a cluster deployment
  * would wire a real logger here) and into a small in-memory ring so specs can
  * assert that a given arm actually fired — a log line nobody can test
  * for regresses to silence on the first refactor.
  */
object Log {
  private val ring = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val Cap = 64

  def warn(msg: String): Unit = {
    System.err.println(s"[graft] WARN: $msg")
    ring.add(msg)
    while (ring.size > Cap) { ring.poll(); () }
  }

  /** Most-recent-last snapshot of the warning ring (test hook). */
  private[graft] def recentWarnings: Seq[String] = {
    val it = ring.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }
}
