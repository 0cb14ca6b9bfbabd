package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Column utilities shared by the operators. */
object Cols {

  /** A temp-column name not present on `df` — `withColumn` with a name the
    * frame already has silently REPLACES that column and corrupts the
    * caller's data, so every operator that adds temporaries or outputs
    * must probe first (one shared guard instead of per-operator copies).
    */
  def freeName(df: DataFrame, prefix: String): String =
    Iterator.from(0).map(i => s"$prefix$i").find(!df.columns.contains(_)).get

  /** The iterative-loop shuffle sizing rule (the q147 convention,
    * generalized in r16): loops scope AQE off because every per-step
    * frame is eagerly checkpointed and per-step adaptive re-planning is
    * pure driver overhead — but AQE off means shuffle.partitions must be
    * SIZED TO THE DATA, not left at the session default (off-alone froze
    * 32-partition checkpoints of few-thousand-row frames and regressed
    * q179 2×, SCALE.md walkaqe) and not hard-coded small (right on
    * local[32], wrong on a 1000-executor graph). ~64k rows per partition,
    * clamped to [1, defaultParallelism].
    */
  def loopParts(df: DataFrame, rows: Long): Int =
    // clamp in Long BEFORE narrowing: (rows/rpp).toInt wraps negative past
    // ~1.4e14 rows and the clamp would then read "1 partition" on exactly
    // the web-scale frames this rule exists for (r16 advice)
    math.max(1L, math.min(
      df.sparkSession.sparkContext.defaultParallelism.toLong,
      rows / 64000L + 1L)).toInt

  /** One scope entry: insertion id + the partition request (None = AQE-off
    * only, partitions untouched).
    */
  private final class ConfScope {
    var savedAqe: String = null
    var savedParts: String = null
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Int])]
    var nextId = 0L
  }

  // One scope record per SparkSession, kept for the session's life: entries
  // are NEVER removed from this map, because remove-when-empty races
  // computeIfAbsent (a thread holding a just-removed scope would push onto
  // an orphan while a third thread creates a fresh record and snapshots the
  // orphan's loop values as "original" — the exact leak this exists to
  // kill). A ConfScope is ~100 bytes and sessions are few; leaking the
  // record is free, leaking the conf was not.
  private val scopes =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, ConfScope]()

  /** The in-loop conf pair ([[loopParts]]' scaladoc) as a RE-ENTRANT,
    * THREAD-SAFE scope: AQE off + `parts` shuffle partitions for the
    * duration of `body`, restored to the session's pre-scope values when
    * the LAST concurrent/nested scope exits.
    *
    * Why not plain save/set/restore-in-finally at each call site: session
    * conf is SHARED, and `trainPqCodebooks` submits 16 concurrent
    * `kmeansRefine`s — with per-site save/restore, thread B snapshots
    * thread A's in-loop value (partitions=1 for a 512-row training slice)
    * as its "previous" and restores it LAST, leaving the whole session
    * serialized for everything that runs afterwards (r16 verdict: 11
    * untouched bench queries regressed 1.5–4×, CPU collapsing while wall
    * rose). Here the FIRST scope in saves the true pre-loop conf, the LAST
    * scope out restores it (one synchronized entry list per session), so
    * the restore is correct under any interleaving. Sequentially nested
    * scopes get exact stack semantics: an inner exit re-applies the
    * now-innermost scope's request.
    *
    * Concurrent scopes requesting DIFFERENT partition counts still share
    * one session conf — last writer wins while both run (a perf
    * approximation, never a correctness one: loop values are
    * oracle-pinned) — and the final restore is exact regardless.
    */
  def withLoopConf[T](spark: SparkSession, parts: Int)(body: => T): T =
    withLoopConfOpt(spark, Some(parts))(body)

  /** AQE-off-only scope (betweenness: shuffle sizes are hand-planned by
    * slice fan-out, partitions stay at the session value). Same
    * first-in-save / last-out-restore discipline as [[withLoopConf]].
    */
  def withLoopAqeOff[T](spark: SparkSession)(body: => T): T =
    withLoopConfOpt(spark, None)(body)

  private def withLoopConfOpt[T](spark: SparkSession, parts: Option[Int])
                                (body: => T): T = {
    val sc = scopes.computeIfAbsent(spark, _ => new ConfScope)
    val id = sc.synchronized {
      if (sc.entries.isEmpty) {
        sc.savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
        sc.savedParts = spark.conf.get("spark.sql.shuffle.partitions")
      }
      val myId = sc.nextId; sc.nextId += 1
      sc.entries += ((myId, parts))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      parts.foreach(p =>
        spark.conf.set("spark.sql.shuffle.partitions", p.toString))
      myId
    }
    try body
    finally sc.synchronized {
      val idx = sc.entries.indexWhere(_._1 == id)
      val wasInnermost = idx == sc.entries.length - 1
      sc.entries.remove(idx)
      if (sc.entries.isEmpty) {
        spark.conf.set("spark.sql.adaptive.enabled", sc.savedAqe)
        spark.conf.set("spark.sql.shuffle.partitions", sc.savedParts)
      } else if (wasInnermost) {
        // hand the conf to the scope that is now innermost (exact for
        // sequential nesting; best-effort under concurrency, see scaladoc).
        // A None entry (AQE-off-only) never requested partitions, so the
        // value to re-apply is the NEAREST ENCLOSING Some — reading only
        // the new innermost entry broke Conf→AqeOff→Conf nesting by
        // restoring the pre-scope session value while the outer Conf
        // scope was still live (r17 advice).
        val enclosing = sc.entries.reverseIterator.map(_._2)
          .collectFirst { case Some(p) => p }
        spark.conf.set("spark.sql.shuffle.partitions",
          enclosing.map(_.toString).getOrElse(sc.savedParts))
      }
    }
  }
}
