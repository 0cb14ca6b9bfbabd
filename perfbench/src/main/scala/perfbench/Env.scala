package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Host state recorded with every run, so a contended run is visible in
  * its record instead of being averaged in silently.
  */
object Env {
  private def slurp(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path)), UTF_8).trim)
    catch { case _: java.io.IOException => None }

  def sample(): Map[String, Any] = Map(
    "loadavg" -> slurp("/proc/loadavg").map(_.split("\\s+").take(3).map(_.toDouble).toSeq),
    "boot_id" -> slurp("/proc/sys/kernel/random/boot_id").map(_.take(8)),
    // Time this VM's CPUs waited while the hypervisor served other guests,
    // and the share of time tasks here waited for a CPU: contention shows.
    "cpu_steal_ticks" -> slurp("/proc/stat").map(_.split("\\s+")(8).toLong),
    "cpu_pressure" -> slurp("/proc/pressure/cpu").map(_.split('\n').head),
    "unix_ms" -> System.currentTimeMillis())

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    slurp("/proc/self/status").flatMap(_.split('\n').find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Writes the run record and, for a traced run, its spans (one JSON
    * object per line) under `dir/records`, named after the run's work
    * directory `dir`, which is unique per run (workload, seed, trace,
    * start time, launcher pid).
    */
  def record(dir: String, detail: Map[String, Any], spans: Spans): Unit = {
    val out = Paths.get(dir, "records")
    Files.createDirectories(out)
    val stem = Paths.get(dir).getFileName.toString
    Files.write(out.resolve(s"$stem.json"), Json.render(detail).getBytes(UTF_8))
    if (spans.all.nonEmpty)
      Files.write(out.resolve(s"$stem.spans.jsonl"), spans.all.map(s => Json.render(
        scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs))).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
