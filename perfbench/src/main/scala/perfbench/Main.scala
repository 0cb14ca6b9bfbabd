package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One measured operation: a follower epoch, a backfill, a poll that
  * gated out, or a registry query. `err` set means it failed or gave a
  * wrong answer.
  */
final case class Op(kind: String, name: String, id: Long, wall: Double, cpu: Double,
                    err: Option[String], rows: Long = 0L)

/** One pass of a workload's fixed work: its ops and its throughput, in
  * the workload's unit per second.
  */
final case class Pass(ops: Seq[Op], rate: Double)

final class Timer private (wall0: Long, cpu0: Long) {
  /** (wall s, process-CPU s) since start. */
  def stop(): (Double, Double) =
    ((System.nanoTime() - wall0) / 1e9, (Timer.cpuNs() - cpu0) / 1e9)
}

object Timer {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def start(): Timer = new Timer(System.nanoTime(), cpuNs())
}

final class Ctx(val spark: SparkSession, val spans: Spans, val work: String,
                val seed: Long) {
  private var opSeq = 0L
  def nextOp(): Long = { opSeq += 1; opSeq }
}

trait Workload {
  def name: String
  /** Generates the inputs from the seed; repeatable, the last call wins. */
  def prepare(ctx: Ctx, round: Int): Unit
  /** One pass over small inputs that runs every code path once. */
  def warmUp(ctx: Ctx): Unit
  /** One pass of the workload's fixed work, outputs checked. */
  def pass(ctx: Ctx): Pass
  /** The latency samples of a pass's ops. */
  def latencies(ops: Seq[Op]): Seq[Double]
  /** Passes a run measures at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Per-layer values the workload measures itself, from its last pass. */
  def layerExtras: Map[String, Double] = Map.empty
}

/** The benchmark's JVM side. `perfbench/run.py` builds and launches it;
  * the last stdout line is the result object.
  *
  *   --workload follower|short_queries|impact_index --seed N --seconds S
  *   --trace 0|1 --bench DIR --contract BENCHMARK.json --work DIR [--regen-expected]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        bench: String, contract: String, work: String, regen: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", need("--bench"), need("--contract"), need("--work"),
      args.contains("--regen-expected"))
  }

  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cores]"), cores.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, new Spans(Some(spark.sparkContext), enabled = false),
      o.work, o.seed)
    val config = Config.load(o.bench)
    val wl = config.workload(o.workload, spark)
    val code =
      try {
        if (o.regen) regen(ctx, wl)
        else run(o, ctx, wl, sessionS, cores)
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    sys.exit(code)
  }

  private def regen(ctx: Ctx, wl: Workload): Int = wl match {
    case r: Registry =>
      val fps = r.fingerprints(ctx)
      fps.collect { case (q, Left(e)) => System.err.println(s"$q failed: $e") }
      println(Json.render(Map("queries" -> scala.collection.immutable.ListMap(
        fps.collect { case (q, Right(fp)) => q -> Map("rows" -> fp.rows, "hash" -> fp.hash) }: _*))))
      if (fps.exists(_._2.isLeft)) 1 else 0
    case _ => sys.error(s"${wl.name} has no stored fingerprints")
  }

  private def run(o: Opts, ctx: Ctx, wl: Workload, sessionS: Double, cores: Int): Int = {
    val contract = Contract.load(o.contract)
    val table = Config.perLayerTable(o.bench)
    require(table.toSet == contract.perLayer.map(_._1).toSet,
      s"config.json per_layer table ${table.sorted} differs from BENCHMARK.json per_layer")
    val env0 = Env.sample()
    // Set-up: session start, input generation (repeated; its median
    // counts), one warm-up pass. Timing starts after it.
    val rounds = (1 to SetupRounds).map { i =>
      val t = Timer.start()
      wl.prepare(ctx, i)
      t.stop()._1
    }
    val warm = Timer.start()
    wl.warmUp(ctx)
    val warmS = warm.stop()._1
    val setupS = sessionS + Stats.median(rounds) + warmS
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

    // A traced run first times one untraced pass, the baseline of the
    // tracing-overhead figure, then registers the collectors.
    val baseline = if (o.trace) Some(wl.pass(ctx)) else None
    val collector = if (o.trace) {
      ctx.spans.enabled = true
      Some(Collector.install(ctx.spark, new Collector(Follower.SourceMarker)))
    } else None
    val codegen0 = Layers.codegenCompiles()
    val gc0 = Layers.gcMs()
    val t = Timer.start()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (passes.size < wl.minPasses || t.stop()._1 < o.seconds) passes += wl.pass(ctx)
    val (measuredS, measuredCpuS) = t.stop()
    val codegen = Layers.codegenCompiles() - codegen0
    val gcMs = Layers.gcMs() - gc0
    collector.foreach(_ => org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext))

    val ops = passes.flatMap(_.ops).toSeq
    val failed = ops.count(_.err.isDefined)
    val lat = wl.latencies(ops.filter(_.err.isEmpty))
    val p50 = if (lat.isEmpty) Double.NaN else Stats.median(lat)
    val tail = if (lat.isEmpty) Stats.Tail(0.5, Double.NaN, 0) else Stats.tail(lat)
    val throughput = Stats.median(passes.map(_.rate).toSeq)
    val rssMb = Env.peakRssMb()

    val metrics = collector match {
      case None => Contract.pick(contract.endToEnd, Map(
        "setup_s" -> setupS,
        "op_p50_s" -> p50,
        "throughput_per_s" -> throughput))
      case Some(c) =>
        val base = baseline.get
        val baseP50 = Stats.median(wl.latencies(base.ops.filter(_.err.isEmpty)))
        Contract.pick(contract.perLayer,
          Layers.report(ctx.spans, c, ops, cores, codegen, gcMs, jitMs, wl.layerExtras) ++
            Map("bench.trace_overhead_s" -> (p50 - baseP50), "jvm.peak_rss_mb" -> rssMb))
    }
    val detail = scala.collection.immutable.ListMap(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
      "env_start" -> env0, "env_end" -> Env.sample(),
      "session_s" -> sessionS, "prepare_s" -> rounds, "warmup_s" -> warmS,
      "jit_ms_setup" -> jitMs, "peak_rss_mb" -> rssMb,
      "passes" -> passes.size, "measured_s" -> measuredS, "measured_cpu_s" -> measuredCpuS,
      "latency" -> Map("p50" -> p50, "n" -> lat.size, "tail_p" -> tail.p,
        "tail" -> tail.value),
      "ops" -> ops.map(op => scala.collection.immutable.ListMap("kind" -> op.kind,
        "name" -> op.name, "wall" -> op.wall, "cpu" -> op.cpu, "rows" -> op.rows,
        "err" -> op.err)))
    Env.record(o.work, detail, ctx.spans)
    ops.flatMap(op => op.err.map(e => s"FAILED ${op.name}: $e")).foreach(System.err.println)
    println(Json.render(Map("detail" -> (detail - "ops"))))
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> metrics.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(scala.collection.immutable.ListMap))))
    0
  }
}
