package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches
import graft.operators.{GraphMetrics, Merge}
import graft.pipelines.Collections
import graft.sources.Tables
import graft.streaming.Incremental
import graft.streaming.Incremental.{DynamicCollection, SnapshotCollection}

/** The follower workload: [[Incremental.Driver]] backfills the first
  * events in chunks, then follows a source that grows by seeded
  * increments, one epoch per poll. Height is `event_id`. Each epoch feeds
  * a delta-log payments sink, a height-bucketed receipts sink, and two
  * snapshot refreshes: balances, and hotspots — the witness pipeline
  * (receipts → witnesses → 5-day retention → city graph → per-city
  * PageRank/betweenness/HITS → metric write-back).
  */
final class Follower(sizes: Follower.Sizes, warm: Follower.Sizes) extends Workload {
  import Follower._

  val name = "follower"
  private var input: String = _
  private var warmInput: String = _
  private var increments: Seq[Long] = Nil
  private var passNo = 0
  private var extras = Map.empty[String, Double]

  override def layerExtras: Map[String, Double] = extras

  def prepare(ctx: Ctx, round: Int): Unit = {
    val base = s"${ctx.work}/follower/input-$round"
    input = s"$base/full"
    warmInput = s"$base/warm"
    writeEvents(ctx.spark, sizes, input)
    writeEvents(ctx.spark, warm, warmInput)
    increments = Follower.increments(ctx.seed, sizes)
  }

  def warmUp(ctx: Ctx): Unit =
    runPass(ctx, warm, warmInput, Follower.increments(ctx.seed, warm), check = false)

  def pass(ctx: Ctx): Pass = runPass(ctx, sizes, input, increments, check = true)

  def latencies(ops: Seq[Op]): Seq[Double] = ops.filter(_.kind == "epoch").map(_.wall)

  /** Backfill, then one epoch per increment; with `check`, the sinks'
    * end state is verified. Throughput is the backfill's rows per second.
    */
  private def runPass(ctx: Ctx, sz: Sizes, in: String, incs: Seq[Long],
                      check: Boolean): Pass = {
    val spark = ctx.spark
    passNo += 1
    val dir = s"${ctx.work}/follower/pass-$passNo"
    val prev = new org.apache.hadoop.fs.Path(s"${ctx.work}/follower/pass-${passNo - 1}")
    prev.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(prev, true)

    var cap = sz.backfill
    val events = Tables(spark, in, "events")
    val source = () => events.filter(col("event_id") < cap)
    var opId = 0L
    // Stages are materialized only in a traced run, whose spans time them;
    // an untraced run times the program's lazy pipeline as it is.
    val stage = new Stager(ctx.spans, () => opId, materialize = ctx.spans.enabled)
    val sinks = s"$dir/sinks"
    val driver = new Incremental.Driver(spark, source, "event_id", s"$dir/state", sinks,
      chunkSize = sz.chunk, minDiff = sz.minDiff,
      dynamics = Seq(payments, receipts(sz.bucket)),
      snapshots = Seq(balances(source),
        SnapshotCollection("hotspots",
          s => hotspotDocs(s.read.parquet(s"$sinks/receipts"), sz.retainDays, stage),
          key = "_key", tiebreak = "address")))

    var mark = 0L
    val ops = (None +: incs.map(Some(_))).map { inc =>
      inc.foreach(cap += _)
      opId = ctx.nextOp()
      val kind0 = if (inc.isEmpty) "backfill" else "epoch"
      val tm = Timer.start()
      val r = ctx.spans(s"streaming.$kind0", opId)(driver.runEpoch())
      val (wall, cpu) = tm.stop()
      stage.release()
      Caches.clearAll(spark)
      val shouldRun = cap - mark >= sz.minDiff
      val err =
        if (r.ran != shouldRun) Some(s"epoch to $cap: ran=${r.ran}, expected ran=$shouldRun")
        else None
      if (r.ran) mark = r.to
      System.err.println(f"[perfbench] $kind0%s to=$cap%d ran=${r.ran}%s wall=$wall%.3f cpu=$cpu%.3f")
      Op(if (r.ran) kind0 else "poll", s"${kind0}_to_$cap", opId, wall, cpu, err,
        rows = if (r.ran) r.to - r.from else 0L)
    }
    val backfill = ops.head
    val sinkPath = new org.apache.hadoop.fs.Path(sinks)
    extras = Map(
      "operators.merge.sink_bytes_per_row" -> sinkPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).getContentSummary(sinkPath).getLength
        .toDouble / sz.total,
      "pipelines.witness_keep_ratio" ->
        (if (stage.witnessRows == 0) 0.0 else stage.keptRows.toDouble / stage.witnessRows))
    Pass(ops ++ (if (check) checkSinks(spark, driver, source, sz) else Nil),
      backfill.rows / backfill.wall)
  }

  /** The idempotence contract: after the last epoch every sink equals one
    * direct scan of the final source, and the hotspot documents equal a
    * one-shot refresh (on its keys; documents of hotspots that left the
    * retention window stay, as upserts leave them).
    */
  private def checkSinks(spark: SparkSession, driver: Incremental.Driver,
                    source: () => DataFrame, sz: Sizes): Seq[Op] = {
    def sink(n: String) = spark.read.parquet(driver.sinkPath(n))
    val recv = receipts(sz.bucket).extract(source())
    // Materialized: the same documents, in a tenth of the lazy plan's time.
    val oneShotStages = new Stager(new Spans(None, false), () => 0L, materialize = true)
    val oneShot = hotspotDocs(recv, sz.retainDays, oneShotStages)
    val cases: Seq[(String, () => (DataFrame, DataFrame))] = Seq(
      "payments" -> (() => (sink("payments"), payments.extract(source()))),
      "receipts" -> (() => (sink("receipts").select(recv.columns.toIndexedSeq.map(col): _*), recv)),
      "balances" -> (() => (sink("balances"), balances(source).build(spark))),
      "hotspots" -> (() => (sink("hotspots").join(oneShot.select("_key"), Seq("_key"), "left_semi"),
        oneShot)))
    val res = cases.map { case (n, pair) =>
      val t = Timer.start()
      val err =
        try {
          val (got, want) = pair()
          val (g, w) = (Fingerprint.of(got), Fingerprint.of(want))
          if (g == w && g.rows > 0) None else Some(s"sink $n: got $g, direct scan $w")
        } catch { case e: Throwable => Some(s"sink $n: $e") }
      val (wall, cpu) = t.stop()
      Op("check", s"check_$n", 0L, wall, cpu, err)
    }
    oneShotStages.release()
    Caches.clearAll(spark)
    res
  }
}

object Follower {
  final case class Sizes(total: Long, backfill: Long, chunk: Long, epochs: Int, minDiff: Long,
                         bucket: Long, users: Long, days: Long,
                         retainDays: Long)

  /** Path fragment of the follower's source table; scans under it count
    * as source rows scanned.
    */
  val SourceMarker = "/follower/input-"

  private val DayUs = 86400L * 1000000L
  private val T0Us = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  /** Deterministic events, event_id 0 until total: ids ascend with time
    * over `days` days; user, value and `k` are hashes of the id.
    */
  def writeEvents(spark: SparkSession, sz: Sizes, dir: String): Unit = {
    def h(salt: Int, m: Long) = pmod(xxhash64(col("id"), lit(salt)), lit(m))
    val stepUs = sz.days * DayUs / sz.total
    spark.range(0, sz.total, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(T0Us) + col("id") * stepUs + h(1, stepUs)).as("ts"),
      h(2, sz.users).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("buy"), lit("error")),
        (h(3, 4) + 1).cast("int")).as("event_type"),
      (h(4, 100000) / 100.0).as("value"),
      to_json(struct(h(5, 200).as("k"))).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The seeded poll schedule: `epochs` increments summing to
    * `total - backfill`. One poll in five is quiet — under half of minDiff,
    * so it gates out — at seeded positions, never last, so the final epoch
    * syncs the whole source. The others share the rest with seeded
    * weights within ±25% of even.
    */
  def increments(seed: Long, sz: Sizes): Seq[Long] = {
    val n = sz.epochs
    require(n >= 2, "need at least two epochs")
    val rnd = new scala.util.Random(seed)
    val quietAt = rnd.shuffle((0 until n - 1).toList).take(math.max(1, n / 5)).toSet
    val quiet = (0 until n).map(quietAt)
    val small = quiet.map(q => if (q) rnd.nextInt((sz.minDiff / 2).toInt).toLong else 0L)
    val weights = quiet.map(q => if (q) 0.0 else 0.75 + rnd.nextDouble() / 2)
    val rest = sz.total - sz.backfill - small.sum
    val incs = weights.zip(small).map { case (w, s) => s + (rest * w / weights.sum).toLong }
    val out = incs.updated(n - 1, incs(n - 1) + sz.total - sz.backfill - incs.sum)
    require(out.zip(quiet).forall { case (v, q) => q || v >= sz.minDiff },
      s"increments below minDiff for $sz")
    out
  }

  val payments: DynamicCollection = DynamicCollection("payments",
    chunk => chunk.select(
      md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
      col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
      col("event_id")),
    key = "_key", tiebreak = "event_id")

  /** Helium-shaped poc_receipts_v1 transactions rendered per event, kept
    * in height buckets (the steady-state sink).
    */
  def receipts(bucket: Long): DynamicCollection = DynamicCollection("receipts",
    chunk => {
      val ev = chunk.withColumn("ts_us", expr("ts div 1000"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.select(md5(col("event_id").cast("string")).as("_key"), col("event_id"),
        lit("poc_receipts_v1").as("type"),
        to_json(struct(array(struct(
          concat(lit("u"), col("user_id")).as("challengee"),
          array(struct(
            concat(lit("g"), col("k") % 20).as("gateway"),
            (col("k") - 100).cast("long").as("signal"),
            col("value").as("snr"),
            (col("k") % 10 =!= 0).as("is_valid"),
            col("ts_us").as("timestamp"))).as("witnesses"))).as("path"))).as("fields"),
        col("ts_us").as("time"))
    },
    key = "_key", tiebreak = "event_id", heightBucket = Some(bucket))

  def balances(source: () => DataFrame): SnapshotCollection = SnapshotCollection("balances",
    _ => graft.operators.Dedup.newestWins(source().withColumn("ts_us", expr("ts div 1000")),
        Seq(col("user_id")), col("ts_us"), col("event_id"))
      .select(col("user_id").as("_key"),
        round(col("value") * 100).cast("long").as("balance_c"), col("event_id")),
    key = "_key", tiebreak = "event_id")

  /** Runs each pipeline stage inside a span. With `materialize` (traced
    * runs) it checkpoints each stage eagerly, so the stage's own time is
    * measurable, and counts the witness rows retention keeps; [[release]]
    * frees the checkpointed blocks. Without it the pipeline stays lazy, as
    * the program runs it, and nothing is counted.
    */
  final class Stager(spans: Spans, op: () => Long, val materialize: Boolean) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var witnessRows = 0L
    var keptRows = 0L

    def hold(df: DataFrame): DataFrame =
      if (!materialize) df
      else {
        val m = df.localCheckpoint(true)
        held += m
        m
      }

    def apply(name: String)(df: => DataFrame): DataFrame = spans(name, op())(hold(df))

    def release(): Unit = { held.foreach(_.unpersist(false)); held.clear() }
  }

  /** E3 over witness receipts, SparkEntry.entry's stages: witnesses →
    * retain the trailing `retainDays` → hotspot docs → city graph →
    * per-city metrics (own city only) → merged documents.
    */
  def hotspotDocs(receipts: DataFrame, retainDays: Long, stage: Stager): DataFrame = {
    val kept = stage("pipelines.witnesses") {
      val edges = stage.hold(
        Collections.witnesses(receipts, minTime = 0L, maxTime = Long.MaxValue))
      // The trailing window needs the newest receipt time, an action the
      // pipeline makes either way; the row count rides along when counting.
      val r = edges.agg(max(col("time")),
        (if (stage.materialize) Seq(count(lit(1))) else Nil): _*).head()
      val cutoff = if (r.isNullAt(0)) 0L else r.getLong(0) - retainDays * DayUs
      if (stage.materialize) stage.witnessRows += r.getLong(1)
      Merge.retain(edges.filter(col("is_valid")), "time", cutoff)
    }
    if (stage.materialize) stage.keptRows += kept.count()
    val (hotspots, graph) = {
      val addrs = kept
        .select(element_at(split(col("_from"), "/"), -1).as("address"))
        .unionByName(kept.select(element_at(split(col("_to"), "/"), -1).as("address")))
        .distinct()
      val (lat, lng) = graft.functions.Geo.cellToLatLng(md5(col("address")))
      val hs = stage("pipelines.city_edges")(addrs.select(col("address"),
        struct((crc32(col("address")) % 5).cast("string").as("city_key")).as("location_details"),
        graft.functions.Geo.geoJsonPoint(lat, lng).as("geo_location")))
      (hs, stage("pipelines.city_edges")(Collections.cityGraphEdges(hs, kept)
        .withColumn("w", col("w") + 1)))
    }
    val ownCity = hotspots.select(col("address").as("node"),
      col("location_details.city_key").cast("string").as("city"))
    def own(m: DataFrame) = m.join(ownCity, Seq("city", "node"))
    val pr = stage("operators.graph_metrics.pagerank")(
      own(GraphMetrics.perCityPagerank(graph, minEdges = 2))
        .select(col("node"), col("pr_pm").as("value_pm"), col("pr_norm_pm").as("norm_pm")))
    val bc = stage("operators.graph_metrics.betweenness")(
      own(GraphMetrics.perCityBetweenness(graph, minEdges = 2))
        .select(col("node"), col("bc_pm").as("value_pm"), col("bc_norm_pm").as("norm_pm")))
    val ha = stage("operators.graph_metrics.hits")(
      own(GraphMetrics.perCityHits(graph, minEdges = 2))
        .select(col("node"), col("hub_pm"), col("auth_pm")))
    stage("pipelines.merge_metrics")(
      Collections.mergeMetrics(hotspots.withColumn("_key", col("address")), pr, bc, Some(ha)))
  }
}
