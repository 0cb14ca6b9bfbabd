package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, each read where its layer's work
  * happens. `BENCHMARK.json` names them and their units; the table in
  * `perfbench/config.json` names the end-to-end metric each one should
  * move. A metric whose layer a workload never enters reads 0.
  */
object Layers {
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def mean(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  /** Per-layer values over the measured ops. `ops` are the traced
    * passes' ops; spans and collector records cover exactly those passes.
    * The two follower-only values read 0 here; the follower's `extras`
    * replace them.
    */
  def report(spans: Spans, c: Collector, ops: Seq[Op], cores: Int, codegen: Long,
             gcMs: Long, jitMs: Double, extras: Map[String, Double]): Map[String, Double] = {
    val jobs = c.jobs.asScala.toSeq.filter(_.endMs >= 0)
    val execs = c.execs.asScala.toSeq.filter(_.endMs >= 0)
    val stages = c.stages.asScala.map(s => s.id -> s).toMap
    val plans = c.plans.asScala.map(p => p.queryId -> p).toMap
    val attr = new Attribution(spans.all.toSeq, jobs, execs)
    val timed = ops.filter(o => o.id != 0 && o.err.isEmpty)
    val opIds = timed.map(_.id).toSet
    val roots = spans.all.filter(s => s.parent == 0 && opIds(s.op) &&
      s.name != "graft.caches.clear").toSeq
    val clears = spans.all.filter(s => s.parent == 0 && opIds(s.op) &&
      s.name == "graft.caches.clear").toSeq
    val rootsOf = (kind: String) => roots.filter(_.name == kind)
    val epochs = rootsOf("streaming.epoch")
    val backfills = rootsOf("streaming.backfill")
    val polls = epochs ++ backfills
    val queries = rootsOf("queries.op")
    val ranIds = timed.filter(o => o.kind == "epoch").map(_.id).toSet
    val ranEpochs = epochs.filter(s => ranIds(s.op))

    def execsIn(rs: Seq[Span]) = rs.flatMap(attr.execsUnder)
    def layerS(rs: Seq[Span], layer: String) =
      execsIn(rs).filter(e => CallSites.layerOf(e.callSite).contains(layer))
        .map(e => (e.endMs - e.startMs) / 1e3).sum
    def spanS(rs: Seq[Span], name: String) =
      rs.flatMap(spans.subtree).filter(_.name == name).map(_.ms / 1e3).sum
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val rowsSynced = timed.filter(o => o.kind == "epoch").map(_.rows).sum.toDouble

    val epochSelf = ranEpochs.map { e =>
      val inner = spans.children(e).map(s => (s.startMs.toLong, s.endMs.toLong)) ++
        attr.execsUnder(e).map(x => (x.startMs, x.endMs))
      Stats.selfTime(e.startMs.toLong, e.endMs.toLong, inner) / 1e3
    }
    val mergeExecs = execsIn(ranEpochs).filter(e =>
      CallSites.layerOf(e.callSite).exists(_.startsWith("operators.merge.")))
    val mergeJobs = jobs.filter(j => mergeExecs.exists(_.id == j.execId))
    val opJobs = jobs.filter(j => opIds(j.op))
    val opStages = stagesOf(opJobs)
    val nOps = roots.size
    val idle = opJobs.map { j =>
      cores * (j.endMs - j.startMs) / 1e3 - stagesOf(Seq(j)).map(_.runMs).sum / 1e3
    }.sum
    val planMs = roots.flatMap(attr.execsUnder).flatMap(e => plans.get(e.queryId)).map(_.planMs).sum
    val scanned = execsIn(ranEpochs).flatMap(e => plans.get(e.queryId)).map(_.sourceRows).sum
    val batches = c.batches.asScala.toSeq

    Map[String, Double](
      "streaming.poll_s" -> mean(layerS(polls, "streaming.poll"), polls.size),
      "streaming.epoch.self_s" -> mean(epochSelf.sum, epochSelf.size),
      "streaming.epoch.jobs" -> mean(ranEpochs.map(attr.jobsUnder(_).size).sum, ranEpochs.size),
      "streaming.microbatch_s" -> mean(batches.map(_.ms / 1e3).sum, batches.size),
      "operators.merge.delta_append_s" ->
        mean(layerS(backfills, "operators.merge.delta_append"), backfills.size),
      "operators.merge.partitioned_upsert_s" ->
        mean(layerS(backfills, "operators.merge.partitioned_upsert"), backfills.size),
      "operators.merge.fold_s" -> mean(layerS(ranEpochs, "operators.merge.fold"), ranEpochs.size),
      "operators.merge.snapshot_upsert_s" ->
        mean(layerS(ranEpochs, "operators.merge.snapshot_upsert"), ranEpochs.size),
      "operators.merge.rows_written_per_row_synced" ->
        (if (rowsSynced == 0) 0.0 else stagesOf(mergeJobs).map(_.recordsWritten).sum / rowsSynced),
      "operators.merge.sink_bytes_per_row" -> 0.0,
      "operators.graph_metrics.pagerank_s" ->
        mean(spanS(ranEpochs, "operators.graph_metrics.pagerank"), ranEpochs.size),
      "operators.graph_metrics.betweenness_s" ->
        mean(spanS(ranEpochs, "operators.graph_metrics.betweenness"), ranEpochs.size),
      "operators.graph_metrics.hits_s" ->
        mean(spanS(ranEpochs, "operators.graph_metrics.hits"), ranEpochs.size),
      "pipelines.witnesses_s" -> mean(spanS(ranEpochs, "pipelines.witnesses"), ranEpochs.size),
      "pipelines.city_edges_s" -> mean(spanS(ranEpochs, "pipelines.city_edges"), ranEpochs.size),
      "pipelines.merge_metrics_s" ->
        mean(spanS(ranEpochs, "pipelines.merge_metrics"), ranEpochs.size),
      "pipelines.witness_keep_ratio" -> 0.0,
      "sources.rows_scanned_per_row_synced" ->
        (if (rowsSynced == 0) 0.0 else scanned / rowsSynced),
      "queries.build_s" -> mean(spanS(queries, "queries.build"), queries.size),
      "queries.action_s" -> mean(spanS(queries, "queries.action"), queries.size),
      "graft.caches.clear_s" -> mean(clears.map(_.ms / 1e3).sum, queries.size),
      "spark.plan_s" -> mean(planMs / 1e3, nOps),
      "spark.codegen_compiles" -> mean(codegen.toDouble, nOps),
      "spark.jobs_per_op" -> mean(opJobs.size, nOps),
      "spark.idle_core_s" -> mean(idle, nOps),
      "spark.task_s" -> mean(opStages.map(_.runMs).sum / 1e3, nOps),
      "spark.gc_s" -> mean(gcMs / 1e3, nOps),
      "spark.shuffle_read_bytes" -> mean(opStages.map(_.shuffleRead).sum.toDouble, nOps),
      "spark.shuffle_write_bytes" -> mean(opStages.map(_.shuffleWrite).sum.toDouble, nOps),
      "spark.spill_bytes" -> mean(opStages.map(_.spill).sum.toDouble, nOps),
      "jvm.jit_ms" -> jitMs) ++ extras
  }
}
