package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.ExecutedCommandExec

/** Dev probe — not part of the driver contract. One main, three
  * subcommands (`runMain graft.Probe <jit|plan|scale> [name…]`); the
  * subcommand and every name are checked before a session starts:
  *
  *  - `jit [query…]` (default: every query): whole-stage-codegen methods
  *    past HotSpot's 8000-byte `DontCompileHugeMethods` limit run in the
  *    bytecode INTERPRETER with no warning from Spark — the silent 10–35×
  *    slowdown that hit the PQ encode path (SCALE.md's PQ section).
  *    Compiles every codegen subtree of each query at sf0.001 and prints
  *    one JSON row per query with its largest method. Run after adding
  *    expression-heavy projections.
  *  - `plan [query…]` (default: [[planDefaults]]): one formatted explain
  *    per query at sf0.01; prints its headline lines (scans, pushed
  *    filters, joins, exchanges, codegen stages) and writes the full dump
  *    to /tmp/planfull_<query>.txt.
  *  - `scale [section…]` (default: all): the [[ScaleProbe]] sections at
  *    sf0.1 on SPARK_GRAFT_CPUS cores, one JSON row per measurement.
  *
  * Per-query timing (wall, CPU, JIT ms, codegen compiles) is
  * `graft.Bench <query…>`.
  */
object Probe {

  final case class Cmd(sub: String, names: Seq[String])

  /** `plan`'s default audit list: the queries whose plan shape (pushdown,
    * broadcast vs shuffle join, exchange count) carries a claim. */
  val planDefaults: Seq[String] = Seq(
    "q03_filter_in_projection", "q04_join_left_enrich", "q05_join_inner_agg",
    "q12_geo_haversine", "q16_window_rewards_5d", "q30_cosine_topk",
    "q22_witness_explode_pipeline", "q44_asof_join", "q45_range_join",
    "q48_sequence_packing", "q51_ann_multiprobe", "q80_pq_adc_topk",
    "q82_cms_heavy_hitters", "q85_bloom_contamination",
    "q100_span_dedup", "q101_jsonlines_roundtrip", "q103_lm_fluency",
    "q120_components_incremental", "q121_image_neardup", "q122_funnel4",
    "q125_chunk_windows", "q127_sft_render", "q128_unigram_segment",
    "q129_retrieval_index", "q130_cdc_chunks", "q132_dataset_card",
    "q135_audio_neardup", "q137_video_frames", "q138_video_neardup", "q139_video_scenes",
    "q157_bm25_topk", "q161_hybrid_rrf", "q162_bm25_registry",
    "q184_wl_kernel", "q185_curriculum_order", "q187_curriculum_extend",
    "q188_curriculum_registry", "q190_curriculum_shards",
    "q191_dedup_agreement", "q192_global_shuffle", "q193_mixing_quality",
    "q194_ltr_features", "q195_ltr_registry", "q196_late_arrivals",
    "q197_quality_calibration", "q198_pack_nostraddle",
    "q200_ordered_pipeline", "q202_retrieval_serve")

  /** A subcommand: the names it accepts, its default names, its session
    * cores and scale factor, and its body. */
  private final case class Sub(known: Seq[String], defaults: Seq[String],
      cores: String, sfDir: String,
      run: (SparkSession, String, Seq[String]) => Unit)

  private val subs: Map[String, Sub] = {
    val queries = SparkEntry.queries.keys.toSeq.sorted
    Map(
      "jit" -> Sub(queries, queries, "4", "/root/testdata/sf0.001", jit),
      "plan" -> Sub(queries, planDefaults, "8", "/root/testdata/sf0.01", plan),
      "scale" -> Sub(ScaleProbe.sections, ScaleProbe.sections,
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "/root/testdata/sf0.1",
        (spark, d, names) => ScaleProbe.run(spark, d, names.toSet)))
  }

  /** Checks the subcommand and every name; no names means the defaults. */
  private[graft] def parse(args: Seq[String]): Either[String, Cmd] =
    args.headOption.flatMap(subs.get) match {
      case None =>
        Left(s"usage: Probe <${subs.keys.toSeq.sorted.mkString("|")}> [name…]")
      case Some(sub) =>
        val unknown = args.tail.filterNot(sub.known.toSet)
        if (unknown.nonEmpty)
          Left(s"unknown ${args.head} name(s): ${unknown.mkString(", ")}")
        else Right(Cmd(args.head, if (args.tail.isEmpty) sub.defaults else args.tail))
    }

  def main(args: Array[String]): Unit = {
    val Cmd(name, names) =
      parse(args.toSeq).fold(e => throw new IllegalArgumentException(e), identity)
    val sub = subs(name)
    val spark = GraftSession.local(sub.cores)
    try sub.run(spark, sub.sfDir, names) finally spark.stop()
  }

  private def jit(spark: SparkSession, d: String, names: Seq[String]): Unit = {
    // AQE wraps stages lazily and hides WholeStageCodegen nodes until
    // execution; the audit only needs the generated code, so plan
    // statically. Codegen content is identical either way.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def walk(p: SparkPlan): Seq[WholeStageCodegenExec] = {
      // subquery plans (scalar subqueries, the bloom gates) are
      // separate trees reachable only via subqueries — codegen in
      // them must not escape the audit
      val inSubqueries = p.subqueries.flatMap(walk)
      (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case w: WholeStageCodegenExec => w +: w.children.flatMap(walk)
        case q: QueryStageExec => walk(q.plan)
        case _: ExecutedCommandExec => Nil
        case other => other.children.flatMap(walk)
      }) ++ inSubqueries
    }
    var worst = 0
    for (name <- names) {
      val row = try {
        val sizes = walk(SparkEntry.queries(name)(spark, d)
          .queryExecution.executedPlan)
          .map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
        val top = if (sizes.isEmpty) 0 else sizes.max
        worst = math.max(worst, top)
        s""""max_wscg_method_bytes":$top,"past_limit":${top >= 8000}"""
      } catch {
        case e: Throwable => s""""error":${Bench.jstr(String.valueOf(e.getMessage))}"""
      }
      println(s"""{"probe":"jit","query":${Bench.jstr(name)},$row}""")
      Caches.clearAll(spark)
    }
    println(s"""{"probe":"jit","queries":${names.size},"worst_bytes":$worst,"limit_bytes":8000}""")
  }

  private val headline = Seq("PushedFilters", "ReadSchema", "Scan parquet",
    "BroadcastHashJoin", "SortMergeJoin", "WholeStageCodegen", "Exchange",
    "CartesianProduct", "BroadcastNestedLoopJoin")

  private def plan(spark: SparkSession, d: String, names: Seq[String]): Unit =
    for (name <- names) {
      val plan = SparkEntry.queries(name)(spark, d).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      println(s"===== $name =====")
      plan.linesIterator.filter(l => headline.exists(l.contains))
        .foreach(l => println(l.trim.take(160)))
      val p = java.nio.file.Paths.get(s"/tmp/planfull_$name.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"wrote $p")
      Caches.clearAll(spark)
    }
}
