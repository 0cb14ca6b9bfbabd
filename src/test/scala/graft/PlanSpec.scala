package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the shuffle counts and join choices the
  * perf work established, pinned so a refactor can't silently reintroduce
  * an exchange (counted on the AQE-finalized executed plan at sf0.001).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def executed(df: DataFrame) = {
    df.foreach(_ => ()) // force execution so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  private def countShuffles(df: DataFrame): Int = shufflesIn(executed(df))

  private def shufflesIn(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: ShuffleExchangeLike => 1 + s.children.map(walk).sum
      // AQE stage reuse is a RUNTIME race: when two branches carry
      // canonically-equal shuffles, whichever stage materializes first
      // gets reused by the other — plan-identical runs count 5 or 4
      // depending on scheduling (q113 flipped only after a long warm
      // session, r16). The pin is about STRUCTURAL shuffle boundaries,
      // so a reused shuffle counts like the shuffle it replaces —
      // INCLUDING any shuffles nested inside the replaced subtree (a
      // bare 1 would still race whenever the shared stage itself
      // contains an exchange, r16 advice).
      case r: ReusedExchangeExec if r.child.isInstanceOf[ShuffleExchangeLike] =>
        walk(r.child)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  private def planString(df: DataFrame): String = executed(df).toString

  private def run(name: String) = SparkEntry.queries(name)(spark, d)

  test("q04 dim enrichment: broadcast-only, zero shuffles") {
    assert(countShuffles(run("q04_join_left_enrich")) == 0)
  }

  test("q22 witness pipeline: exactly 2 shuffles (rebalance + render agg); the dedup window adds none") {
    assert(countShuffles(run("q22_witness_explode_pipeline")) == 2)
  }

  test("q44 as-of join: exactly 1 shuffle (the union-window)") {
    assert(countShuffles(run("q44_asof_join")) == 1)
  }

  test("q185 curriculum order: no global window ever touches data rows") {
    // the operator's whole point: per-source ranks are (source, bucket)
    // windows, the global position is closed-form — the ONLY permissible
    // empty-partition windows run over the tiny bucket/stat aggregates
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = run("q185_curriculum_order").queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.exists(_.partitionSpec.nonEmpty))
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"global window over non-aggregated input:\n$w")
    }
  }

  test("registry-wide: partition-less windows only where explicitly justified") {
    // r15 verdict: q73 selected its top-N vocabulary with a global
    // row_number window — a single-partition sort of the whole
    // distinct-term table. The q185-style "has an Aggregate beneath"
    // rule would NOT have caught it (the term table IS an aggregate, just
    // an unbounded one), so the registry-wide pin is an explicit
    // allowlist: any query whose optimized plan contains a partition-less
    // logical Window must be named here with a boundedness justification.
    // A new global window anywhere else fails this test and forces the
    // review q73 never got.
    // Each query's plan comes from ContractSpec's shared sweep: one
    // build per suite run.
    val allowed: Map[String, String] = Map(
      // Sampling's apportionment windows run over the per-group count
      // table (languages/domains/vocab — bounded, and since r16 ENFORCED
      // by Sampling.MaxFoldGroups raise_error in the same plan)
      "q90_stratified_sample" -> "largest-remainder alloc over |strata| rows",
      "q123_temperature_resample" -> "apportionment over |languages| rows",
      "q124_pipeline_v4" -> "composes q123's resample",
      "q126_epoch_allocation" -> "cumulative share over |domains| rows",
      "q181_negative_sampling" -> "cumulative share over |vocab| rows (bounded)",
      // Ranks.shuffleRank's bucketed decomposition: the ONLY global
      // window is over the nBuckets-row bucket aggregate (64 rows)
      "q192_global_shuffle" -> "bucket-offset window over nBuckets rows",
      "q193_mixing_quality" -> "composes q192/q185 (same bucket windows)")
    val offenders = ContractSpec.runs.flatMap { case (name, run) =>
      run.globalWindows match {
        // a query whose function or plan throws is an offender too
        case Left(err) => Some(s"$name ($err)")
        case Right(globals) =>
          if (globals.isEmpty) None
          else if (!allowed.contains(name)) Some(s"$name (un-allowlisted)")
          // allowlisted ≠ unguarded: the window input must still be an
          // aggregate subtree (a raw-table global window is never OK)
          else if (globals.contains(false))
            Some(s"$name (global window over non-aggregated input)")
          else None
      }
    }
    assert(offenders.isEmpty,
      s"partition-less Window outside the justified allowlist (fix or " +
        s"justify): " + offenders.mkString(", "))
  }

  test("q48 sequence packing: exactly 1 shuffle (the shard window)") {
    assert(countShuffles(run("q48_sequence_packing")) == 1)
  }

  test("q45 range join: bin equi-join, never a nested-loop or cartesian product") {
    val plan = planString(run("q45_range_join"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q03 pushdown: both predicates reach the parquet scan") {
    val plan = planString(run("q03_filter_in_projection"))
    assert(plan.contains("PushedFilters") && plan.contains("o_orderpriority"))
  }

  test("q59 sessionize: exactly 1 shuffle (windows + rollup share the user key)") {
    assert(countShuffles(run("q59_sessionize")) == 1)
  }

  test("q139/q141 video scenes/keyframes: 2 shuffles (rebalance + video key); lag, cumsum, rollup share one clustering") {
    assert(countShuffles(run("q139_video_scenes")) == 2)
    assert(countShuffles(run("q141_video_keyframes")) == 2)
  }

  test("q142 video pipeline v6: agg-twin form — keyframes cached once (no double decode), 2 post-cache exchanges, no rank window") {
    // r14: the global first-wins became the map-side-combinable agg twin
    // (kfnovel probe). Structure pinned: (a) the keyframe subtree is
    // CACHED — owners and the scene rollup both read it, and without the
    // cache the twin would decode every video twice; (b) only the two
    // partial-agg exchanges remain visible past the cache (the rebalance
    // + video-key exchanges live inside the cached subtree); (c) the
    // fingerprint rank WINDOW — single-partition on a mega-cluster — is
    // gone from the plan entirely.
    val df = run("q142_video_pipeline_v6")
    val n = countShuffles(df)
    val plan = planString(df)
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      "keyframes must be read from cache, not decoded per consumer")
    assert(n == 2, s"expected 2 post-cache exchanges, got $n")
    assert(!plan.contains("row_number"),
      "the fingerprint rank window must stay gone")
  }

  test("q143 audio segments: 2 shuffles (rebalance + clip key); islands and rollup share one clustering") {
    assert(countShuffles(run("q143_audio_segments")) == 2)
  }

  test("q138/q140 video near-dup: banded equi-join, never all-pairs") {
    Seq("q138_video_neardup", "q140_video_neardup_shifted").foreach { q =>
      val plan = planString(run(q))
      assert(!plan.contains("CartesianProduct"), q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("q63 quantiles: one data shuffle (rank/count windows share the group key)") {
    // the second exchange is the 5-row post-window rollup — constant-size
    assert(countShuffles(run("q63_length_quantiles")) <= 2)
  }

  test("q67 simhash pairs: banded equi-join, never all-pairs") {
    val plan = planString(run("q67_simhash_pairs"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q61 contamination: shingle-keyed equi-join, never doc×doc") {
    val plan = planString(run("q61_contamination"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q85 bloom contamination: gate is a scalar-subquery FILTER, no cartesian") {
    val plan = planString(run("q85_bloom_contamination"))
    assert(plan.contains("might_contain"), "bloom gate missing from the plan")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q82 CMS: partial+final aggregation, no Window, estimate joins broadcast") {
    val plan = planString(run("q82_cms_heavy_hitters"))
    assert(!plan.contains("Window"), "sketch must never need a window")
    assert(plan.contains("BroadcastHashJoin"),
      "the ≤ depth·width sketch side must broadcast into the estimate join")
  }

  test("q83 KMV: the k-bounded aggregator runs partial+final (map-side collapse)") {
    val plan = planString(run("q83_kmv_distinct"))
    // ObjectHashAggregate appears twice per aggregate (partial + final);
    // a sort-based fallback would read SortAggregate
    assert(plan.contains("ObjectHashAggregate"), "typed Aggregator should plan object-hash")
    assert(countShuffles(run("q83_kmv_distinct")) <= 2) // agg + the day rollup reuse
  }

  test("materialized-index search phase never re-encodes and never re-assigns") {
    import org.apache.spark.sql.functions.col
    // the contract that makes q92/q97 the 100 TB path: encode and cell
    // assignment are PAID AT INGEST — the query phase must scan the
    // prebuilt (cell, code) table only. pq_quantize or a corpus-side
    // vec_dot forest in the search plan means the ingest/search split
    // silently regressed to the e2e form.
    val emb = graft.sources.Tables(spark, d, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_planspec_ivfpq").toString
    graft.operators.Similarity.buildIvfPqIndex(emb, cents, "vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val queries = graft.operators.Similarity.ivfAssign(
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30), cents,
        "vec_id", "embedding")
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cell"))
    val search = graft.operators.Similarity.ivfPqTopKIndexed(index, queries, 3)
    val plan = planString(search)
    assert(!plan.contains("pq_quantize"),
      "search phase re-encodes the corpus - the ingest/search split regressed")
    assert(!plan.toLowerCase.contains("cartesianproduct"),
      "cell equi-join degenerated to a cartesian product")
  }

  test("pqEncode plans as ONE quantize call, not an inlined argmin forest") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables(spark, d, "embeddings")
    val plan = planString(
      graft.operators.Similarity.pqEncode(emb, "vec_id", "embedding"))
    assert(plan.contains("pq_quantize"))
    // the packed word is quantized once; nibble extraction references it
    assert("pq_quantize\\(".r.findAllIn(plan).size <= 2,
      "pq_quantize inlined more than once per projection - CollapseProject guard broken")
  }

  test("q111 span corruption: ONE shuffle after the balance rebalance — windows + rollup share the doc clustering") {
    // Tables.balanced adds its round-robin exchange; everything the
    // operator itself does (four windows + the final groupBy) must reuse
    // the single doc-hash exchange.
    assert(countShuffles(run("q111_span_corrupt")) == 2)
  }

  test("q112 example prep: three exchanges (rebalance, doc windows, pack shards); rollups reuse clusterings") {
    // was 4 before Packing bound the shard ATTRIBUTE into its window —
    // the (shard, pack) rollup then reuses the packer's exchange
    assert(countShuffles(run("q112_example_prep")) == 3)
  }

  test("q129 retrieval index: three exchanges (rebalance, fingerprint window, pack shards)") {
    // chunking itself is row-local (ChunkSpec pins zero exchanges); the
    // pipeline pays the chunk_hash dedup window and the packer's shard
    // window, and the (shard, pack) rollup reuses the packer's exchange
    // (the q112 contract).
    assert(countShuffles(run("q129_retrieval_index")) == 3)
  }

  test("q113 substring excision: five exchanges, none keyed by a null-heavy column") {
    // rebalance ×2 (the null-gram tail branch re-scans the source — the
    // price of keeping (L−1)·docs null-keyed rows OUT of the gram
    // shuffle, where they'd all hash to ONE partition), doc lead-window,
    // gram stats, doc coverage; the rebuild reuses the coverage
    // clustering.
    assert(countShuffles(run("q113_substring_excise")) == 5)
  }

  test("q116 cohort retention: user aggregate + cohort rollup only") {
    assert(countShuffles(run("q116_cohort_retention")) <= 3)
  }

  test("q119 three-step funnel: two as-of union-windows, both keyed on user") {
    // each chained as-of is one union-window exchange (the q44 shape);
    // the final rollup groups on the same key. Unchanged by the funnelN
    // re-expression (q122) — the fold must plan exactly like the
    // hand-chained form it replaced.
    assert(countShuffles(run("q119_funnel3")) <= 3)
  }

  test("q122 four-step funnel: at most 4 exchanges, all user-keyed") {
    val df = run("q122_funnel4")
    assert(countShuffles(df) <= 4)
    // every exchange partitions on the user key — the funnelN contract
    // (no hop introduces a differently-keyed shuffle)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(exchanges)
      case q: QueryStageExec => exchanges(q.plan)
      case other => other.children.flatMap(exchanges)
    }
    val exs = exchanges(executed(df))
    assert(exs.nonEmpty)
    exs.foreach { ex =>
      ex.outputPartitioning match {
        case hp: HashPartitioning =>
          assert(hp.expressions.map(_.sql.toLowerCase).exists(_.contains("user")),
            s"exchange not user-keyed: ${hp.expressions.map(_.sql)}")
        case other => fail(s"non-hash exchange in the funnel plan: $other")
      }
    }
  }

  test("q106 BPE segmentation: the kernel path plans no window exchange chain") {
    val df = run("q106_bpe_segment")
    // the kernel call collapses into the distinct-aggregate's result
    // projection (physical toString elides result expressions) — assert
    // it on the optimized logical plan
    assert(df.queryExecution.optimizedPlan.toString.contains("bpe_segment"),
      "segmentation must go through the codegen'd kernel")
    val plan = planString(df)
    assert(!plan.toLowerCase.contains("window"),
      "window operators leaked back into the segmentation path")
  }

  test("q161 hybrid RRF: fused top-k WindowGroupLimit-pruned; the only nested loops are 1-row/constant broadcasts") {
    val plan = planString(run("q161_hybrid_rrf"))
    assert(plan.contains("WindowGroupLimit"),
      "fused rank<=k must prune map-side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q162 registry-served BM25: same plan class as the rebuild (WindowGroupLimit, no cartesian)") {
    val plan = planString(run("q162_bm25_registry"))
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q163 cluster-safe split: label and loser joins broadcast; no cartesian") {
    val plan = planString(run("q163_cluster_safe_split"))
    assert(plan.contains("BroadcastHashJoin"),
      "cluster labels ride a broadcast, not a shuffle of the corpus")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q165 quality dedup: winner/loser joins broadcast; no cartesian") {
    val plan = planString(run("q165_quality_dedup"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q166 retrieval eval: q157's machinery unchanged (WindowGroupLimit), card joins broadcast") {
    val plan = planString(run("q166_retrieval_eval"))
    assert(plan.contains("WindowGroupLimit"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q167 nDCG eval: q157's machinery unchanged; weight joins broadcast; no cartesian") {
    val plan = planString(run("q167_ndcg_eval"))
    assert(plan.contains("WindowGroupLimit"))
    assert(plan.contains("BroadcastHashJoin"),
      "the k-row discount tables must ride broadcasts")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q205 impact merge: per-term top-m stays WindowGroupLimit (rank " +
    "pushed into the shuffle), no cartesian, no global window") {
    val plan = planString(run("q205_impact_merge"))
    assert(plan.contains("WindowGroupLimit"),
      "keepFirstK's per-term top-m must keep the group-limit pushdown")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q168 RM3: both serve passes read ONE cached postings build (no re-tokenize)") {
    // the registered query localCheckpoints (cache lifecycle), which hides
    // its plan — pin the same two-pass composition pre-checkpoint.
    import org.apache.spark.sql.functions.{col, explode, slice, collect_list}
    val docs = graft.sources.Tables(spark, d, "documents")
    val postings = graft.operators.TermStats
      .bm25Postings(docs, "doc_id", "text").persist()
    try {
      val (dfq, dl, corp) = graft.operators.TermStats.bm25Stats(postings)
      val qt = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_id"),
          slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
      val base = graft.operators.TermStats.bm25TopKFromIndex(
        postings, dfq, dl, corp, qt, "q_id", "qt", k = 5)
      val orig = qt.select(col("q_id").as("q"), explode(col("qt")).as("term"))
        .distinct()
      val exp = graft.operators.TermStats
        .rm3ExpansionTerms(base, postings, dfq, corp, orig, m = 3)
      val eqt = orig.unionByName(exp.select(col("q"), col("term")))
        .groupBy(col("q")).agg(collect_list(col("term")).as("qt"))
        .select(col("q").as("q_id"), col("qt"))
      val plan = planString(graft.operators.TermStats.bm25TopKFromIndex(
        postings, dfq, dl, corp, eqt, "q_id", "qt", k = 5))
      assert(plan.contains("InMemoryTableScan"),
        "pass 2 must serve from the cached postings")
      assert(plan.contains("WindowGroupLimit"))
      assert(!plan.contains("CartesianProduct"))
    } finally { postings.unpersist(); () }
  }

  test("q171/q172 graph-shape pair: equi-joins only, no cartesian anywhere in the chain") {
    val p1 = planString(run("q171_bipartite_project"))
    assert(!p1.contains("CartesianProduct"),
      "the shared-neighbor pair join degenerated to a cross product")
    val p2 = planString(run("q172_triangle_stats"))
    assert(!p2.contains("CartesianProduct"),
      "a wedge/close join degenerated to a cross product")
  }

  test("q175 term associations: pair generation is row-local (no positional self-join), n_tok broadcast") {
    val p = planString(run("q175_term_associations"))
    assert(!p.contains("CartesianProduct"),
      "the margin/total join degenerated to a cross product")
    // the 1-row n_tok total rides a broadcast nested-loop, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "n_tok total is not broadcast")
    // windows are array transforms inside the scan stage: exactly the
    // pair-count + unigram-count + two margin-join exchanges, no join
    // keyed on (doc, position)
    assert(!p.toLowerCase.contains("sortmergejoin") ||
      !p.contains("position"),
      "a positional self-join crept into pair generation")
  }

  test("q178 walks: each step is two equi-joins (deg, then (node, idx)) — no cartesian, no neighbor expansion") {
    // the registered query localCheckpoints per step, so audit the step
    // composition pre-checkpoint: one hop over a tiny symmetric graph.
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val p = planString(graft.operators.Walks.randomWalks(
      edges, "src", "dst", walksPerNode = 1, length = 1, seed = 7))
    assert(!p.contains("CartesianProduct"),
      "a walk step degenerated to a cross product")
  }

  test("q169 MMR: candidate vectors come back via a broadcast of the id list, never a corpus self-join") {
    // same reason as q168: the registered query localCheckpoints; pin the
    // pair-build composition pre-checkpoint.
    import org.apache.spark.sql.functions.{broadcast, col}
    val emb = graft.sources.Tables(spark, d, "embeddings")
    val cands = graft.operators.Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
    val vecs = emb.select(col("vec_id").as("cid"), col("embedding").as("v"),
        graft.operators.Similarity.norm(col("embedding")).as("n"))
      .join(broadcast(cands.select(col("cid")).distinct()), Seq("cid"))
    val plan = planString(vecs)
    assert(plan.contains("BroadcastHashJoin"),
      "the |Q|·k id list must broadcast against the corpus scan")
    assert(!plan.contains("CartesianProduct"))
  }

  /** A fresh impact registry over the sf0.001 documents, landed in
    * `epochs` folds (epoch e = the `doc_id % epochs = e` slice).
    */
  private def impactRegistry(tag: String, epochs: Int = 1): String = {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, d, "documents")
    val reg = java.nio.file.Files.createTempDirectory(s"graft-plan-$tag")
      .toFile.getAbsolutePath + "/reg"
    for (e <- 0 until epochs)
      graft.streaming.Incremental.impactBatchIngest(spark, reg,
        docs.filter(col("doc_id") % epochs === e), "doc_id", "text",
        epoch = e.toLong, quantizeDepth = false)
    reg
  }

  /** Root paths of every file scan below `p`. */
  private def fileScans(p: org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan): Seq[String] = p.collect {
    case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      r.relation match {
        case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation =>
          h.location.rootPaths.map(_.toString).mkString(",")
        case _ => ""
      }
  }

  /** Every Aggregate (distinct included — the optimizer rewrites
    * Deduplicate to Aggregate) whose subtree reads ONLY /postings or /dl
    * registry scans — an O(registry) heal upstream of the keyed join
    * that would shrink its input to the query footprint. Delta-log
    * (stats//corpus/) and impact/ aggregates stay exempt: those inputs
    * are bounded by construction (O(batches·vocab) and m·V).
    */
  private def bareRegistryAggregates(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val plan = df.queryExecution.optimizedPlan
    assert(fileScans(plan).exists(_.contains("/postings")),
      "fixture: the plan must actually read the postings registry")
    plan.collect { case a: Aggregate => a }.flatMap { a =>
      val scans = fileScans(a)
      val reg = scans.filter(s => s.contains("/postings") || s.contains("/dl"))
      if (reg.nonEmpty && reg.size == scans.size)
        Some(s"Aggregate over bare registry scan(s): ${reg.mkString("; ")}")
      else None
    }
  }

  /** The q206-shaped serve (%40 query slice) over a registry's frames. */
  private def registryServe(reg: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, slice}
    import graft.streaming.Incremental
    val docs = graft.sources.Tables(spark, d, "documents")
    val (postings, dfq, dl, corp) = Incremental.impactIndexStats(spark, reg)
    val qs = docs.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    graft.operators.TermStats.bm25TopKImpact(
      Incremental.impactIndexRegistry(spark, reg), postings, dfq, dl, corp,
      qs, "q_id", "qt", k = 5)
  }

  /** (shuffle exchanges, hash aggregates) in the AQE-finalized plan. */
  private def exchangesAndAggregates(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val plan = executed(df)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    (shufflesIn(plan), nodes(plan).count(_.isInstanceOf[HashAggregateExec]))
  }

  test("impact-registry serve stats read the MATERIALIZED delta logs, " +
    "never a rollup of the full postings registry (the zipfreg decay)") {
    val (_, dfq, _, corp) = graft.streaming.Incremental.impactIndexStats(
      spark, impactRegistry("impact"))
    for ((frame, label) <- Seq((dfq, "dfreq"), (corp, "corpus"))) {
      val scans = fileScans(frame.queryExecution.optimizedPlan)
      assert(scans.nonEmpty, s"$label plan has no file scan to audit")
      assert(scans.forall(p => !p.contains("/postings") && !p.contains("/dl")),
        s"$label must not scan the corpus-proportional registries: $scans")
    }
  }

  test("impact-registry FULL SERVE plan: no aggregate over a bare " +
    "postings/dl registry scan (replay healing happens BELOW the " +
    "candidate join, on the query footprint)") {
    // r18 verdict #1: impactIndexStats used to return
    // postings.distinct()/dl.distinct() — an all-columns HashAggregate +
    // Exchange over the ENTIRE registry, executed per serve call,
    // upstream of the doc-keyed rescore join. The pin: in the whole
    // served plan, every aggregate whose subtree reads /postings or /dl
    // must ALSO read some other source below it — i.e. it sits above the
    // candidate/query join, so its input is query-footprint rows.
    val offenders = bareRegistryAggregates(
      registryServe(impactRegistry("impactserve")))
    assert(offenders.isEmpty,
      "the O(registry)-per-serve healing distinct is back:\n" +
        offenders.mkString("\n"))
  }

  test("SEGMENTED impact serve plan: the same no-bare-registry-aggregate " +
    "invariant holds over the epoch-partitioned layout (q209's serve)") {
    // postings/dl come back as raw lazy frames read through the
    // Hive-partitioned base paths; with more than one live epoch the
    // partition column must not smuggle a full-registry aggregate back
    // into the serve plan
    val offenders = bareRegistryAggregates(
      registryServe(impactRegistry("segserve", epochs = 2)))
    assert(offenders.isEmpty,
      "the segmented serve grew an O(registry) aggregate:\n" +
        offenders.mkString("\n"))
  }

  test("AUDIT leg (footprint-healed full scoring, r20): no aggregate over " +
    "a bare postings/dl registry scan — the heal lives below the term " +
    "join, like the serve's") {
    // r20: the q206–q210 exact-reference legs used to call
    // bm25TopKFromIndex(postings.distinct(), …, dl.distinct(), …) — two
    // full-registry HashAggregate+Exchange pairs per run, the exact class
    // the r18/r19 serve work evicted. bm25TopKFromIndexHealed moves the
    // heal onto the audit's own candidate footprint; this pin keeps it
    // there.
    import org.apache.spark.sql.functions.{col, slice}
    val docs = graft.sources.Tables(spark, d, "documents")
    val (postings, dfq, dl, corp) = graft.streaming.Incremental
      .impactIndexStats(spark, impactRegistry("audit"))
    val qs = docs.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    val offenders = bareRegistryAggregates(
      graft.operators.TermStats.bm25TopKFromIndexHealed(postings,
        dfq, dl, corp, qs, "q_id", "qt", k = 5))
    assert(offenders.isEmpty,
      "the O(registry)-per-audit healing distinct is back:\n" +
        offenders.mkString("\n"))
  }

  test("impact index REBUILD arm (r20): healing on the window's term " +
    "partitioning saves two exchanges and two aggregates over the " +
    "upstream-distinct form") {
    // the rebuild arm used to pass postings.distinct()/dl.distinct() —
    // an all-columns HashAggregate pair + Exchange on EACH registry
    // input before the join, then a third exchange into the per-term
    // window. bm25ImpactIndexWithDlHealed joins the raw frames and one
    // term-keyed repartition feeds both the healing distinct and the
    // window.
    import graft.operators.TermStats
    val (postings, _, dl, _) = graft.streaming.Incremental.impactIndexStats(
      spark, impactRegistry("rebuild", epochs = 2))
    val (exUp, aggUp) = exchangesAndAggregates(
      TermStats.bm25ImpactIndexWithDl(postings.distinct(), dl.distinct(), 64))
    val (exH, aggH) = exchangesAndAggregates(
      TermStats.bm25ImpactIndexWithDlHealed(postings, dl, 64))
    assert(exH === exUp - 2, s"healed rebuild exchanges $exH vs upstream $exUp")
    assert(aggH === aggUp - 2,
      s"healed rebuild aggregates $aggH vs upstream $aggUp")
  }

  test("impact index MERGE (r20): one term-keyed repartition feeds the " +
    "healing distinct and the re-truncation window — one exchange fewer " +
    "than a distinct straight on the union") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, TermStats}
    val reg = impactRegistry("merge")
    val (postings, _, dl, _) =
      graft.streaming.Incremental.impactIndexStats(spark, reg)
    val standing = graft.streaming.Incremental.impactIndexRegistry(spark, reg)
    val batchRows = postings.join(dl, "doc")
      .select(col("doc"), col("term"), col("tf"), col("dl")).limit(100)
    val union = standing.unionByName(batchRows)
    val (exUp, _) = exchangesAndAggregates(
      Dedup.keepFirstK(union.distinct(), Seq(col("term")),
          TermStats.impactOrder, 64, "__ir")
        .select(col("doc"), col("term"), col("tf"), col("dl")))
    val (exM, _) = exchangesAndAggregates(
      TermStats.impactIndexMerge(standing, batchRows, 64))
    assert(exM === exUp - 1, s"merge exchanges $exM vs upstream $exUp")
  }

  test("serve-table PUBLISH (r20): one bucket-key repartition feeds the " +
    "healing distinct — a single exchange, hash-partitioned on doc into " +
    "the bucket count") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val (postings, _, _, _) = graft.streaming.Incremental.impactIndexStats(
      spark, impactRegistry("publish", epochs = 2))
    val frame = graft.streaming.Incremental.bucketHealed(postings, 32, "doc")
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case s: ShuffleExchangeExec => s +: s.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    val ex = exchanges(executed(frame))
    assert(ex.size === 1, s"expected one exchange, got ${ex.size}")
    ex.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions === 32)
        assert(h.expressions.map(_.references.map(_.name).mkString)
          === Seq("doc"))
      case other => fail(s"publish exchange is not doc-hashed: $other")
    }
    assert(!frame.columns.contains("epoch"),
      "the epoch partition column must not reach a published table")
  }
}
