package graft

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints exactly one JSON line. Failures are reported per-query in an
  * `errors` map — never silently folded into a timing (a crashing query
  * must not look like a fast one).
  *
  * SELF-ATTRIBUTION against driver-host contention (r13 verdict #1 — two
  * consecutive rounds burned judge/builder cycles adjudicating phantom
  * regressions that idle-host re-runs fully reverted):
  *
  *  1. The three timing passes run INTERLEAVED over the whole registry
  *     (pass 1: q01…qN, pass 2: q01…qN, pass 3: q01…qN), not
  *     back-to-back per query. A sustained host-load window used to
  *     poison ALL three runs of several consecutive queries (r13:
  *     q63–q68 and q111–q113, adjacent in registry order, up 3–11× with
  *     untouched code); with passes a full registry-duration apart,
  *     min-of-passes actually cancels contention windows shorter than a
  *     pass (~90 s at sf0.1).
  *  2. Every run records process CPU time and a /proc/loadavg sample
  *     alongside wall time. The reading rule (SCALE.md): a CONTENDED run
  *     shows wall ≫ cpu (threads runnable but descheduled — on an idle
  *     host the driver thread alone keeps wall/cpu ≤ ~1); a real
  *     regression inflates wall AND cpu together. Discard any run with
  *     wall/cpu > 1.5 before reading a cross-round delta as real.
  *  3. The compact stdout line carries a `contended` list (queries whose
  *     BEST run still has wall/cpu > 1.5 — i.e. even the minimum is
  *     polluted) and `load1_max`; the full per-run wall/cpu/load matrix
  *     is written to BENCH_DETAIL.json (env SPARK_GRAFT_BENCH_DETAIL)
  *     because the driver records only the final ~2000 chars of stdout
  *     and 144 queries × 3 runs × 3 metrics cannot fit that window. Each
  *     run also records the cold-JVM terms: JIT compilation ms and the
  *     generated classes Janino compiled (`jit_ms`, `codegen_compiles`).
  *  4. Two signals for the case the above are BLIND to — every pass of a
  *     query inflated together, wall AND cpu (memory-bandwidth/SMT
  *     contention; r18: the graph family ran 2× slow in all three driver
  *     passes while `contended` and the calib brackets read clean):
  *     `dispersed` flags queries whose MEDIAN pass wall exceeds 1.5× the
  *     best (at most one clean sample), and `cpu_vs_prev`/`cpu_regressed`
  *     compare best-pass process-CPU seconds against the PRIOR round's
  *     committed BENCH_DETAIL at the same sf (env SPARK_GRAFT_BENCH_PREV;
  *     CPU-seconds survive host swaps — a descheduled thread burns none —
  *     so a >1.5× cpu ratio on untouched code is exactly the
  *     all-passes-inflated case, or a real regression; both deserve the
  *     audit the flag forces).
  */
object Bench {

  /** The PREVIOUS round's query registry, frozen: `subset_total_prev_round`
    * sums timings over exactly this set, so cross-round totals compare
    * like with like — round 10's +14% "regression" took a session of
    * forensics to attribute to new queries + driver testdata regeneration
    * (verdict r10 item 5); this field makes the split arithmetic.
    * Append-only per round: refresh to the PREVIOUS round's registry when
    * adding queries (r20 refresh: the 208-query r19 set, was the
    * 206-query r18 set).
    */
  val prevRoundQueries: Set[String] = Set(
      "q207_impact_retain_serve", "q208_bucketed_serve",
      "q205_impact_merge", "q206_impact_registry_serve",
      "q202_retrieval_serve", "q203_bm25_pruned", "q204_bm25_impact",
      "q01_agg_sum_groupby", "q02_filter_time_range", "q03_filter_in_projection",
      "q04_join_left_enrich", "q05_join_inner_agg", "q06_argmax_per_day",
      "q07_distinct_content_key", "q08_agg_min_max", "q09_json_extract",
      "q100_span_dedup", "q101_jsonlines_roundtrip", "q102_span_dedup_incremental",
      "q103_lm_fluency", "q104_ccnet_gate", "q105_bpe_merges",
      "q106_bpe_segment", "q107_lm_backoff", "q108_tiered_sink",
      "q109_pipeline_v2", "q10_dedup_newest_wins", "q110_dsir_select",
      "q111_span_corrupt", "q112_example_prep", "q113_substring_excise",
      "q114_substring_excise_inc", "q115_pipeline_v3", "q116_cohort_retention",
      "q117_dsir_production", "q118_graph_components", "q119_funnel3",
      "q11_dedup_content_hash", "q120_components_incremental", "q121_image_neardup",
      "q122_funnel4", "q123_temperature_resample", "q124_pipeline_v4",
      "q125_chunk_windows", "q126_epoch_allocation", "q127_sft_render",
      "q128_unigram_segment", "q129_retrieval_index", "q12_geo_haversine",
      "q130_cdc_chunks", "q131_cdc_dedup_inc", "q132_dataset_card",
      "q133_tokenizer_compare", "q134_audio_stats", "q135_audio_neardup",
      "q136_unigram_em", "q137_video_frames", "q138_video_neardup",
      "q139_video_scenes", "q13_vertex_ref_roundtrip", "q140_video_neardup_shifted",
      "q141_video_keyframes", "q142_video_pipeline_v6", "q143_audio_segments",
      "q144_multimodal_card", "q145_png_stats", "q146_png_neardup",
      "q147_pagerank_distributed", "q148_jpeg_stats", "q149_jpeg_neardup",
      "q14_collect_sorted_list", "q150_mp4_tracks", "q151_mp3_frames",
      "q152_av_ingest_card", "q153_betweenness_distributed", "q154_betweenness_sampled",
      "q155_ann_recall_audit", "q156_drift_tvd", "q157_bm25_topk",
      "q158_drift_registry", "q159_snapshot_diff", "q15_json_fallback_coalesce",
      "q160_padded_batches", "q161_hybrid_rrf", "q162_bm25_registry",
      "q163_cluster_safe_split", "q164_split_assign_inc", "q165_quality_dedup",
      "q166_retrieval_eval", "q167_ndcg_eval", "q168_rm3_expansion",
      "q169_mmr_diverse", "q16_window_rewards_5d", "q170_kcore",
      "q171_bipartite_project", "q172_triangle_stats", "q173_triangles_sampled",
      "q174_projection_incremental", "q175_term_associations", "q176_jaccard_project",
      "q177_term_associations_inc", "q178_random_walks", "q179_walk_skipgram",
      "q17_daily_balances", "q180_link_prediction", "q181_negative_sampling",
      "q182_wl_labels", "q183_structural_dedup", "q184_wl_kernel",
      "q185_curriculum_order", "q186_mix_prefix_audit", "q187_curriculum_extend",
      "q188_curriculum_registry", "q189_preference_pairs", "q18_upsert_update",
      "q190_curriculum_shards", "q191_dedup_agreement", "q192_global_shuffle",
      "q193_mixing_quality", "q194_ltr_features", "q195_ltr_registry",
      "q196_late_arrivals", "q197_quality_calibration", "q198_pack_nostraddle",
      "q199_pack_order_ablation", "q19_upsert_ignore", "q200_ordered_pipeline",
      "q201_manifest_diff", "q20_retention_filter", "q21_payment_json_pipeline",
      "q22_witness_explode_pipeline", "q23_payment_v2_explode_all", "q24_text_stats",
      "q25_lang_id", "q26_fingerprint_dedup", "q27_ngram_jaccard_pairs",
      "q28_minhash_lsh_pairs", "q29_simhash", "q30_cosine_topk",
      "q31_ann_lsh_topk", "q32_graph_edges", "q33_city_pagerank",
      "q34_city_betweenness", "q35_binary_features", "q36_frame_sample",
      "q37_cell_decode", "q38_ann_ivf_topk", "q39_embedding_neardup",
      "q40_bpe_token_count", "q41_ann_adaptive_topk", "q42_ppm_resize",
      "q43_dup_clusters", "q44_asof_join", "q45_range_join",
      "q46_hash_split", "q47_city_hits", "q48_sequence_packing",
      "q49_quality_gate", "q50_kmeans_refine", "q51_ann_multiprobe",
      "q52_asof_nearest", "q53_topk_agg", "q54_balanced_mix",
      "q55_ann_multitable", "q56_interval_overlap", "q57_dedup_corpus",
      "q58_incremental_neardup", "q59_sessionize", "q60_tfidf_top_term",
      "q61_contamination", "q62_repetition_signals", "q63_length_quantiles",
      "q64_mix_weights", "q65_boilerplate", "q66_salted_join",
      "q67_simhash_pairs", "q68_funnel", "q69_rolling_window",
      "q70_novelty", "q71_hard_negatives", "q72_novelty_against",
      "q73_oov_rate", "q74_curation_pipeline", "q75_icosa_decode",
      "q76_append_series", "q77_merge_metrics", "q78_incremental_driver",
      "q79_pq_encode", "q80_pq_adc_topk", "q81_ivf_pq_topk",
      "q82_cms_heavy_hitters", "q83_kmv_distinct", "q84_hist_quantiles",
      "q85_bloom_contamination", "q86_zorder_layout", "q87_pii_redaction",
      "q88_time_split", "q89_decayed_features", "q90_stratified_sample",
      "q91_partitioned_driver", "q92_ivf_pq_indexed", "q93_pq_trained",
      "q94_balances_rebuild", "q95_nan_scrub", "q96_ppm_decode",
      "q97_ann_production", "q98_semantic_dedup", "q99_split_leakage")

  /** One timed execution: wall seconds, process-CPU seconds consumed by
    * this JVM during the run, 1-min loadavg sampled at run START, error;
    * then the JVM's JIT compilation ms during the run (C2 compiling the
    * generated loops — until compiled they run interpreted at 10–30× the
    * CPU) and the generated classes Janino compiled during the run
    * (separates "same code, still JIT-warming" from "AQE planned
    * different code than the warmup").
    */
  final case class Run(wall: Double, cpu: Double, load: Double,
                       err: Option[String], jitMs: Long = 0L,
                       codegenCompiles: Long = 0L)

  /** The replacement-pass decision (VERDICT r19 #3), pure so the spec
    * can pin it without racing wall clocks: pass `passIdx` (bracketed by
    * mt readings `passIdx` and `passIdx+1` in `calibMt`) earns a
    * replacement when either bracket exceeds 1.5× the floor-so-far and
    * the budget (`maxPasses`) isn't exhausted. The final artifact
    * re-judges every pass against the WHOLE run's floor — this is only
    * the in-flight scheduling rule.
    */
  private[graft] def shouldExtend(calibMt: Seq[Double], passIdx: Int,
                                  planned: Int, maxPasses: Int): Boolean = {
    val floorSoFar = calibMt.min
    val invalid =
      math.max(calibMt(passIdx), calibMt(passIdx + 1)) > 1.5 * floorSoFar
    invalid && planned < maxPasses
  }

  /** The targeted-re-run predicate (VERDICT r19 #3, second half), pure
    * for the same reason: a query whose clean runs (err-free) contain
    * fewer than two samples within 1.5× of its best has an unconfirmed
    * best — one more sample is warranted. Sub-0.5 s bests are exempt
    * (scheduling jitter dominates them; the dispersion rule's floor).
    */
  private[graft] def needsRetry(rs: Seq[Run]): Boolean = {
    val clean = rs.filter(_.err.isEmpty)
    clean.nonEmpty && {
      val best = clean.map(_.wall).min
      best > 0.5 && clean.count(_.wall <= 1.5 * best) < 2
    }
  }

  /** Where the per-run detail matrix is written. A full-registry run
    * writes the committed file (or the SPARK_GRAFT_BENCH_DETAIL override);
    * a subset run writes only to an explicit override — a dev A/B must
    * not replace the full record the next full run reads for
    * `cpu_vs_prev`.
    */
  private[graft] def detailTarget(subset: Boolean,
                                  explicit: Option[String]): Option[String] =
    if (subset) explicit else Some(explicit.getOrElse("BENCH_DETAIL.json"))

  /** Where `cpu_vs_prev` reads its baseline: SPARK_GRAFT_BENCH_PREV, else
    * the committed BENCH_DETAIL.json — never the SPARK_GRAFT_BENCH_DETAIL
    * override, which names this run's output (usually a new file, so an
    * A/B written aside would have no baseline at all).
    */
  private[graft] def prevTarget(explicit: Option[String]): String =
    explicit.getOrElse("BENCH_DETAIL.json")

  private[graft] def jstr(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private[graft] def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString

  private[graft] val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => osBean.getSystemLoadAverage }

  /** Host-boot fingerprint (first 8 hex of the kernel boot_id): two bench
    * lines compare like-for-like ONLY within one boot — r15's mid-round
    * host reboot inflated the shared-subset total +16% on byte-identical
    * code and data, and attributing that cross-host cost a session of
    * forensics (SCALE.md's host-boundary entry). Carrying the boot id in
    * every bench line makes the discontinuity machine-detectable: ids
    * differ → read deltas against `calib_ms`, not as code.
    */
  private def bootId(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
      try src.mkString.trim.take(8) finally src.close()
    } catch { case _: Throwable => "unknown" }

  /** Fixed CPU calibration probe: a deterministic single-thread xorshift
    * spin of pinned iteration count — pure ALU, no allocation, identical
    * work every invocation — so its wall time measures the host's
    * effective single-thread speed under CURRENT conditions (SMT/IPC
    * contention, turbo, thermal). The wall≫cpu contention test is blind
    * to SMT-sibling pressure (the thread IS running, just slower); this
    * probe is not. Cross-round reading rule: a query-total shift that
    * tracks the calib shift is the HOST moving, not the code.
    */
  private def calibOnceMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) -1.0 else ms // fold x in so the loop can't be DCE'd
  }

  private def calibMs(): Double =
    (1 to 3).map(_ => calibOnceMs()).min // min-of-3: the uncontended reading

  /** Multi-thread calibration: `threads` concurrent copies of the same
    * spin, released together; reading = wall from release to the LAST
    * finisher. The single-thread probe can't see a parallelism collapse
    * (one thread is always schedulable); this one measures how much
    * 32-way CPU the host actually grants RIGHT NOW — the missing operand
    * of r16's per-query attribution, where calib_ms moved 3× and nobody
    * could say whether parallel stages were starved too.
    */
  private def calibMtOnceMs(threads: Int): Double = {
    val start = new java.util.concurrent.CyclicBarrier(threads + 1)
    val done = new java.util.concurrent.CountDownLatch(threads)
    (1 to threads).foreach { _ =>
      val t = new Thread(() => {
        start.await(); calibOnceMs(); done.countDown() })
      t.setDaemon(true); t.start()
    }
    start.await()
    val t0 = System.nanoTime()
    done.await()
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional subset (dev A/Bs: `runMain graft.Bench q105_… q109_…`);
    // the driver invokes with no args → full registry, contract unchanged.
    // Unknown names fail loudly, before a session starts (the Verify
    // convention).
    val only = args.toSet
    val unknownQ = only -- SparkEntry.queries.keySet
    require(unknownQ.isEmpty, s"unknown queries: ${unknownQ.mkString(", ")}")
    val spark = GraftSession.local(cpus)
    // calibrate before Spark spins up (and once again at the end): the
    // before/after pair also bounds whether host conditions MOVED during
    // the bench itself
    val calibBefore = calibMs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // JIT/codegen warmup at the smallest scale factor so timings reflect
    // steady state, not first-query classloading.
    // Conf-drift guard (r16 verdict #2): the r16 conf-leak race serialized
    // 11 untouched queries for a whole round and BOTH contention detectors
    // were blind to it (the leak makes wall≈cpu — fewer tasks, all
    // running). Snapshot the session's loop-conf keys at build time; after
    // every query (warmup included), any drift is RECORDED per query and
    // RESTORED so one leaky query can no longer poison every timing after
    // it. Expected value of `conf_drift`: {}.
    val guardKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled")
    val confDefaults = guardKeys.map(k => k -> spark.conf.get(k)).toMap
    val confDrift = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def driftCheck(tag: String): Unit = {
      val moved = guardKeys.flatMap { k =>
        val v = spark.conf.get(k)
        if (v != confDefaults(k)) {
          spark.conf.set(k, confDefaults(k))
          Some(s"$k=$v")
        } else None
      }
      if (moved.nonEmpty && !confDrift.contains(tag))
        confDrift(tag) = moved.mkString(",")
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      names.foreach { name =>
        try { SparkEntry.queries(name)(spark, warmDir).count() }
        catch { case _: Throwable => () }
        driftCheck(s"warmup:$name")
        Caches.clearAll(spark)
      }
    }
    // Steady-state timing: three INTERLEAVED passes over the registry at
    // the target SF; each query reports its fastest run. The first
    // execution of a plan pays one-time JVM costs (whole-stage codegen
    // compile, C2 JIT of the generated loops) that the sf0.001 warmup
    // can't fully absorb, and a busy host adds multi-second scheduling
    // jitter — min-of-passes measures resident-engine throughput, and
    // the interleaving puts a full registry-duration between a query's
    // runs so one contention window can no longer poison all of them.
    val basePasses = 3
    // Bounded retry against a contended host (VERDICT r19 #3: the r19
    // driver artifact was passes_valid 0/3 with 29 dispersed queries —
    // self-reportedly junk, and the NEXT round's cpu_vs_prev would have
    // compared against it): when a finished pass's calib brackets
    // invalidate against the floor-so-far, schedule one replacement
    // pass, up to maxPasses total — a contention window that spans one
    // or two passes costs replacements instead of the round's artifact.
    val maxPasses = 5
    val runs = scala.collection.mutable.Map.empty[String, Vector[Run]]
      .withDefaultValue(Vector.empty)
    // Per-PASS calibration brackets (single- AND multi-thread): one
    // reading before each pass plus one after the last, so a host
    // condition that moves MID-run is attributable to the pass it hit —
    // r16's calib pair (run start/end only) could say the host moved 3×
    // but not WHEN, and the mt probe adds the parallelism axis the st
    // probe is blind to.
    val mtThreads = math.max(1, spark.sparkContext.defaultParallelism)
    val calibPassSt = scala.collection.mutable.ArrayBuffer.empty[Double]
    val calibPassMt = scala.collection.mutable.ArrayBuffer.empty[Double]
    def calibBracket(): Unit = {
      calibPassSt += calibOnceMs()
      calibPassMt += calibMtOnceMs(mtThreads)
    }
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def codegenCompiles(): Long = org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def runOnce(name: String): Run = {
      val fn = SparkEntry.queries(name)
      val ld = load1()
      val jit0 = jitBean.getTotalCompilationTime
      val gen0 = codegenCompiles()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val outcome =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val run = Run(wall, cpu, ld, outcome,
        jitBean.getTotalCompilationTime - jit0, codegenCompiles() - gen0)
      driftCheck(name) // record + heal any conf leak before the next query
      Caches.clearAll(spark) // persists + localCheckpoints; don't let them creep
      run
    }
    // brackets sit exactly at pass BOUNDARIES (pass i is bracketed by
    // readings i and i+1), so a pass's validity is decidable the moment
    // it finishes — against the floor-so-far; the final passValid below
    // re-judges every pass against the whole run's floor
    val replacementPasses = scala.collection.mutable.ArrayBuffer.empty[Int]
    calibBracket()
    var planned = basePasses
    var passIdx = 0
    while (passIdx < planned) {
      for (name <- names) runs(name) = runs(name) :+ runOnce(name)
      calibBracket()
      if (shouldExtend(calibPassMt.toSeq, passIdx, planned, maxPasses)) {
        replacementPasses += planned
        planned += 1
      }
      passIdx += 1
    }
    val passes = planned
    // Per-pass VALIDITY from the mt brackets (r17 verdict #3: the driver
    // run's pass 3 was contended — mt calib 364 vs 186 ms, q33 22.7 s —
    // yet `contended: []` because best-of-3 masked it). A pass is valid
    // when BOTH its brackets sit within 1.5× of the run's best mt
    // reading; an invalid pass's timings are host artifacts, and a query
    // whose best wall comes from the run's ONLY valid pass has a single
    // clean sample — readable, but flagged.
    val mtFloor = calibPassMt.min
    val passValid = (0 until passes).map(i =>
      math.max(calibPassMt(i), calibPassMt(i + 1)) <= 1.5 * mtFloor)
    // Targeted re-run (VERDICT r19 #3, second half): a query left with
    // fewer than two CLEAN samples (runs within 1.5× of its best — the
    // dispersion currency) has an unconfirmed best; give exactly one
    // more sample at the end, bracketed so the detail matrix attributes
    // the retry sweep's host state too. Bounded: one re-run per query,
    // and only for queries the pass structure failed.
    val retried = scala.collection.mutable.Set.empty[String]
    locally {
      val needRetry = names.filter(name => needsRetry(runs(name)))
      if (needRetry.nonEmpty) {
        calibBracket()
        for (name <- needRetry) {
          runs(name) = runs(name) :+ runOnce(name)
          retried += name
        }
        calibBracket()
      }
    }
    val results = names.map { name =>
      val (best, bestIdx) = runs(name).zipWithIndex
        .minBy { case (r, _) => (r.err.isDefined, r.wall) }
      (name, best, runs(name), bestIdx)
    }
    // Two signals the r18 driver run showed the existing detectors are
    // blind to (verdict r18 #3: the graph family ran 2× slow in ALL
    // three passes with wall AND cpu inflated — bandwidth contention;
    // `contended` keys on wall≫cpu and the calib brackets sample the
    // instants BETWEEN queries, so both read clean):
    //  1. per-query cross-pass dispersion — a query whose MEDIAN pass
    //     wall exceeds 1.5× its best ran clean at most once; its best
    //     is readable but unconfirmed.
    //  2. cpu_vs_prev — best-pass process-CPU seconds against the PRIOR
    //     round's committed BENCH_DETAIL at the same sf. CPU-seconds
    //     are comparable across hosts (a descheduled thread burns none),
    //     so a cpu ratio > 1.5 on untouched code is the all-passes-
    //     inflated case no in-run signal can see — or a real plan
    //     regression; either way it names exactly the queries to audit.
    def medianWall(rs: Vector[Run]): Double = {
      val ws = rs.filter(_.err.isEmpty).map(_.wall).sorted
      if (ws.isEmpty) -1.0
      // true median: average the middles on an even count (one erred run
      // leaves 2 clean samples — upper-middle alone would flag a query
      // by the 3-sample rule on half the evidence)
      else if (ws.size % 2 == 1) ws(ws.size / 2)
      else (ws(ws.size / 2 - 1) + ws(ws.size / 2)) / 2.0
    }
    val dispersedQ = results.filter { case (_, best, rs, _) =>
      best.err.isEmpty && best.wall > 0.5 &&
        medianWall(rs) > 1.5 * best.wall
    }.map(_._1).toSet
    // prior-round per-query best_cpu, read from the committed detail file
    // BEFORE a full run overwrites it (env override for A/Bs)
    val detailEnv = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
    val prevPath = prevTarget(sys.env.get("SPARK_GRAFT_BENCH_PREV"))
    val (prevSf, prevCpu): (String, Map[String, Double]) =
      try {
        val f = new java.io.File(prevPath)
        if (!f.isFile) ("", Map.empty)
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f)
          val sf = Option(root.get("sf")).map(_.asText).getOrElse("")
          val m = scala.collection.mutable.Map.empty[String, Double]
          Option(root.get("queries")).foreach { qn =>
            val it = qn.properties().iterator()
            while (it.hasNext) {
              val e = it.next()
              Option(e.getValue.get("best_cpu"))
                .foreach(v => m(e.getKey) = v.asDouble)
            }
          }
          (sf, m.toMap)
        }
      } catch { case _: Throwable => ("", Map.empty) }
    val prevComparable = prevSf == sfDir
    def cpuVsPrev(name: String, best: Run): Option[Double] =
      if (!prevComparable || best.err.isDefined) None
      else prevCpu.get(name).filter(_ > 0).map(best.cpu / _)
    val cpuRegressedQ = results.filter { case (name, best, _, _) =>
      best.err.isEmpty && best.wall > 0.5 &&
        cpuVsPrev(name, best).exists(_ > 1.5)
    }.map(_._1).toSet
    val ok = results.filter(_._2.err.isEmpty)
    val errs = results.collect { case (k, Run(_, _, _, Some(e), _, _), _, _) =>
      s"${jstr(k)}:${jstr(e.take(200))}" }.mkString("{", ",", "}")
    val total = ok.map(_._2.wall).sum
    // Full per-run attribution matrix → a FILE (the driver's stdout tail
    // is ~2000 chars; this doesn't fit). One object per query: all runs'
    // wall/cpu/load/jit_ms/codegen_compiles plus which run won, the
    // dispersion flag, and the cross-round cpu ratio (absent when no
    // same-sf prior detail exists).
    val detail = results.map { case (k, best, rs, bestIdx) =>
      def arr(f: Run => Double) = rs.map(r => r3(f(r))).mkString("[", ",", "]")
      def counts(f: Run => Long) = rs.map(f).mkString("[", ",", "]")
      val cvp = cpuVsPrev(k, best)
        .map(r => s""","cpu_vs_prev":${r3(r)}""").getOrElse("")
      s"${jstr(k)}:{" +
        s""""wall":${arr(_.wall)},"cpu":${arr(_.cpu)},"load":${arr(_.load)},""" +
        s""""jit_ms":${counts(_.jitMs)},"codegen_compiles":${counts(_.codegenCompiles)},""" +
        s""""best_wall":${r3(best.wall)},"best_cpu":${r3(best.cpu)},""" +
        s""""best_pass":$bestIdx,""" +
        s""""best_pass_valid":${passValid.lift(bestIdx).getOrElse(true)},""" +
        s""""median_wall":${r3(medianWall(rs))},""" +
        s""""dispersed":${dispersedQ.contains(k)},""" +
        s""""retried":${retried.contains(k)},""" +
        s""""best_wall_cpu_ratio":${r3(if (best.cpu > 0) best.wall / best.cpu else -1.0)}$cvp}"""
    }.mkString("{", ",", "}")
    val calibAfter = calibMs()
    val boot = bootId()
    def jmap(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    def jarr(xs: Seq[Double]): String = xs.map(r3).mkString("[", ",", "]")
    for (detailPath <- detailTarget(only.nonEmpty, detailEnv)) try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(s"""{"sf":${jstr(sfDir)},"passes":$passes,""" +
        s""""base_passes":$basePasses,""" +
        s""""replacement_passes":${replacementPasses.mkString("[", ",", "]")},""" +
        s""""retried_n":${retried.size},""" +
        s""""prev_sf":${jstr(prevSf)},""" +
        s""""boot_id":${jstr(boot)},"calib_ms_before":${r3(calibBefore)},""" +
        s""""calib_ms_after":${r3(calibAfter)},""" +
        s""""calib_pass_st_ms":${jarr(calibPassSt.toSeq)},""" +
        s""""calib_pass_mt_ms":${jarr(calibPassMt.toSeq)},""" +
        s""""pass_valid":${passValid.mkString("[", ",", "]")},""" +
        s""""mt_threads":$mtThreads,""" +
        s""""conf_drift":${jmap(confDrift)},"queries":$detail}""")
      finally w.close()
    } catch { case _: Throwable => () } // attribution is best-effort, never fails the bench
    // Full-precision, full-name detail line first (for humans and the git
    // log), COMPACT canonical line LAST: the driver records only the final
    // ~2000 chars of stdout. Per-query timings live in the detail line
    // above and in BENCH_DETAIL.json; the final line carries ONLY the
    // scalar summary — at 153 queries even millisecond-rounded short-key
    // per-query maps overflowed the tail window (r14: the driver read
    // `parsed: null` because the tail started mid-token). Keep this line
    // short and LAST so truncation can only ever clip the redundant copy.
    val fullQs = ok.map { case (k, b, _, _) => s"${jstr(k)}:${b.wall}" }.mkString("{", ",", "}")
    println(s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$fullQs,"errors":$errs,"sf":${jstr(sfDir)}}""")
    def short(name: String) = name.takeWhile(_ != '_')
    val shorts = ok.map(r => short(r._1))
    val keyOf: String => String = // fall back to full names on prefix clash
      if (shorts.distinct.size == shorts.size) short else identity
    val subset = ok.filter(r => prevRoundQueries(r._1))
    // contended = even the BEST run shows wall ≫ cpu (descheduled while
    // runnable): its timing is a host artifact, not this code's cost.
    val contended = ok.filter { case (_, b, _, _) =>
      b.cpu > 0 && b.wall / b.cpu > 1.5 && b.wall > 0.5 }
      .map(r => jstr(keyOf(r._1))).mkString("[", ",", "]")
    // queries whose best wall came from the run's ONLY valid pass: one
    // clean sample, no confirmation — read with the detail matrix open
    val singleSample =
      if (passValid.count(identity) == 1) {
        val vIdx = passValid.indexWhere(identity)
        ok.filter(_._4 == vIdx).map(r => jstr(keyOf(r._1)))
      } else Seq.empty
    val singleCompact =
      (if (singleSample.size <= 5) singleSample
       else singleSample.take(5) :+ jstr(s"+${singleSample.size - 5}"))
        .mkString("[", ",", "]")
    def capped(qs: Seq[String]): String = {
      val js = qs.sorted.map(n => jstr(keyOf(n)))
      (if (js.size <= 5) js else js.take(5) :+ jstr(s"+${js.size - 5}"))
        .mkString("[", ",", "]")
    }
    val dispersedCompact = capped(dispersedQ.toSeq)
    val cpuRegressedCompact = capped(cpuRegressedQ.toSeq)
    val loadMax = results.flatMap(_._3.map(_.load)).foldLeft(0.0)(math.max)
    // boot + calib_ms make cross-host discontinuities machine-detectable
    // (r15: a mid-round reboot read as a +16% "regression"): different
    // boot => compare via calib ratio, not raw seconds.
    // conf_drift: expected {} — any entry names the first query after
    // which a loop-conf key was found moved (and healed). Capped at 3
    // entries on THIS line (the driver tail window is ~2000 chars); the
    // full map is in BENCH_DETAIL.json.
    val driftCompact = jmap(
      if (confDrift.size <= 3) confDrift
      else confDrift.take(3) += ("_more" -> (confDrift.size - 3).toString))
    val calibMt = calibPassMt.min
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${ok.size},"subset_total_prev_round":${r3(subset.map(_._2.wall).sum)},"subset_n":${subset.size},"contended":$contended,"passes_valid":${passValid.count(identity)},"passes_run":$passes,"retried_n":${retried.size},"single_sample":$singleCompact,"dispersed":$dispersedCompact,"cpu_regressed":$cpuRegressedCompact,"load1_max":${r3(loadMax)},"boot":${jstr(boot)},"calib_ms":${r3(math.min(calibBefore, calibAfter))},"calib_mt_ms":${r3(calibMt)},"conf_drift":$driftCompact,"errors":$errs,"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}
