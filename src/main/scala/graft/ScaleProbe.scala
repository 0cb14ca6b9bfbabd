package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Dedup, Packing, RangeJoin, Sampling, Similarity, TermStats, TextDedup, TopK}
import graft.sources.Tables

/** Scale-up probe for the LLM-pipeline operators: replicates the sf0.1
  * corpora with replicas engineered to be DISJOINT workloads (no
  * cross-replica shingles / bucket neighborhoods by construction),
  * materializes each scaled corpus to parquet OUTSIDE the timed region,
  * then measures the pipelines at 1×/4×/16×/64×. Near-linear wall-time
  * growth here is the local[32] evidence that candidate generation is
  * keyed (Σ bucket², not N²) — the property that carries to a
  * 1000-executor cluster.
  *
  *  - documents: replica i prefixes every word with `rI_`, so replicas
  *    share no shingles while intra-replica near-dup structure is
  *    exactly the original corpus's.
  *  - embeddings: replica i adds i/100 to every component, moving the
  *    replica to a different region of the sphere (different LSH
  *    buckets, same intra-replica neighbor structure).
  *
  * Every measurement is one JSON row from [[Meter.time]]; every section's
  * replica-factor loop reads its ladder through `ladder`, which
  * `SPARK_GRAFT_PROBE_FACTORS` (comma-separated factors) overrides for
  * all sections at once. Results are recorded in SCALE.md. Dev tool —
  * not part of the driver contract; run with
  * `graft.Probe scale [section…]`.
  */
object ScaleProbe {

  /** `factor` disjoint replicas of one frame, unioned by name. */
  def replicas(factor: Int)(replica: Int => DataFrame): DataFrame =
    (0 until factor).map(replica).reduce(_ unionByName _)

  def docsAt(spark: SparkSession, d: String, factor: Int): DataFrame = {
    val base = Tables.balanced(spark, d, "documents").select("doc_id", "text")
    replicas(factor) { i =>
      base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1").as("text"))
    }
  }

  def embAt(spark: SparkSession, d: String, factor: Int): DataFrame = {
    val base = Tables.balanced(spark, d, "embeddings").select("vec_id", "embedding")
    replicas(factor) { i =>
      base.select(
        (col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(i / 100.0f)).as("embedding"))
    }
  }

  /** Scaled event stream: replica i shifts user ids (disjoint keys) AND
    * time by i×90 days (disjoint anchor windows/bins), so the scaled
    * corpus is `factor` independent workloads — the shape a bigger
    * deployment actually sees.
    */
  def eventsAt(spark: SparkSession, d: String, factor: Int): DataFrame = {
    val base = Tables.balanced(spark, d, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
    val ninetyDaysUs = 90L * 86400 * 1000000
    replicas(factor) { i =>
      base.select(
        (col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("ts_us") + lit(i * ninetyDaysUs)).as("ts_us"),
        (col("user_id") + lit(i * 1000000L)).as("user_id"),
        col("event_type"), col("value"))
    }
  }

  /** The fixed 1×-sized incoming batch of the registry sections: fresh
    * ids, and every odd doc re-tokenized (`nv_` prefix), so half the
    * batch repeats corpus blocks and grams and half brings new ones.
    */
  def batchAt(spark: SparkSession, d: String): DataFrame =
    docsAt(spark, d, 1).select((col("doc_id") + 900000000L).as("doc_id"),
      when(col("doc_id") % 2 === 1,
        regexp_replace(col("text"), "(\\S+)", "nv_$1"))
        .otherwise(col("text")).as("text"))

  /** Deterministic Zipf(1) documents `[from, until)`, 60 tokens over a
    * 50k vocabulary: token j of doc i is rank floor(exp(u·ln V)) + 1 for
    * u = hash(i, j) in [0, 1), so P(rank ≤ k) = ln(k)/ln(V) — row-local,
    * no lookup table; the head term is in nearly every doc and the
    * median type's df is ≈ 1.
    */
  def zipfDocs(spark: SparkSession, from: Long, until: Long): DataFrame = {
    val vocab = 50000L
    spark.range(from, until).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(60)), { j =>
        val u = pmod(hash(col("id"), lit("z"), j), lit(1000000))
          .cast("double") / 1000000.0
        concat(lit("t"), least(lit(vocab),
          exp(u * math.log(vocab.toDouble)).cast("long") + 1L))
      })).as("text"))
  }

  /** A query set: the first four tokens of each picked doc. */
  def queriesOf(docs: DataFrame, pick: Column): DataFrame =
    docs.filter(pick).select(col("doc_id").as("q_id"),
      slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))

  /** Every section `run` knows (`graft.Probe scale [section…]`). */
  val sections: Seq[String] = Seq("session", "termstats", "minhash", "ann",
    "temporal", "packing", "relational", "topk", "kmeans", "sinks", "pq",
    "sketch", "prune", "sinkbig", "pqtrain", "spandedup", "jsonlines",
    "tiered", "bpe", "dsir", "spancorrupt", "substr", "lshskew", "ccdiam",
    "imagededup", "videodedup", "bucketreg", "audioprep", "gramreg",
    "prdist", "codecprep", "bwdist", "ccinc", "funnel", "prep",
    "monitor", "splitreg", "retrieval", "kcore", "cooccur",
    "walks", "wl", "ranks", "nostraddle", "curseg", "zipf",
    "zipfm", "zipfreg", "zipfserve", "zipfbucket", "zipfretain", "impinc",
    "prunedcost", "segcompact")

  /** The local property that tags a [[Meter]] flush's sentinel job. */
  private[graft] val FlushTag = "graft.probe.flush"

  /** The probe's one measurement path. As a listener it sums every
    * task's input and shuffle-write metrics; [[time]] runs one
    * measurement and prints its JSON row. Register it once per session
    * (`run` does, and removes it when done).
    */
  private[graft] final class Meter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val inRecords, inBytes, shufRecords, shufBytes = new AtomicLong
    private val sentinels = new LinkedBlockingQueue[String]
    private var flushes = 0

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        inRecords.addAndGet(m.inputMetrics.recordsRead)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(FlushTag)))
        .foreach(sentinels.put)

    /** Returns once every event posted before the call has reached this
      * listener. The bus delivers in order and a finished job's task ends
      * are posted before its action returns, so they all precede the
      * start of the sentinel job submitted here (which reads and shuffles
      * nothing).
      */
    private def flush(): Unit = {
      flushes += 1
      val token = flushes.toString
      sc.setLocalProperty(FlushTag, token)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(FlushTag, null)
      require(sentinels.poll(60, TimeUnit.SECONDS) == token,
        s"flush $token: the sentinel job never reached the listener")
    }

    /** Bytes this process read through syscalls (`/proc/self/io` rchar):
      * local mode is one process, so every executor thread's reads land
      * here, page-cached or not — the counter that sees the sink reads
      * Spark's input metrics miss.
      */
    private def rchar(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
      }.getOrElse(0L)
      finally src.close()
    }

    /** Times `f` (which returns the rows it produced) and prints one JSON
      * row: the fixed fields, then `fields` (evaluated after `f`, outside
      * the timed region). The counters cover exactly the jobs `f` ran:
      * both flushes sit outside the timed region.
      */
    def time(section: String, name: String, factor: Int,
        fields: => Seq[(String, Any)] = Nil)(f: => Long): ListMap[String, Any] = {
      flush()
      Seq(inRecords, inBytes, shufRecords, shufBytes).foreach(_.set(0L))
      val rchar0 = rchar()
      val cpu0 = Bench.osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val n = f
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Bench.osBean.getProcessCpuTime - cpu0) / 1e9
      val read = rchar() - rchar0
      flush()
      val row = ListMap[String, Any]("probe" -> "scale", "section" -> section,
        "name" -> name, "factor" -> factor, "rows" -> n, "wall_s" -> wall,
        "cpu_s" -> cpu, "input_records" -> inRecords.get,
        "input_bytes" -> inBytes.get, "shuffle_write_records" -> shufRecords.get,
        "shuffle_write_bytes" -> shufBytes.get, "rchar_bytes" -> read) ++ fields
      println(row.map { case (k, v) => s"${Bench.jstr(k)}:${json(v)}" }
        .mkString("{", ",", "}"))
      row
    }

    private def json(v: Any): String = v match {
      case s: String => Bench.jstr(s)
      case d: Double => Bench.r3(d)
      case other => other.toString
    }
  }

  /** Runs the sections named in `only` (in source order) over the corpora
    * at `d`; every timed measurement prints one JSON row.
    */
  def run(spark: SparkSession, d: String, only: Set[String]): Unit = {
    val meter = new Meter(spark)
    spark.sparkContext.addSparkListener(meter)
    try sectionsOf(spark, d, only, meter)
    finally spark.sparkContext.removeSparkListener(meter)
  }

  private def sectionsOf(spark: SparkSession, d: String, only: Set[String],
      meter: Meter): Unit = {
    // the section and replica factor a measurement belongs to: set as its
    // block starts and as its ladder steps
    var section = ""
    var rung = 1
    val want: String => Boolean = s => {
      if (only(s)) { section = s; rung = 1 }
      only(s)
    }
    val factorOverride = sys.env.get("SPARK_GRAFT_PROBE_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
    def ladder(default: Int*)(body: Int => Unit): Unit =
      for (f <- factorOverride.getOrElse(default)) { rung = f; body(f) }
    def time(name: String, fields: => Seq[(String, Any)] = Nil)(f: => Long): Unit =
      meter.time(section, name, rung, fields)(f)
    def materialize(df: DataFrame, path: String): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    def delete(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    // a fresh catalog over a surviving warehouse dir refuses to write the
    // orphaned location: drop the table AND its directory
    def dropTable(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      delete(new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase).toString)
    }
    if (want("session")) ladder(1, 4, 16, 64) { factor =>
      val ev = materialize(eventsAt(spark, d, factor), s"/tmp/scale/sev$factor")
      time(s"sessionize ${factor}x (${100000 * factor} events)") {
        graft.operators.Sessionize.rollup(ev, Seq(col("user_id")),
          col("ts_us"), col("event_id"), 30L * 60 * 1000000,
          round(col("value") * 100).cast("long")).count()
      }
      time(s"rolling-24h ${factor}x") {
        graft.operators.Rolling.overRange(ev, Seq(col("user_id")),
          col("ts_us"), round(col("value") * 100).cast("long"),
          24L * 3600 * 1000000).count()
      }
      time(s"cohort-retention ${factor}x") {
        graft.operators.Cohorts.retention(ev, "user_id", "ts_us").count()
      }
      spark.catalog.clearCache()
    }
    // Term statistics: disjoint-replica docs mean the vocabulary (and the
    // df/first-occurrence tables) grow with the corpus — the honest
    // stress: shuffle volume must track docs × distinct-terms-per-doc.
    if (want("termstats")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/docs$factor")
      time(s"tfidf-top-term ${factor}x (${5000 * factor} docs)") {
        graft.operators.TermStats.topTermPerDoc(docs, "doc_id", "text").count()
      }
      time(s"novelty ${factor}x") {
        graft.operators.TermStats.noveltyFraction(docs, "doc_id", "text", 3).count()
      }
      time(s"lm-fluency ${factor}x") {
        // force the computed columns (count() would prune the joins)
        graft.operators.TermStats.lmFluency(docs, "doc_id", "text")
          .agg(sum(col("fluency_pm")), sum(col("n_bigrams"))).head()
          .getLong(1)
      }
      time(s"simhash-pairs ${factor}x") {
        TextDedup.simhashNearDupPairs(
          TextDedup.simhash(docs, "doc_id", "text"), 3).count()
      }
      // q107 shape: train counts on a fixed 1x slice, score the growing
      // remainder — the CCNet deployment. Cost should track the SCORED
      // side (trigram explode + count-table joins), with the train side
      // amortized across the factor.
      time(s"lm-backoff ${factor}x (train 1x, score ${factor}x)") {
        val train = docs.filter(col("doc_id") % 1000000L < 1000L)
        graft.operators.TermStats.lmFluencyBackoff(train, docs,
            "doc_id", "text")
          .agg(sum(col("fluency_pm")), sum(col("n_tri_hits"))).head()
          .getLong(1)
      }
      // q105 shape: the BPE trainer reads only the top-500 vocabulary,
      // so the iterations are corpus-size-independent; only the vocab
      // aggregate scales with the corpus.
      time(s"bpe-train ${factor}x (8 merges, top-500 vocab)") {
        val vocab = docs.select(explode(
            graft.functions.Text.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
          .orderBy(col("f").desc, col("w").asc).limit(500)
        graft.operators.Bpe.trainMerges(vocab, "w", "f", 8).count()
      }
      spark.catalog.clearCache()
    }
    if (want("minhash")) ladder(1, 4, 16) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/docs$factor")
      time(s"minhash+lsh ${factor}x (${5000 * factor} docs)") {
        val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
        TextDedup.lshCandidatePairs(sigs, 16, 4).filter(col("n_sig_equal") >= 8).count()
      }
      spark.catalog.clearCache()
    }
    // LSH hot band: 2% of every replica's docs are REPLACED by one shared
    // boilerplate text — identical minhash signatures, so one bucket in
    // EVERY band holds 2%·N docs and the band self-join must EMIT
    // (0.02N)²/2·bands candidate rows. That blowup is in the join OUTPUT:
    // AQE skew-splitting only rebalances input partitions and cannot
    // shrink it, which is why the uncapped curve is quadratic by
    // construction (measured through 16×; 64× uncapped would emit ~82M
    // pre-distinct rows — the point of the probe, not worth the minutes).
    // The maxBucket df-cap drops over-occupied buckets before the join
    // and holds the curve ~linear; the dropped mega-cluster is exactly
    // the population exact dedup (q11/q26/q100) collapses upstream.
    if (want("lshskew")) ladder(1, 4, 16, 64) { factor =>
      val boiler = "licensed under the creative commons attribution share " +
        "alike license additional terms may apply by using this site you " +
        "agree to the terms of use and privacy policy"
      val docs = materialize(
        docsAt(spark, d, factor).withColumn("text",
          when(col("doc_id") % 50 === 0, lit(boiler)).otherwise(col("text"))),
        s"/tmp/scale/skdocs$factor")
      val hot = 100 * factor
      if (factor <= 16) {
        time(s"lsh-hotband-uncapped ${factor}x (${5000 * factor} docs, $hot boilerplate)") {
          val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
          TextDedup.lshCandidatePairs(sigs, 16, 4)
            .filter(col("n_sig_equal") >= 8).count()
        }
        spark.catalog.clearCache()
      }
      time(s"lsh-hotband-capped64 ${factor}x (${5000 * factor} docs, $hot boilerplate)") {
        val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
        TextDedup.lshCandidatePairs(sigs, 16, 4, maxBucket = 64L)
          .filter(col("n_sig_equal") >= 8).count()
      }
      spark.catalog.clearCache()
    }
    // High-diameter CC: an n-node chain (diameter = n) through BOTH
    // dupClusters paths — the fixture where plain min-label propagation
    // needed n rounds (the named-but-unmeasured risk from round 11).
    // Pointer jumping makes the iterative path O(log n) rounds; the
    // one-task union-find path is a single linear pass. This pins the
    // localThreshold choice with data: below the threshold union-find
    // wins outright; above it the iterative path now survives ANY
    // diameter instead of only near-cliques.
    if (want("ccdiam")) ladder(1, 4, 16, 64) { factor =>
      val n = 5000L * factor
      val chain = materialize(
        spark.range(n - 1).select(col("id").as("a"), (col("id") + 1L).as("b")),
        s"/tmp/scale/chain$factor")
      time(s"cc-chain-unionfind ${factor}x ($n nodes, diameter $n)") {
        TextDedup.dupClusters(chain, "a", "b").count()
      }
      time(s"cc-chain-iterative ${factor}x ($n nodes, diameter $n)") {
        TextDedup.dupClusters(chain, "a", "b", maxIter = 40,
          localThreshold = 0L).count()
      }
      spark.catalog.clearCache()
    }
    // N-step funnel (q122 shape): 4 hops = 4 user-keyed union-window
    // exchanges, so wall time must track events, never events² — the
    // disjoint-replica fixture keeps per-user event counts constant
    // while the user space grows, the 100 TB shape.
    if (want("funnel")) ladder(1, 4, 16, 64) { factor =>
      val ev = materialize(eventsAt(spark, d, factor), s"/tmp/scale/fev$factor")
      time(s"funnel4 ${factor}x (${100000 * factor} events)") {
        graft.operators.Funnel.funnelN(ev, "user_id", "ts_us", "event_id",
          steps = Seq(col("event_type") === "signup",
            col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"),
          windows = Seq(7L * 86400000000L, 86400000000L, 3600000000L))
          .count()
      }
      spark.catalog.clearCache()
    }
    // Example-prep family (q125/q127/q128): chunking is stateless
    // fan-out (must be linear with zero shuffle), SFT rendering is one
    // conversation-keyed exchange, and unigram train+segment is bounded
    // by the DISTINCT-word table — the disjoint-replica prefixing grows
    // the vocabulary linearly with the corpus, the honest stress (a
    // Zipf corpus would grow it sublinearly).
    if (want("prep")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/prepdocs$factor")
      time(s"chunk-windows ${factor}x (${5000 * factor} docs)") {
        graft.operators.Chunk.tokenWindows(docs, "doc_id", "text", 24, 8).count()
      }
      time(s"cdc-chunks ${factor}x (${5000 * factor} docs)") {
        graft.operators.Chunk.contentDefined(docs, "doc_id", "text", 8).count()
      }
      time(s"unigram-train+segment ${factor}x (~${31 * factor} distinct words)") {
        val words = docs
          .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
        val vocab = graft.operators.Unigram.trainVocab(words, "w", "f", 4, 40)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        graft.operators.Unigram.segment(words, "w", vocab, 4).count()
      }
      time(s"epoch-allocation ${factor}x (20 domains)") {
        graft.operators.Sampling.epochAllocation(
          docs.withColumn("src", (col("doc_id") % 20).cast("string")),
          "src", size(graft.functions.Text.tokens(col("text"))).cast("long"),
          budget = 100000L).count()
      }
      time(s"audio-fp+pairs ${factor}x (${5000 * factor} clips)") {
        val fps = graft.operators.Multimodal.audioFingerprint(spark,
          graft.queries.LlmPipelines.renderedWavOf(docs), "doc_id", "wav",
          window = 8).select(col("id").as("doc"), col("afp"))
        graft.operators.TextDedup.hammingPairs(fps, "doc", "afp", 56, 4, 8,
          maxBucket = 64L).count()
      }
      val ev = materialize(eventsAt(spark, d, factor), s"/tmp/scale/prepev$factor")
      time(s"sft-render ${factor}x (${100000 * factor} events)") {
        val sess = graft.operators.Sessionize.assign(
          ev.select(col("user_id"), col("event_id"), col("ts_us"),
            col("event_type"),
            round(col("value") * 100).cast("long").as("value_c")),
          Seq(col("user_id")), col("ts_us"), col("event_id"), 86400000000L)
        graft.operators.Sft.renderChat(sess,
          Seq(col("user_id"), col("session_seq")), col("ts_us"),
          col("event_id"),
          when(col("event_type").isin("click", "view", "signup"), "user")
            .otherwise("assistant"),
          concat(col("event_type"), lit("="), col("value_c"))).count()
      }
      spark.catalog.clearCache()
    }
    // Incremental CC (q120): a FIXED 5k-edge batch folds into a
    // registry built from factor× accumulated edges, vs re-running
    // global CC over everything — the flat-vs-linear contract every
    // other incremental family member (q102/q114/q58/q117) records.
    // Edges are deterministic sparse random (xxhash64 endpoints over a
    // 2×|edges| id space).
    if (want("ccinc")) ladder(1, 4, 16, 64) { factor =>
      val accN = 20000L * factor
      def edgesOf(n: Long, seed: Long) = spark.range(n).select(
        pmod(xxhash64(col("id") + lit(seed)), lit(2 * accN)).as("a"),
        pmod(xxhash64(col("id") + lit(seed + 777L)), lit(2 * accN)).as("b"))
        .filter(col("a") =!= col("b"))
      val acc = materialize(edgesOf(accN, 1L), s"/tmp/scale/ccacc$factor")
      val batch = materialize(edgesOf(5000L, 999999L), s"/tmp/scale/ccb$factor")
      time(s"cc-global-rerun ${factor}x (${accN} + 5000 edges)") {
        TextDedup.dupClusters(acc.unionByName(batch), "a", "b").count()
      }
      spark.catalog.clearCache()
      val reg = materialize(
        TextDedup.dupClusters(acc, "a", "b")
          .select(col("node"), col("cluster").as("label")),
        s"/tmp/scale/ccreg$factor")
      time(s"cc-incremental-fold ${factor}x (5000-edge batch, ${accN}-edge registry)") {
        graft.operators.Components.updateRegistry(reg, batch, "a", "b").count()
      }
      spark.catalog.clearCache()
    }
    // Image dHash dedup (q121 chain: render → real P6 decode → 56-bit
    // dHash → hamming band join). The replica prefixing makes this an
    // adversarial fixture FOR FREE: every replica's first char is 'r',
    // so all images share w = 3 and the prefix-dominated pixel grids
    // collapse into one giant dhash cluster (~20% of the corpus at 1×,
    // rising with factor) — identical fingerprints occupy every band
    // bucket and the uncapped self-join output is quadratic in the
    // cluster (simulated: 1.77M pairs at 1×, 28.3M at 4×). Uncapped is
    // measured at 1× only — the curve is the finding; capped-64 must
    // hold ~linear through 64×. Byte-identical images are what the
    // upstream exact hash dedup removes; the cap is the near-dup
    // stage's guard against the same population.
    if (want("imagededup")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/imdocs$factor")
      def hashes = graft.operators.Multimodal.dHashPpm(spark,
        graft.queries.LlmPipelines.renderedPpmOf(docs), "doc_id", "ppm")
        .select(col("id").as("doc"), col("dhash"))
      time(s"dhash ${factor}x (${5000 * factor} images, decode only)") {
        hashes.count()
      }
      if (factor <= 1) {
        time(s"dhash-pairs-uncapped ${factor}x") {
          TextDedup.hammingPairs(hashes, "doc", "dhash", 56, 2, 8).count()
        }
        spark.catalog.clearCache()
      }
      time(s"dhash-pairs-capped64 ${factor}x") {
        TextDedup.hammingPairs(hashes, "doc", "dhash", 56, 2, 8,
          maxBucket = 64L).count()
      }
      spark.catalog.clearCache()
    }
    // Video near-dup (q138 chain: render P6 streams → walk frames →
    // per-frame dHash → frame-packed hamming pairing → per-pair rollup).
    // Same adversarial population as imagededup (replica-prefixed texts
    // collapse small frames into giant identical-fingerprint clusters),
    // multiplied by up to 4 frames per video — uncapped at 1× only, the
    // capped curve must track the corpus ~linearly.
    if (want("videodedup")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/viddocs$factor")
      def fps = graft.operators.Multimodal.videoDHash(spark,
        graft.queries.LlmPipelines.renderedP6StreamOf(docs), "doc_id", "video")
        .select((col("id") * 4 + col("frame")).as("doc"), col("dhash"))
      time(s"video-dhash ${factor}x (${5000 * factor} videos, walk+decode only)") {
        fps.count()
      }
      def rollup(pairs: org.apache.spark.sql.DataFrame) = pairs
        .filter(pmod(col("doc_a"), lit(4)) === pmod(col("doc_b"), lit(4)))
        .select(expr("doc_a div 4").as("doc_a"), expr("doc_b div 4").as("doc_b"),
          col("hamming"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n"), min(col("hamming")).as("mh"))
      if (factor <= 1) {
        time(s"video-pairs-uncapped ${factor}x") {
          rollup(TextDedup.hammingPairs(fps, "doc", "dhash", 56, 2, 8)).count()
        }
        spark.catalog.clearCache()
      }
      time(s"video-pairs-capped64 ${factor}x") {
        rollup(TextDedup.hammingPairs(fps, "doc", "dhash", 56, 2, 8,
          maxBucket = 64L)).count()
      }
      spark.catalog.clearCache()
    }
    // Distributed PageRank (r13 verdict #5): the per-group form holds a
    // whole city's edge list in ONE executor thread — heap and wall
    // both track the biggest city. The aggregate-messages form's
    // per-task heap is O(edges/partition) and its rounds parallelize.
    // Fixture: disjoint replicas of the real sf0.1 graph merged into
    // ONE mega-city (the exact shape that disqualifies per-group at a
    // 100× merged graph). Expect per-group wall ∝ factor (single
    // thread); distributed rounds spread — and the fixed ~0.4 s/round
    // planning+scheduling floor (the q120 cost class) amortizes as the
    // graph grows.
    def megaCity(factor: Int, path: String): DataFrame = {
      val base = graft.queries.Graphs.edges(spark, d)
      materialize(replicas(factor) { i =>
          base.select(lit("mega").as("city"),
            concat(col("src"), lit("#" + i)).as("src"),
            concat(col("dst"), lit("#" + i)).as("dst"), col("w"))
        }, path)
    }
    if (want("prdist")) ladder(1, 4, 16) { factor =>
      val mega = megaCity(factor, s"/tmp/scale/prdist$factor")
      val m = mega.count()
      time(s"prdist-pergroup ${factor}x ($m edges, one city)") {
        graft.operators.GraphMetrics.perCityPagerank(mega).count()
      }
      time(s"prdist-distributed ${factor}x ($m edges, one city)") {
        graft.operators.GraphMetrics.pagerankDistributed(mega).count()
      }
      spark.catalog.clearCache()
    }
    // Distributed betweenness on the merged mega-city: per-group binds
    // the whole O(n·m) source loop to ONE thread; the source-parallel
    // form fans the same passes across every core against a broadcast
    // CSR. Brandes is quadratic-ish, so the per-group side is probed
    // only at 1× (already minutes-scale beyond it) while the
    // distributed side also runs 4× to show its own scaling.
    if (want("bwdist")) ladder(1, 4) { factor =>
      val g = megaCity(factor, s"/tmp/scale/bwdist$factor")
      val m = g.count()
      if (factor <= 1)
        time(s"bwdist-pergroup ${factor}x ($m edges, one city)") {
          graft.operators.GraphMetrics.perCityBetweenness(g).count()
        }
      time(s"bwdist-distributed ${factor}x ($m edges, one city)") {
        graft.operators.GraphMetrics.betweennessDistributed(g).count()
      }
      // the documented escape past exact betweenness: ~1/4 of the
      // source passes through the identical machinery — wall should
      // track the sample fraction at the same graph size
      if (factor > 1)
        time(s"bwdist-sampled(1/4) ${factor}x ($m edges, one city)") {
          graft.operators.GraphMetrics.betweennessSampled(g).count()
        }
      spark.catalog.clearCache()
    }
    // r14 codec family (PNG inflate+unfilter, JPEG Huffman+IDCT, MP4
    // box walk, MP3 frame walk): all row-local decodes, so wall time
    // must track corpus size ~linearly — the same claim audioprep pins
    // for WAV. Render is measured WITH decode (the fixture pipeline),
    // as in every media probe.
    if (want("codecprep")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/cp$factor")
      time(s"png-decode ${factor}x (${5000 * factor} images)") {
        graft.operators.Multimodal.pngPixelStats(spark,
          graft.queries.LlmPipelines.renderedPngOf(docs), "doc_id", "png")
          .count()
      }
      time(s"jpeg-decode ${factor}x (${5000 * factor} images)") {
        graft.operators.Multimodal.jpegLumaStats(spark,
          graft.queries.LlmPipelines.renderedJpegOf(docs), "doc_id", "jpeg")
          .count()
      }
      time(s"mp4-walk ${factor}x (${5000 * factor} files)") {
        graft.operators.Multimodal.mp4TrackStats(spark,
          graft.queries.LlmPipelines.renderedMp4Of(docs), "doc_id", "mp4")
          .count()
      }
      time(s"mp3-walk ${factor}x (${5000 * factor} streams)") {
        graft.operators.Multimodal.mp3FrameStats(spark,
          graft.queries.LlmPipelines.renderedMp3Of(docs), "doc_id", "mp3")
          .count()
      }
      spark.catalog.clearCache()
    }
    // Audio prep (q134/q143 chain: render WAV → RIFF walk → windowed
    // activity → VAD islands). Decode is row-local and the islands
    // arithmetic is one clip-keyed exchange, so wall time must track
    // corpus size ~linearly; replica prefixing grows clip LENGTH too
    // (longer texts → more windows per clip).
    if (want("audioprep")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/audocs$factor")
      def wavs = graft.queries.LlmPipelines.renderedWavOf(docs)
      time(s"audio-stats ${factor}x (${5000 * factor} clips)") {
        graft.operators.Multimodal.pcmWindowStats(spark, wavs,
          "doc_id", "wav", window = 100, activeMeanAbs = 5600L).count()
      }
      time(s"audio-segments ${factor}x (${5000 * factor} clips)") {
        graft.operators.Multimodal.audioSegments(spark, wavs,
          "doc_id", "wav", window = 100, activeMeanAbs = 5600L).count()
      }
      spark.catalog.clearCache()
    }
    // Bucketed vs flat registry lookup (the streamingImageDedupBucketed
    // read path): a fixed 500-fingerprint batch probed against a
    // factor-scaled dhash registry. The flat path is what every flat
    // streaming twin does per batch — scan the WHOLE registry and join;
    // the bucketed path pushes the batch's values into the scan as
    // literals and bucket pruning reads only the touched buckets. The
    // metric that matters is scanned FILES/BYTES: flat grows with the
    // corpus, pruned is bounded by min(buckets, batch distinct values).
    // Records read come from task-level input metrics (the scan exec's
    // numFiles/filesSize accumulators only post to the UI store, not to
    // the plan's local accumulator objects — measured).
    //
    // Synthetic registry of DISTINCT fingerprints (Knuth-hash spread):
    // this probe measures the REGISTRY READ, so the registry must grow
    // with the factor — the replica-image fixture's fingerprints
    // collapse into a few thousand distinct values and would make
    // every factor the same lookup.
    // Bucket count 1024, batches of 32 and 500 distinct values: the
    // pruning factor is selectedBuckets/totalBuckets ≈ min(1,
    // |batch|/buckets), so the BUCKETS ≫ BATCH sizing rule is the
    // finding this probe demonstrates (the first cut used 64 buckets
    // against a 500-value batch — every bucket was touched and the
    // "pruned" path read MORE than flat).
    if (want("bucketreg")) ladder(1, 4, 16, 64) { factor =>
      val buckets = 1024
      val regRows = 200000L * factor
      val flatPath = s"/tmp/scale/bktflat$factor"
      spark.range(regRows)
        .select((col("id") * 2654435761L + 12345L).as("dhash"))
        .repartition(64).write.mode("overwrite").parquet(flatPath)
      val tbl = s"scale_bkt_reg_$factor"
      dropTable(tbl)
      graft.sources.Bucketing.writeBucketed(
        spark.read.parquet(flatPath), tbl, buckets, "dhash")
      for (batchN <- Seq(32, 500)) {
        val batchValues = (0 until batchN)
          .map(i => i.toLong * 397 * 2654435761L + 12345L).toArray
        val batchDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            batchValues.toIndexedSeq.map(org.apache.spark.sql.Row(_)), 4),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("dhash",
              org.apache.spark.sql.types.LongType))))
        val shape = s"${factor}x ($regRows-row registry, $batchN-value batch, $buckets buckets)"
        time(s"bucketreg flat $shape") {
          spark.read.parquet(flatPath)
            .join(batchDf, Seq("dhash"), "left_semi").count()
        }
        time(s"bucketreg pruned $shape") {
          graft.sources.Bucketing.withForcedBucketedScan(spark) {
            graft.streaming.Incremental.bucketedDhashLookup(
              spark, tbl, batchValues).count()
          }
        }
      }
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.clearCache()
    }
    // Fixed plane count: bucket occupancy (and thus the candidate count)
    // grows linearly with the corpus while queries also grow — quadratic
    // candidate work. Scaling planes with log2(N) keeps occupancy
    // constant, which is the production tuning rule this run demonstrates.
    if (want("ann")) ladder(1, 4, 16, 64) { factor =>
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val logPlanes = 8 + (math.log(factor) / math.log(2)).round.toInt / 2 * 2
      for (planes <- Seq(8, logPlanes).distinct) {
        time(s"ann-lsh ${factor}x (${2000 * factor} vecs, $planes planes)") {
          Similarity.annTopK(emb, "vec_id", "embedding",
            col("vec_id") % 1000000L < 20, planes, 64, k = 3).count()
        }
        spark.catalog.clearCache()
      }
    }
    // Temporal/packing family: disjoint-replica events. As-of and the
    // bin range join are keyed shuffles, so wall time should track rows,
    // not rows².
    val sixHoursUs = 6L * 3600 * 1000000
    if (want("temporal")) ladder(1, 4, 16) { factor =>
      val ev = materialize(eventsAt(spark, d, factor), s"/tmp/scale/ev$factor")
      time(s"asof ${factor}x (${100000 * factor} events)") {
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("event_id").as("p_id"))
        AsOf.backward(clicks, purchases, Seq("user_id"), "ts_us",
          "p_id", Seq("p_id")).count()
      }
      time(s"range-join ${factor}x") {
        val anchors = ev.filter(col("event_id") % 97 === 0)
          .select(col("event_id").as("anchor_id"), col("ts_us").as("lo"),
            (col("ts_us") + sixHoursUs).as("hi"))
        val points = ev.select(col("event_id"), col("ts_us"))
        RangeJoin.pointInInterval(points, "ts_us", anchors, "lo", "hi",
          sixHoursUs).groupBy("anchor_id").count().count()
      }
      spark.catalog.clearCache()
    }
    // Packing: fixed shard count serializes per-shard streams as the
    // corpus grows; scaling shards with the corpus (constant docs/shard)
    // is the production rule, mirroring the ANN plane-count rule.
    if (want("packing")) ladder(1, 4, 16) { factor =>
      val docs = materialize(
        docsAt(spark, d, factor).withColumn("n_chars", length(col("text"))),
        s"/tmp/scale/packdocs$factor")
      for (shards <- Seq(8, 8 * factor).distinct) {
        time(s"packing ${factor}x ($shards shards)") {
          Packing.packByBudget(docs, "doc_id", "n_chars", 4096L,
            shards, "probe").count()
        }
        spark.catalog.clearCache()
      }
    }
    // Relational core at 4x/16x: replicate the fact tables with disjoint
    // key spaces into test-data-shaped directories and run the REGISTERED
    // queries unchanged. Dimension-side cardinality stays fixed (suppliers/
    // days grow slower than facts in reality), so group depth rises with
    // the factor — the honest stress for the agg/join/window families.
    if (want("relational")) ladder(1, 4, 16) { factor =>
      val dir = s"/tmp/scale/rel$factor"
      val shift = 10000000L
      def rep(name: String, fix: (DataFrame, Int) => DataFrame): Unit = {
        val base = Tables(spark, d, name)
        val all = replicas(factor)(fix(base, _))
        all.write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      rep("lineitem", (t, i) => t.withColumn("l_orderkey", col("l_orderkey") + i * shift))
      rep("orders", (t, i) => t.withColumn("o_orderkey", col("o_orderkey") + i * shift))
      for (name <- Seq("q01_agg_sum_groupby", "q05_join_inner_agg",
          "q06_argmax_per_day", "q22_witness_explode_pipeline")) {
        time(s"$name ${factor}x") {
          SparkEntry.queries(name)(spark, dir).count()
        }
        spark.catalog.clearCache()
      }
    }
    // IVF training (Lloyd): one assignment pass per iteration regardless
    // of which mean path the census picks. The tight-bound run forces the
    // big-cell sum/count path (census on iteration 1, previous-iteration
    // populations after) — its wall should stay within ~10-20% of the
    // fold-path run, NOT ~2x, proving the census no longer re-executes
    // the corpus assignment.
    if (want("kmeans")) ladder(1, 4, 16) { factor =>
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val seeds = emb.filter(col("vec_id") % 1000000L < 8)
      time(s"kmeans fold path ${factor}x (${2000 * factor} vecs, 5 iters)") {
        Similarity.kmeansRefine(emb, seeds, "vec_id", "embedding",
          iters = 5).count()
      }
      time(s"kmeans big-cell path ${factor}x (bound 64, stale census)") {
        Similarity.kmeansRefine(emb, seeds, "vec_id", "embedding",
          iters = 5, maxFoldMembers = 64L).count()
      }
      spark.catalog.clearCache()
    }
    // PQ (q79-q81): encode is a pure projection (wall ∝ rows); the ADC
    // scan pays 4 codebook lookups per candidate vs 64 widened multiplies
    // for the exact scan — both are broadcast-query passes over the same
    // candidate count, so their wall ratio is the per-candidate
    // arithmetic ratio once candidates dominate. IVF-PQ adds cell pruning
    // on top: candidates shrink to the query cells' population.
    if (want("pq")) ladder(1, 4, 16, 64) { factor =>
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val queries = col("vec_id") % 1000000L < 20
      time(s"pq-encode ${factor}x (${2000 * factor} vecs)") {
        Similarity.pqEncode(emb, "vec_id", "embedding").count()
      }
      time(s"pq-adc-topk ${factor}x (${20 * factor} queries)") {
        Similarity.pqAdcTopK(emb, "vec_id", "embedding", queries, k = 3).count()
      }
      time(s"exact-topk ${factor}x") {
        Similarity.bruteForceTopK(emb, emb.filter(queries),
          "vec_id", "embedding", k = 3).count()
      }
      time(s"ivf-pq-topk ${factor}x (8 cells/replica-region)") {
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") % 1000000L < 8),
          "vec_id", "embedding", queries, k = 3).count()
      }
      // the materialized-index split: build once OUTSIDE the timed
      // region (the ingest-time cost), then time the query phase alone —
      // what a deployment actually pays per search
      val cents = emb.filter(col("vec_id") % 1000000L < 8)
      val index = materialize(
        Similarity.buildIvfPqIndex(emb, cents, "vec_id", "embedding"),
        s"/tmp/scale/ivfpq$factor")
      val qAssigned = materialize(
        Similarity.ivfAssign(emb.filter(queries), cents, "vec_id", "embedding")
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cell")),
        s"/tmp/scale/ivfpqq$factor")
      time(s"ivf-pq-topk-indexed ${factor}x (prebuilt cell+code table)") {
        Similarity.ivfPqTopKIndexed(index, qAssigned, k = 3).count()
      }
      spark.catalog.clearCache()
    }
    // PQ codebook TRAINING payoff (q93): recall@10 of the ADC scan against
    // exact cosine ground truth, md5-constant codebooks vs kmeans-trained
    // ones (2 Lloyd iterations per subspace on replica-0 seed slices).
    // Training swaps the constants, not the operator — same PqQuantize
    // kernel, same ADC LUTs — so any recall gap is pure codebook quality.
    // Exact span dedup (q100): the shipped WINDOW form (rn=1 →
    // InferWindowGroupLimit → map-side partial top-1 per block, codegen'd
    // sort) vs the textbook min-struct AGGREGATION twin (struct buffer →
    // interpreted SortAggregate both sides of the exchange), under an
    // injected corpus-wide boilerplate block in half the docs (the
    // real-corpus hot key: a shared footer). Both forms compute the full
    // rebuild and are equality-checked at 1x. This measurement is WHY the
    // operator ships the window form.
    // The jsonlines DSv2 connector's (columnar) read path, full scan and
    // pruned+filtered. Two reps: rep 1 pays page-cache warmup, read rep 2.
    if (want("jsonlines")) ladder(1, 4, 16) { factor =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val dir = s"/tmp/scale/jsonl$factor"
      docsAt(spark, d, factor)
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .write.format("jsonlines").mode("overwrite").save(dir)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("n_chars", LongType)))
      val rd = spark.read.format("jsonlines").schema(schema).load(dir)
      for (rep <- 1 to 2) {
        time(s"jsonlines full scan ${factor}x rep$rep") {
          rd.agg(sum(length(col("text"))) + sum(col("n_chars")))
            .head().getLong(0)
        }
        time(s"jsonlines pruned+filtered ${factor}x rep$rep") {
          rd.filter(col("doc_id") % 7 === 0)
            .agg(sum(col("n_chars"))).head().getLong(0)
        }
      }
    }
    // NARROW rows: per-row costs (parse + dispatch) dominate over bytes.
    if (want("jsonlines")) {
      import org.apache.spark.sql.types.{LongType, BooleanType, DoubleType, StructField, StructType}
      val dir = "/tmp/scale/jsonl_narrow"
      spark.range(4000000L).select(col("id"),
          (col("id") % 3 === 0).as("ok"), (col("id") % 1000 / 8.0).as("score"))
        .repartition(8)
        .write.format("jsonlines").mode("overwrite").save(dir)
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("ok", BooleanType), StructField("score", DoubleType)))
      for (rep <- 1 to 2)
        time(s"jsonlines narrow 4M rep$rep") {
          spark.read.format("jsonlines").schema(schema).load(dir)
            .agg(sum(when(col("ok"), col("id")).otherwise(0L))
              + sum(col("score")).cast("long")).head().getLong(0)
        }
    }

    // Tiered sink (q108): the payoff claim is that READS of settled data
    // leave the JSON-parse regime — a factor× corpus compacted to a
    // parquet base plus a 1×-sized live jsonl tail versus the same data
    // all-jsonl. The cost side is measured too: compact() rewrites
    // base ∪ fresh, so its wall is O(sink), same class as the delta
    // epoch fold in `sinkbig` — the cadence lever, not a free lunch.
    // Alternating reps (the q32 lesson): rep 1 warms the page cache for
    // both layouts, read rep 2.
    if (want("tiered")) ladder(1, 4, 16) { factor =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("n_chars", LongType)))
      def shaped(df: DataFrame) = df.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"))
      val corpus = shaped(docsAt(spark, d, factor))
      val fresh = shaped(docsAt(spark, d, 1)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text")))
      val flatDir = s"/tmp/scale/tier_flat$factor"
      val tierDir = s"/tmp/scale/tier_base$factor"
      // clean slate: overwrite mode truncates jsonl data files but knows
      // nothing about a previous run's _base-<n> dirs
      Seq(flatDir, tierDir).foreach(delete)
      // layout A: the whole corpus + fresh batch live as jsonl tail
      corpus.write.format("jsonlines").mode("overwrite").save(flatDir)
      fresh.write.format("jsonlines").mode("append").save(flatDir)
      // layout B: corpus compacted to a parquet base, fresh stays tail
      corpus.write.format("jsonlines").mode("overwrite").save(tierDir)
      time(s"tiered compact ${factor}x corpus -> base (O(sink) rewrite)") {
        graft.sources.TieredJsonSink.compact(spark, tierDir, schema)
      }
      fresh.write.format("jsonlines").mode("append").save(tierDir)
      def agg(df: DataFrame): Long =
        df.filter(col("n_chars") >= 100L).agg(sum(col("n_chars")))
          .head().getLong(0)
      var flat = -1L; var tier = -2L
      for (rep <- 1 to 2) {
        time(s"tiered read flat-jsonl ${factor}x+1x rep$rep") {
          flat = agg(spark.read.format("jsonlines").schema(schema)
            .load(flatDir)); flat
        }
        time(s"tiered read base+tail ${factor}x+1x rep$rep") {
          tier = agg(graft.sources.TieredJsonSink.read(spark, tierDir, schema))
          tier
        }
      }
      require(flat == tier,
        s"tiered layouts disagree at ${factor}x: flat=$flat tiered=$tier")
      // maintenance cadence cost: absorbing the 1x tail re-rewrites the
      // factor× base — the amplification that sets how often to compact
      time(s"tiered re-compact ${factor}x base absorbing 1x tail") {
        graft.sources.TieredJsonSink.compact(spark, tierDir, schema)
      }
      spark.catalog.clearCache()
    }
    if (want("spandedup")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(
        docsAt(spark, d, factor).select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("shared footer boilerplate "), col("text")))
            .otherwise(col("text")).as("text")),
        s"/tmp/scale/spand$factor")
      // force kept_blocks AND new_text: count() alone would let Catalyst
      // prune the computed columns (the q80 timing trap)
      def force(out: DataFrame): Long =
        out.agg(sum(col("kept_blocks")), sum(length(col("new_text"))))
          .head().getLong(0)
      var winSum = -1L; var aggSum = -2L
      // Two alternating reps: rep 1 pays input/shuffle warmup for BOTH
      // forms, rep 2 is the steady-state comparison (the q32 lesson:
      // first-timed-form-loses is an ordering artifact, not a plan fact).
      for (rep <- 1 to 2) {
        time(s"span-dedup window-form (shipped) ${factor}x rep$rep") {
          winSum = force(TextDedup.spanDedup(docs, "doc_id", "text", k = 3)); winSum
        }
        time(s"span-dedup min-struct-agg twin ${factor}x rep$rep") {
          val ex = docs.select(col("doc_id"),
              graft.functions.Text.blocks(
                graft.functions.Text.tokens(col("text")), 3).as("blks"))
            .select(col("doc_id"), posexplode(col("blks")).as(Seq("pos", "blk")))
          val kept = ex.groupBy(col("blk"))
            .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
            .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"), col("blk"))
          val rebuilt = kept.groupBy(col("doc_id"))
            .agg(count(lit(1)).as("kept_blocks"),
              array_join(transform(
                array_sort(collect_list(struct(col("pos"), col("blk")))),
                x => x.getField("blk")), " ").as("new_text"))
          aggSum = force(rebuilt); aggSum
        }
      }
      require(factor > 1 || aggSum == winSum,
        s"span-dedup forms disagree at 1x: agg=$aggSum window=$winSum")
      // CORPUS GROWTH: one 1×-sized incoming batch (half its docs repeat
      // corpus blocks, half bring new ones) against a pre-materialized
      // block registry of the factor× corpus — the q102 path — vs
      // re-running the global dedup over corpus+batch. The registry is an
      // ingest-time artifact (built once, amortized), so only the
      // per-batch costs are timed; the claim under test is O(batch +
      // registry shuffle) vs O(corpus).
      val registry = materialize(
        docs.select(explode(graft.functions.Text.blocks(
            graft.functions.Text.tokens(col("text")), 3)).as("blk"))
          .distinct(),
        s"/tmp/scale/spanreg$factor")
      val batch = materialize(batchAt(spark, d), s"/tmp/scale/spanbatch$factor")
      time(s"span-dedup incremental batch-vs-registry ${factor}x corpus") {
        force(TextDedup.spanDedupAgainst(batch, registry, "doc_id", "text", 3))
      }
      time(s"span-dedup global re-dedup ${factor}x corpus + batch") {
        force(TextDedup.spanDedup(docs.unionByName(batch), "doc_id", "text", 3))
      }
      spark.catalog.clearCache()
    }
    // BPE: the q105/q106 scale contracts, measured. TRAINING must be FLAT
    // across corpus growth (it runs on the top-N vocabulary sample — the
    // corpus-size-independent claim); SEGMENTATION runs over the corpus'
    // DISTINCT words, and the disjoint-replica corpus grows the
    // vocabulary linearly with the factor — the honest worst case (real
    // corpora share a Zipf head across shards; replicas here share
    // nothing), so segment time may track vocab size but never token
    // count. The top-N vocab AGGREGATION that feeds training is the one
    // corpus-proportional stage (a groupBy over the token stream) and is
    // timed separately so the flat-training claim isn't polluted by it.
    if (want("bpe")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/bpedocs$factor")
      val toks = docs.select(explode(
        graft.functions.Text.tokens(col("text"))).as("w"))
      var vocab: DataFrame = null
      time(s"bpe top-500 vocab aggregation ${factor}x corpus") {
        vocab = materialize(
          toks.groupBy("w").agg(count(lit(1)).as("f"))
            .orderBy(col("f").desc, col("w").asc).limit(500),
          s"/tmp/scale/bpevocab$factor")
        vocab.count()
      }
      var merges: Seq[(String, String)] = null
      time(s"bpe train 8 merges on top-500 sample (${factor}x corpus behind it)") {
        val m = graft.operators.Bpe.trainMerges(vocab, "w", "f", nMerges = 8)
          .orderBy("rank").collect()
        merges = m.map(r => (r.getString(1), r.getString(2))).toSeq
        m.length.toLong
      }
      var distinctWords: DataFrame = null
      time(s"bpe distinct-vocab extraction ${factor}x") {
        distinctWords = materialize(toks.distinct(), s"/tmp/scale/bpedist$factor")
        distinctWords.count()
      }
      time(s"bpe segment full distinct vocab ${factor}x") {
        graft.operators.Bpe.applyMerges(distinctWords, "w", merges)
          .agg(sum(col("n_pieces"))).head().getLong(0)
      }
      graft.Caches.clearAll(spark)
    }
    // DSIR selection: the model is bucket-bounded (≤1024 rows however big
    // the corpus), so train cost tracks the one feature aggregate and
    // score cost is the broadcast join + doc rollup — both linear, no
    // knee. Target stays FIXED (the 1× src0-like slice): the deployment
    // shape is a small quality corpus steering an ever-growing pool.
    if (want("dsir")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/dsird$factor")
      // target = 250 docs of replica 0 ONLY (ids < 250): genuinely fixed
      // across factors — `% 1000000 < 250` would take 250 docs from EVERY
      // replica, growing the "fixed" target with the corpus
      val target = docs.filter(col("doc_id") < 250)
      val raw = docs.filter(col("doc_id") >= 250)
      var stats: DataFrame = null
      time(s"dsir model fit (bucket stats) ${factor}x corpus") {
        stats = materialize(
          graft.operators.Dsir.bucketStats(raw, target, "doc_id", "text", 1024),
          s"/tmp/scale/dsirstats$factor")
        stats.count()
      }
      time(s"dsir score+select top-100 ${factor}x corpus") {
        graft.operators.Dsir.resample(
          graft.operators.Dsir.scoreAgainst(raw, stats, "doc_id", "text", 1024),
          "doc_id", 100).count()
      }
      graft.Caches.clearAll(spark)
    }
    // Span corruption + packing: one doc-keyed shuffle for the examples,
    // one shard-keyed shuffle for the packer — both linear in the corpus.
    if (want("spancorrupt")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/scd$factor")
      time(s"span-corrupt examples ${factor}x corpus") {
        graft.operators.SpanCorrupt.examples(docs, "doc_id", "text", 150)
          .agg(sum(col("n_masked")), sum(length(col("inputs"))))
          .head().getLong(0) // forced metric (masked tokens), no extra job
      }
      time(s"span-corrupt -> pack 512 rollup ${factor}x corpus") {
        val ex = graft.operators.SpanCorrupt.examples(docs, "doc_id", "text", 150)
          .select(col("doc_id"),
            (col("n_tokens") + lit(2L) * col("n_spans")).as("cost"))
        graft.operators.Packing.packByBudget(ex, "doc_id", "cost", 512L, 8, "t5")
          .groupBy(col("shard"), col("pack"))
          .agg(count(lit(1)).as("n")).count()
      }
      graft.Caches.clearAll(spark)
    }
    // Substring excision (q113/q114): the gram-keyed stats window over
    // the FULL token stream is the big exchange — linear in corpus; the
    // incremental form pays O(batch + registry shuffle) instead of
    // re-exchanging the corpus every epoch.
    if (want("substr")) {
     // the incoming batch is factor-INDEPENDENT by contract (the fixed
     // 1×-sized epoch); materialize it once, not per tier
     val batch = materialize(batchAt(spark, d), s"/tmp/scale/subbatch")
     ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/sub$factor")
      def force(out: DataFrame): Long =
        out.agg(sum(col("n_removed")), sum(length(col("new_text"))))
          .head().getLong(0)
      time(s"substring-excise global ${factor}x corpus") {
        force(TextDedup.substringExcise(docs, "doc_id", "text", 6))
      }
      val registry = materialize(
        docs.select(explode(graft.functions.Text.shingles(
            graft.functions.Text.tokens(col("text")), 6)).as("gram"))
          .distinct(),
        s"/tmp/scale/subreg$factor")
      time(s"substring-excise incremental batch-vs-registry ${factor}x corpus") {
        force(TextDedup.substringExciseAgainst(batch, registry,
          "doc_id", "text", 6))
      }
      time(s"substring-excise global re-run ${factor}x corpus + batch") {
        force(TextDedup.substringExcise(docs.unionByName(batch),
          "doc_id", "text", 6))
      }
      graft.Caches.clearAll(spark)
     }
    }
    // gramreg: the LARGE-batch registry read (r13 verdict #3). The
    // literal-pushdown path (bucketreg) dies when per-batch distinct
    // values ≫ buckets — and the gram registry's batches carry roughly
    // per-token distinct grams, far past any IN-list. The scale form is
    // the storage-partitioned JOIN: registry bucketed by `gram`, the
    // excision's registry join + novel-gram anti-join satisfy their
    // clustering straight off the bucketed scan. Metric: total shuffle
    // WRITE records per excision — the flat registry is re-SHUFFLED in
    // full every batch (grows ∝ corpus), the bucketed one contributes
    // zero shuffle rows (per-batch shuffle tracks the BATCH).
    if (want("gramreg")) {
      val batch = materialize(batchAt(spark, d), s"/tmp/scale/gramregbatch")
      def force(out: DataFrame): Long =
        out.agg(sum(col("n_removed")), sum(length(col("new_text"))))
          .head().getLong(0)
      // broadcast pinned OFF: at probe sizes AQE would broadcast the
      // registry and hide the exchange under test; at the 100 TB
      // registry size broadcast is not on the table
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        ladder(1, 4, 16, 64) { factor =>
          val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/gr$factor")
          val flatPath = s"/tmp/scale/grflat$factor"
          docs.select(explode(graft.functions.Text.shingles(
              graft.functions.Text.tokens(col("text")), 6)).as("gram"))
            .distinct().write.mode("overwrite").parquet(flatPath)
          val tbl = s"scale_gram_reg_$factor"
          dropTable(tbl)
          graft.sources.Bucketing.writeBucketed(
            spark.read.parquet(flatPath), tbl, 64, "gram")
          val regRows = spark.read.parquet(flatPath).count()
          // the registry-side exchange is the one a bucketed layout
          // removes: each row carries its plan's exchange count
          def excise(bucketed: Boolean) = TextDedup.substringExciseAgainst(batch,
            if (bucketed) spark.table(tbl).select(col("gram"))
            else spark.read.parquet(flatPath), "doc_id", "text", 6)
          def exchanges(bucketed: Boolean) = Seq("exchanges" ->
            graft.sources.Bucketing.withForcedBucketedScan(spark) {
              graft.sources.Bucketing.countShuffles(excise(bucketed))
            })
          var flat, bucketed = 0L
          time(s"gramreg flat ${factor}x ($regRows-gram registry)", exchanges(false)) {
            flat = force(excise(false)); flat
          }
          time(s"gramreg bucketed ${factor}x ($regRows-gram registry)", exchanges(true)) {
            bucketed = graft.sources.Bucketing.withForcedBucketedScan(spark) {
              force(excise(true))
            }
            bucketed
          }
          require(flat == bucketed, s"flat/bucketed excision disagree: $flat vs $bucketed")
          spark.sql(s"DROP TABLE $tbl")
          graft.Caches.clearAll(spark)
        }
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    if (want("pqtrain")) ladder(1, 4) { factor =>
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val queries = col("vec_id") % 1000000L < 20
      val exact = materialize(
        Similarity.bruteForceTopK(emb, emb.filter(queries),
          "vec_id", "embedding", k = 10).select(col("qid"), col("cid")),
        s"/tmp/scale/pqexact$factor")
      val truth = exact.count()
      def recall(adc: DataFrame, name: String): Unit = {
        var hit = 0L
        time(s"$name recall@10", Seq("recall_at_10" -> hit.toDouble / truth)) {
          hit = adc.select(col("qid"), col("cid"))
            .join(exact, Seq("qid", "cid")).count()
          hit
        }
      }
      recall(Similarity.pqAdcTopK(emb, "vec_id", "embedding", queries, k = 10),
        s"adc-md5-codebooks ${factor}x")
      var trained: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = null
      time(s"pq-train ${factor}x (4 subspaces, 2 Lloyd iters, ${2000 * factor} vecs)") {
        trained = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
          col("vec_id") < Similarity.PqK, iters = 2)
        trained.length.toLong
      }
      recall(Similarity.pqAdcTopK(emb, "vec_id", "embedding", queries, k = 10,
        codebook = trained), s"adc-trained ${factor}x")
      spark.catalog.clearCache()
    }
    // Bloom semi-join reduction (q85): the claim is SHUFFLE BYTES, not
    // wall — each row carries both. The contamination pipeline joins the
    // huge corpus shingle stream against a small probe, so the gate
    // should cut the corpus side's exchange to ~the contaminated fraction
    // while the results stay bit-identical (q85's oracle IS q61's).
    //
    // Fixture shape matters: probe = replica 0, corpus = the OTHER
    // replicas (disjoint shingle spaces by construction) + a 2% slice
    // of replica 0 as the planted leak. The gate can then kill
    // ~(factor−1)/factor of the corpus shingle stream before the
    // exchange — the production shape, where a few thousand eval docs
    // probe a training corpus that mostly does not contain them. (A
    // first cut probed dense same-corpus splits: near-total shingle
    // overlap left nothing to prune — the gate only earns its bloom
    // when the non-matching fraction dominates, which is the point.)
    if (want("prune")) ladder(4, 16) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/docs$factor")
      val probe = docs.filter(col("doc_id") < 1000000L)
      val corpus = docs.filter(col("doc_id") >= 1000000L)
        .unionByName(docs.filter(col("doc_id") < 1000000L &&
          col("doc_id") % 50 === 0))
      time(s"contamination-plain ${factor}x (${5000 * factor} docs)") {
        TextDedup.contaminationAgainst(probe, corpus, "doc_id", "text",
          k = 5).count()
      }
      time(s"contamination-bloom ${factor}x") {
        TextDedup.contaminationAgainst(probe, corpus, "doc_id", "text",
          k = 5, bloomPrune = Some((1000000L, 1L << 23))).count()
      }
      spark.catalog.clearCache()
    }
    // Sketch family (q82/q83) vs the exact forms they stand in for. The
    // exact heavy-hitter count shuffles every distinct key; the CMS path
    // shuffles ≤ depth·width cells per map task — its exchange traffic is
    // CONSTANT in replicas, so the wall gap vs exact widens with scale
    // (locally both are scan-bound; on a cluster the exact form's shuffle
    // grows with the key space while the sketch's does not). Same for
    // per-day distinct: count(distinct) vs the k-bounded KMV buffer.
    if (want("sketch")) ladder(1, 4, 16) { factor =>
      val ev = materialize(eventsAt(spark, d, factor), s"/tmp/scale/sev$factor")
        .withColumn("day", expr("ts_us div 86400000000"))
      time(s"cms-build+estimate ${factor}x (${100000 * factor} events)") {
        val sk = graft.operators.Sketches.cmsSketch(ev, col("user_id"),
          lit(1L), 4, 256, groups = Seq("day"))
        graft.operators.Sketches.cmsEstimate(
          graft.operators.Sketches.cmsMerge(sk),
          ev.filter(col("user_id") % 5 === 0), col("user_id"), 4, 256).count()
      }
      time(s"exact-hh-groupby ${factor}x") {
        ev.filter(col("user_id") % 5 === 0).groupBy("user_id").count().count()
      }
      time(s"kmv-distinct-perday ${factor}x") {
        graft.operators.Sketches.kmvDistinct(ev, Seq("day"),
          col("user_id"), 32).count()
      }
      time(s"exact-distinct-perday ${factor}x") {
        ev.groupBy("day").agg(countDistinct(col("user_id"))).count()
      }
      spark.catalog.clearCache()
    }
    // Sink/driver family (q76/q78/q91) on replica-scaled RAW event
    // tables, run through the registered queries unchanged. appendSeries
    // is one explicit repartition on the doc key → wall ∝ rows. The
    // chunked driver appends one O(chunk) delta per chunk and folds the
    // whole sink once per epoch (q78's delta-log sink); q91's
    // height-bucketed sink merges only the buckets each chunk touches. At
    // this bootstrap scale the sink never outgrows one epoch's input;
    // `sinkbig` measures the regime where it does.
    if (want("sinks")) ladder(1, 4, 16) { factor =>
      val dir = s"/tmp/scale/sink$factor"
      val base = Tables(spark, d, "events")
      val ninetyDaysNs = 90L * 86400 * 1000000000L
      replicas(factor)(i => base
          .withColumn("event_id", col("event_id") + i * 100000000L)
          .withColumn("user_id", col("user_id") + i * 1000000L)
          .withColumn("ts", col("ts") + i * ninetyDaysNs))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      for (name <- Seq("q76_append_series", "q78_incremental_driver",
          "q91_partitioned_driver")) {
        time(s"$name ${factor}x (${100000 * factor} events)") {
          SparkEntry.queries(name)(spark, dir).count()
        }
        spark.catalog.clearCache()
      }
    }
    // The q91 REGIME probe: a sink persistently ≫ one epoch's input — the
    // steady-state follower the height-bucketed sink exists for. The
    // bootstrap-scale "sinks" section honestly measures q91 SLOWER than
    // the delta-log because there the sink never exceeds one epoch; here
    // a sink of `factor` epochs (64 and 256 by default: 6.4M and 25.6M
    // docs) is PRE-MATERIALIZED in both layouts and ONE 100k-row epoch
    // (5 chunks, first chunk overlapping the tail bucket as a redelivery)
    // runs through each form. Wall is noisy on this host (±40%, see
    // SCALE.md); BYTES READ (`rchar_bytes`) is the structural signal: the
    // bucketed form must read O(touched buckets) per chunk while the
    // delta fold reads the whole sink once per epoch. Spark's input
    // metrics showed < 1 MiB for a 243 MiB full scan of this sink, and
    // rchar includes non-parquet reads (jars, shuffle spill), so the
    // calibration row anchors what a true full-sink scan costs in the
    // same units.
    if (want("sinkbig")) {
      import graft.operators.Merge
      val width = 20000L
      def shape(ids: DataFrame) = ids.select(
        md5(concat(lit("k"), col("id"))).as("_key"),
        (col("id") % 1000).as("user_id"),
        (col("id") % 9973).as("value_c"),
        col("id").as("h"))
      // the fold's epoch cost must track the sink's epochs while the
      // bucketed chunks stay flat
      ladder(64, 256) { epochsHeld =>
        val sinkRows = 100000L * epochsHeld
        val tag = s"${epochsHeld}ep"
        val bDir = s"/tmp/scale/bigsink_hb_$tag"
        val dDir = s"/tmp/scale/bigsink_delta_$tag"
        // pre-materialize: the same state in the bucketed layout (exactly
        // the operator's partition scheme) and as a folded delta-log base
        shape(spark.range(sinkRows).toDF("id"))
          .withColumn("__hb", expr(s"h div ${width}L"))
          .write.mode("overwrite").partitionBy("__hb").parquet(bDir)
        shape(spark.range(sinkRows).toDF("id"))
          .write.mode("overwrite").parquet(dDir)
        // one epoch: 100k rows in 5 chunks; chunk 0 re-delivers the sink's
        // last 10k heights (dup keys — first-write-wins must absorb them)
        val chunks = graft.streaming.Incremental.chunkRanges(
          sinkRows - 10000L, sinkRows + 90000L, 20000L)
        chunks.zipWithIndex.foreach { case ((lo, hi), i) =>
          time(s"hb-chunk$i $tag [${lo},${hi})") {
            Merge.upsertPartitionedByHeight(spark, bDir,
              shape(spark.range(lo, hi).toDF("id")), "_key", Merge.Ignore,
              "h", "h", width)
            hi - lo
          }
        }
        chunks.zipWithIndex.foreach { case ((lo, hi), i) =>
          time(s"delta-append$i $tag [${lo},${hi})") {
            Merge.appendDelta(spark, dDir, shape(spark.range(lo, hi).toDF("id")))
            hi - lo
          }
        }
        // counter calibration: a forced full scan of the base (crc over
        // the wide _key column defeats column pruning) — the fold's
        // bytes-read number is only meaningful relative to this
        time(s"calibration $tag: full scan of the ${sinkRows / 1000000}M-doc base") {
          spark.read.parquet(dDir)
            .agg(sum(crc32(col("_key"))), sum(col("h"))).head()
          sinkRows
        }
        time(s"delta-epoch-fold $tag (the O(sink) step)") {
          Merge.finalizeDeltas(spark, dDir, "_key", Merge.Ignore, "h")
          sinkRows + 90000L
        }
        // both forms must land on the same logical state: identical doc
        // count and content checksums
        time(s"end-state check $tag (bucketed == delta)") {
          def state(dir: String) = spark.read.parquet(dir)
            .agg(count(lit(1)), sum(crc32(col("_key"))), sum(col("h")))
            .head()
          val (bucketed, delta) = (state(bDir), state(dDir))
          require(bucketed == delta,
            s"sink end states diverged: bucketed=$bucketed delta=$delta")
          bucketed.getLong(0)
        }
        spark.catalog.clearCache()
      }
    }
    // Top-k physical forms at large candidate fan-in: the window form
    // shuffles every scored row; the partial-agg form crosses the
    // exchange with ≤ k rows per (group, map task).
    if (want("topk")) ladder(16, 64) { factor =>
      // self-contained: don't depend on the "ann" section having run first
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val q = emb.filter(col("vec_id") % 1000000L < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          Similarity.norm(col("embedding")).as("qn"))
      val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
        Similarity.norm(col("embedding")).as("cn"))
      def scored = c.crossJoin(broadcast(q)).filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          Similarity.cosFromNorms(col("qv"), col("cv"), col("qn"), col("cn"))
            .as("cos_pm"))
      val fanIn = 2000L * factor
      time(s"topk-window ${factor}x (${fanIn} candidates/query)") {
        Dedup.keepFirstK(scored, Seq(col("qid")),
          Seq(col("cos_pm").desc, col("cid").asc), 5, "rank").count()
      }
      time(s"topk-agg ${factor}x (${fanIn} candidates/query)") {
        TopK.topKByScore(scored, col("qid"), col("cid"), col("cos_pm"), 5).count()
      }
      spark.catalog.clearCache()
    }
    // Monitoring + retrieval family (r15: q156–q160). docsAt replicas have
    // DISJOINT vocabularies (every token is r{i}_-prefixed), so the two
    // bm25 probes split the cost honestly: fixed queries from replica 0
    // only ever touch replica-0 posting lists (score side bounded; what
    // grows is the index build — tokenize + tf/df/dl aggregates), while
    // queries sampled across every replica grow the candidate set
    // linearly with the corpus. Drift is two keyed aggs over bounded
    // bins; the differ is one co-partitioned full-outer join; padded
    // batching is one window shuffle — all expected ~linear.
    // The split family's registry economics (q164/streamingSplitAssign):
    // with signatures + split keys MATERIALIZED, assigning a FIXED-size
    // arriving batch must cost per-batch work as the standing corpus
    // grows — the banded candidate join only forms batch×standing pairs
    // (never standing×standing), so candidate volume tracks the batch's
    // band buckets. Batch = the 1× corpus re-ingested under fresh ids
    // (every doc an exact near-dup of its standing origin — maximal
    // honest match volume).
    if (want("splitreg")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/docs$factor")
      time(s"split registry build (sigs+labels) ${factor}x (${5000L * factor} docs)") {
        TextDedup.minhashSignatures(docs, "doc_id", "text", 3, 16)
          .write.mode("overwrite").parquet(s"/tmp/scale/spsig$factor")
        val sigsR = spark.read.parquet(s"/tmp/scale/spsig$factor")
        TextDedup.dupClusters(
            TextDedup.lshCandidatePairs(sigsR, 16, 4)
              .filter(col("n_sig_equal") >= 8), "doc_a", "doc_b")
          .select(col("node").as("edoc"), col("cluster"))
          .write.mode("overwrite").parquet(s"/tmp/scale/splab$factor")
        graft.Caches.clearAll(spark) // lshCandidatePairs persists its input
        spark.read.parquet(s"/tmp/scale/splab$factor").count()
      }
      val batch = materialize(
        docs.filter(col("doc_id") < 1000000L)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text")),
        s"/tmp/scale/spbatch$factor")
      time(s"split-assign fixed-5000-batch vs ${factor}x registry") {
        val bSigs = TextDedup.minhashSignatures(batch, "doc_id", "text", 3, 16)
        graft.streaming.Incremental.splitAssignAgainst(batch, bSigs,
          spark.read.parquet(s"/tmp/scale/spsig$factor"),
          spark.read.parquet(s"/tmp/scale/splab$factor"),
          "doc_id", 16, 4, 8,
          Seq("train" -> 90, "val" -> 5, "test" -> 5), "exp1").count()
      }
      graft.Caches.clearAll(spark)
    }
    if (want("monitor")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor), s"/tmp/scale/docs$factor")
      val nd = 5000L * factor
      val qFixed = queriesOf(docs, col("doc_id") < 200)
      time(s"bm25 fixed-200-queries ${factor}x (${nd} docs)") {
        TermStats.bm25TopK(docs, qFixed, "doc_id", "text", "q_id", "qt", 5)
          .count()
      }
      val qGrow = queriesOf(docs, col("doc_id") % 1000L === 0)
      time(s"bm25 growing-queries ${factor}x (${5 * factor} q/replica)") {
        TermStats.bm25TopK(docs, qGrow, "doc_id", "text", "q_id", "qt", 5)
          .count()
      }
      val binned = docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          Sampling.hashBucket(col("doc_id"), "drift", 2).as("half"))
        .select(col("half"), lit("n_chars").as("feature"),
          expr("n_chars div 64").as("bin"))
      time(s"drift-tvd ${factor}x") {
        graft.operators.Drift.tvd(
          binned.select(col("feature"), col("bin"),
            when(col("half") === 0, "a").otherwise("b").as("split")),
          Seq("feature"), "bin", "split", "a", "b").count()
      }
      val prevSnap = docs.select(col("doc_id"), md5(col("text")).as("content"),
        (col("doc_id") % 20).as("source"))
      val curSnap = prevSnap.filter(col("doc_id") % 7 =!= 0)
      time(s"snapshot-diff ${factor}x") {
        graft.operators.SnapshotDiff.diffCounts(prevSnap, curSnap,
          "doc_id", "content", "source").count()
      }
      val lens = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("len"))
      time(s"padded-batches ${factor}x") {
        Packing.paddedBatches(lens, "doc_id", "len", 16, 8, "pb", 32L)
          .agg(sum(col("n_pad"))).head().getLong(0)
      }
      spark.catalog.clearCache()
    }
    // Retrieval-quality family (q167/q168/q169): what grows with the
    // corpus and what stays query-footprint. RM3 at probe scale pays two
    // corpus-stat rollups per call (the bm25reg finding — a standing
    // deployment materializes postings+stats and pays only the term
    // joins); the MMR split shows the greedy re-rank is
    // corpus-independent once the candidate leg is paid.
    if (want("retrieval")) ladder(1, 4, 16, 64) { factor =>
      val docs = materialize(docsAt(spark, d, factor),
        s"/tmp/scale/docs$factor")
      val nd = 5000L * factor
      val qFixed = queriesOf(docs, col("doc_id") < 200)
      time(s"rm3 two-pass fixed-200-queries ${factor}x ($nd docs)") {
        val postings = TermStats.bm25Postings(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (dfq, dl, corp) = TermStats.bm25Stats(postings)
          val base = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp,
            qFixed, "q_id", "qt", k = 5)
          val orig = qFixed.select(col("q_id").as("q"),
            explode(col("qt")).as("term")).distinct()
          val exp = TermStats.rm3ExpansionTerms(base, postings, dfq, corp,
            orig, m = 3)
          val eqt = orig.unionByName(exp.select(col("q"), col("term")))
            .groupBy(col("q")).agg(collect_list(col("term")).as("qt"))
            .select(col("q").as("q_id"), col("qt"))
          TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, eqt,
            "q_id", "qt", k = 5).count()
        } finally { postings.unpersist(); () }
      }
      time(s"ndcg grading growing-queries ${factor}x (${5 * factor} q)") {
        val qGrow = queriesOf(docs, col("doc_id") % 1000L === 0)
        val lists = TermStats.bm25TopK(docs, qGrow, "doc_id", "text",
            "q_id", "qt", 5)
          .withColumn("rel", when(col("doc") === col("q"), lit(5))
            .otherwise(col("n_terms").cast("int")))
        TermStats.gradedNdcg(lists, "q", "rank", "rel", k = 5).count()
      }
      val emb = materialize(embAt(spark, d, factor), s"/tmp/scale/emb$factor")
      val nv = 2000L * factor
      def mmrPairsAnd(cands: DataFrame): Long = {
        val vecs = emb.select(col("vec_id").as("cid"),
            col("embedding").as("v"),
            graft.operators.Similarity.norm(col("embedding")).as("n"))
          .join(broadcast(cands.select(col("cid")).distinct()), Seq("cid"))
        val ca = cands.select(col("qid"), col("cid").as("a")).join(
          vecs.select(col("cid").as("a"), col("v").as("av"),
            col("n").as("an")), Seq("a"))
        val cb = cands.select(col("qid"), col("cid").as("b")).join(
          vecs.select(col("cid").as("b"), col("v").as("bv"),
            col("n").as("bn")), Seq("b"))
        val sims = ca.join(cb, Seq("qid")).filter(col("a") =!= col("b"))
          .select(col("qid"), col("a"), col("b"),
            graft.operators.Similarity.cosFromNorms(col("av"), col("bv"),
              col("an"), col("bn")).as("sim_pm"))
        graft.operators.Similarity.mmrDiversify(
          cands.select(col("qid"), col("cid"), col("cos_pm").as("rel_pm")),
          sims, k = 3).count()
      }
      time(s"mmr e2e brute-candidates ${factor}x ($nv vecs)") {
        mmrPairsAnd(graft.operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10))
      }
      val candsP = graft.operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 20), "vec_id", "embedding", k = 10)
        .persist()
      candsP.count()
      time(s"mmr rerank-only ${factor}x (candidates prepaid)") {
        mmrPairsAnd(candsP)
      }
      candsP.unpersist()
      spark.catalog.clearCache()
    }
    // k-core peel on the merged replica graph: disjoint replicas keep
    // the ROUND COUNT fixed (peel of a disjoint union = union of the
    // peels) while the per-round degree aggregate + two restrictions
    // scale with |E| — the probe isolates per-round shuffle cost from
    // convergence depth, the axis that actually grows at 100 TB.
    if (want("kcore")) ladder(1, 4, 16, 64) { factor =>
      val base = graft.queries.Graphs.edges(spark, d)
        .filter(col("w") <= 5000L).select(col("src"), col("dst")).distinct()
      val mega = materialize(
        replicas(factor) { i =>
          base.select(concat(col("src"), lit("#" + i)).as("src"),
            concat(col("dst"), lit("#" + i)).as("dst"))
        }, s"/tmp/scale/kcore$factor")
      val m = mega.count()
      time(s"kcore k=3 ${factor}x ($m edges)") {
        graft.operators.KCore.kCore(mega, "src", "dst", k = 3).count()
      }
      spark.catalog.clearCache()
    }
    // Projection/triangle family (q171–q174): disjoint replica prefixes
    // keep per-left expansion and per-node degrees CONSTANT, so the
    // curves read the |E|-proportional join/aggregate cost in isolation.
    if (want("cooccur")) ladder(1, 4, 16, 64) { factor =>
      import graft.operators.Cooccurrence
      val base = graft.queries.Graphs.edges(spark, d)
        .filter(col("w") <= 5000L).select(col("src"), col("dst")).distinct()
        .select(
          when(col("src").startsWith("c"), col("src")).otherwise(col("dst"))
            .as("cust"),
          when(col("src").startsWith("c"), col("dst")).otherwise(col("src"))
            .as("supp"))
      val mega = materialize(
        replicas(factor) { i =>
          base.select(concat(col("cust"), lit("#" + i)).as("cust"),
            concat(col("supp"), lit("#" + i)).as("supp"))
        }, s"/tmp/scale/cooccur$factor")
      val m = mega.count()
      val pj = Cooccurrence.project(mega, "cust", "supp", maxLeftDeg = 32)
        .persist()
      time(s"projection ${factor}x ($m bipartite edges)") { pj.count() }
      time(s"triangles ${factor}x") {
        Cooccurrence.triangleStats(pj.select(col("a"), col("b")), "a", "b")
          .count()
      }
      time(s"projection 3-batch fold ${factor}x") {
        val bb = mega.withColumn("__batch", pmod(crc32(col("cust")), lit(3)))
        var reg = Cooccurrence.project(bb.filter(col("__batch") === 0),
          "cust", "supp", maxLeftDeg = 32)
        for (i <- 1 until 3) {
          reg = Cooccurrence.projectFold(reg, bb.filter(col("__batch") === i),
            "cust", "supp", maxLeftDeg = 32).localCheckpoint(true)
        }
        reg.count()
      }
      pj.unpersist()
      // term associations over disjoint-vocabulary doc replicas: unigram
      // margins per replica constant, pair volume linear in tokens — the
      // curve isolates the pair-count shuffle + margin joins.
      val docs = materialize(docsAt(spark, d, factor),
        s"/tmp/scale/assocdocs$factor")
      time(s"term associations ${factor}x") {
        Cooccurrence.associationScores(
          Cooccurrence.termPairCounts(docs, "text", 5),
          Cooccurrence.termOccurrences(docs, "text"), 3).count()
      }
      spark.catalog.clearCache()
    }
    // Walk family (q178–q180): disjoint graph replicas — walk count and
    // edge count grow linearly, per-node degrees constant, so the curves
    // read the per-step join cost and the distance-2 candidate volume.
    if (want("walks")) ladder(1, 4, 16, 64) { factor =>
      import graft.operators.{Cooccurrence, Walks}
      val base = graft.queries.Graphs.edges(spark, d)
        .filter(col("w") <= 2000L).select(col("src"), col("dst")).distinct()
      val mega = materialize(
        replicas(factor) { i =>
          base.select(concat(col("src"), lit("#" + i)).as("src"),
            concat(col("dst"), lit("#" + i)).as("dst"))
        }, s"/tmp/scale/walks$factor")
      val m = mega.count()
      time(s"random walks ${factor}x ($m edges)") {
        Walks.randomWalks(mega, "src", "dst", walksPerNode = 2,
          length = 8, seed = 7).count()
      }
      // mirror q179's registered shape: the sentence frame is persisted
      // (both count passes read it); unpersisted, each pass recomputes
      // the 12.6M-row reassembly and the curve reads double work
      val docs = Walks.walkDocs(Walks.randomWalks(mega, "src", "dst",
          walksPerNode = 2, length = 8, seed = 7))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"walk docs ${factor}x") { docs.count() }
      time(s"walk skipgram (docs prepaid) ${factor}x") {
        Cooccurrence.associationScores(
          Cooccurrence.termPairCounts(docs, "text", 2),
          Cooccurrence.termOccurrences(docs, "text"), 2).count()
      }
      docs.unpersist()
      time(s"link prediction ${factor}x") {
        Cooccurrence.linkPrediction(mega, "src", "dst", 64).count()
      }
      spark.catalog.clearCache()
    }
    // WL family (q182–q184): disjoint replica suffixes keep per-node
    // degrees constant, so the refinement curve reads the per-round
    // keyed-shuffle cost in isolation (per-node cost = its degree, the
    // exact-WL floor). Labels are STRUCTURAL, so replicas share them —
    // left alone, per-label group membership (the kernel join's
    // quadratic term) would grow with factor and the curve would read
    // output growth, not engine cost. The kernel leg therefore
    // re-scopes labels per replica (suffix from the node's own #i),
    // emulating the 100× shape: label cardinality grows with the
    // corpus, per-label membership stays at the ≤25-city group count.
    if (want("wl")) ladder(1, 4, 16, 64) { factor =>
      import graft.operators.Walks
      val baseE = graft.queries.Graphs.edges(spark, d)
        .filter(col("w") <= 2000L)
      val mega = materialize(
        replicas(factor) { i =>
          baseE.select(concat(col("src"), lit("#" + i)).as("src"),
            concat(col("dst"), lit("#" + i)).as("dst"),
            concat(col("city"), lit("#" + i)).as("city"))
        }, s"/tmp/scale/wl$factor")
      val edges = materialize(mega.select(col("src"), col("dst")).distinct(),
        s"/tmp/scale/wle$factor")
      val m = edges.count()
      val wl = Walks.wlLabels(edges, "src", "dst", iterations = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"wl labels 3 rounds ${factor}x ($m edges)") { wl.count() }
      val nodeCity = mega.select(col("city"), col("src").as("node"))
        .unionByName(mega.select(col("city"), col("dst").as("node")))
        .distinct()
      time(s"wl fingerprints ${factor}x") {
        wl.join(nodeCity, Seq("node"))
          .groupBy(col("city"))
          .agg(md5(array_join(array_sort(collect_list(col("wl"))), ","))
            .as("fp"))
          .count()
      }
      val wlScoped = wl.withColumn("wl",
        concat(col("wl"), lit("|"), substring_index(col("node"), "#", -1)))
      time(s"wl kernel (df cap 20, replica-scoped labels) ${factor}x") {
        Walks.wlKernel(wlScoped, "node", "wl", nodeCity, "node", "city",
          maxLabelDf = 20).count()
      }
      wl.unpersist()
      spark.catalog.clearCache()
    }
    // Zipf-tail text probe (r16 verdict item): the driver's synthetic
    // documents have a DENSE vocabulary (median term df ≈ 77% of docs —
    // no tail), which stresses BM25/RM3 candidate volume but NOT the
    // regimes a real web corpus stresses: huge sparse vocab tables, LSH
    // band selectivity, head-term posting skew. This probe builds a
    // deterministic Zipfian corpus (rank ≈ exp(u·lnV) inverse-CDF of
    // Zipf(s≈1) — head term in nearly every doc, median type df ≈ 1)
    // and runs the bm25 / rm3 / minhash machinery over it, recording
    // vocab shape + candidate volumes alongside wall.
    if (want("zipf")) ladder(1, 4, 16, 64) { factor =>
      val nDocs = 10000L * factor
      val docs = zipfDocs(spark, 0L, nDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val postings = TermStats.bm25Postings(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (dfq, dl, _) = TermStats.bm25Stats(postings)
      var shape: org.apache.spark.sql.Row = null
      time(s"zipf corpus shape ${factor}x ($nDocs docs; rows = vocab)",
          Seq("median_df" -> shape.get(1), "max_df" -> shape.get(2))) {
        shape = dfq.agg(count(lit(1)).as("v"),
          expr("percentile_approx(df, 0.5)").as("med"),
          max(col("df")).as("mx")).head()
        shape.getLong(0)
      }
      val qs = queriesOf(docs, col("doc_id") % 100 === 0)
      val corp = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("a_tok"))
      time(s"zipf bm25 top-5 ${factor}x (${nDocs / 100} queries)") {
        TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5).count()
      }
      time(s"zipf rm3 two-pass ${factor}x (${nDocs / 100} queries)") {
        val base = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5)
        val orig = qs.select(col("q_id").as("q"),
          explode(col("qt")).as("term")).distinct()
        val exp = TermStats.rm3ExpansionTerms(base, postings, dfq, corp,
          orig, m = 3)
        val eqt = orig.unionByName(exp.select(col("q"), col("term")))
          .groupBy(col("q")).agg(collect_list(col("term")).as("qt"))
          .select(col("q").as("q_id"), col("qt"))
        TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, eqt,
          "q_id", "qt", k = 5).count()
      }
      time(s"zipf minhash-lsh pairs ${factor}x") {
        val sigs = TextDedup.minhashSignatures(docs, "doc_id", "text",
          k = 3, numHashes = 16)
        TextDedup.lshCandidatePairs(sigs, numHashes = 16, bands = 4)
          .count()
      }
      // the r16 pruned serves — the probe's own finding answered: same
      // queries, candidate generation cut at the index side, exact
      // rescore of survivors
      time(s"zipf bm25 PRUNED df-cap 1% ${factor}x") {
        TermStats.bm25TopKPruned(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5, capSharePm = 10000L).count()
      }
      val trunc = TermStats.bm25ImpactIndex(postings, dl, m = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      trunc.count() // index build outside the serve timing (build-once)
      time(s"zipf bm25 IMPACT m=64 serve ${factor}x") {
        TermStats.bm25TopKImpact(trunc, postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5).count()
      }
      // recall@5 vs exact on a 1/10 query subsample (exact full scoring
      // is the expensive thing this section exists to avoid — sample it)
      val qsSmall = qs.filter(col("q_id") % 1000 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact5 = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp,
          qsSmall, "q_id", "qt", k = 5)
        .select(col("q"), col("doc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nExact = exact5.count()
      def recall(served: org.apache.spark.sql.DataFrame): Long =
        served.select(col("q"), col("doc")).join(exact5, Seq("q", "doc"))
          .count() * 100 / math.max(1L, nExact)
      var pruned, impact = 0L
      time(s"zipf recall@5 vs exact (subsample) ${factor}x",
          Seq("pruned_recall_pct" -> pruned, "impact_recall_pct" -> impact)) {
        pruned = recall(TermStats.bm25TopKPruned(postings, dfq, dl, corp,
          qsSmall, "q_id", "qt", k = 5, capSharePm = 10000L))
        impact = recall(TermStats.bm25TopKImpact(trunc, postings, dfq, dl,
          corp, qsSmall, "q_id", "qt", k = 5))
        nExact
      }
      docs.unpersist(); postings.unpersist(); trunc.unpersist()
      qsSmall.unpersist(); exact5.unpersist()
      spark.catalog.clearCache()
    }
    // Impact-index m-scaling (r16): the zipf section showed recall@5
    // falling 84% → 69% as a FIXED m=64 met a 4× larger corpus; this
    // section measures the knob directly — recall and serve wall vs m
    // on one corpus (factor×10k docs), pinning the claim that m buys
    // recall back at serve cost that stays far below full scoring.
    if (want("zipfm")) ladder(1, 4, 16, 64) { factor =>
      val nDocs = 10000L * factor
      val docs = zipfDocs(spark, 0L, nDocs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      docs.count()
      val postings = TermStats.bm25Postings(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (dfq, dl0, _) = TermStats.bm25Stats(postings)
      val dl = dl0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corp = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("a_tok"))
      val qs = queriesOf(docs, col("doc_id") % 100 === 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qsSmall = qs.filter(col("q_id") % 1000 === 0)
      val exact5 = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp,
          qsSmall, "q_id", "qt", k = 5)
        .select(col("q"), col("doc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nExact = exact5.count()
      // the calibrated depth joins the sweep (r17): reading the SAME
      // recall at impactM(n) across factors is the flat-recall claim
      val mCal = TermStats.impactM(nDocs)
      for (m <- (Seq(64, 256, 1024) :+ mCal).distinct.sorted) {
        val tag = if (m == mCal) s"m=$m (impactM(n))" else s"m=$m"
        val trunc = TermStats.bm25ImpactIndex(postings, dl, m)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        trunc.count()
        time(s"zipfm impact $tag serve ${factor}x (${nDocs / 100} queries)") {
          TermStats.bm25TopKImpact(trunc, postings, dfq, dl, corp, qs,
            "q_id", "qt", k = 5).count()
        }
        var hits = 0L
        time(s"zipfm impact $tag recall@5 ${factor}x (subsample)",
            Seq("recall_pct" -> hits * 100 / math.max(1L, nExact))) {
          hits = TermStats.bm25TopKImpact(trunc, postings, dfq, dl, corp,
              qsSmall, "q_id", "qt", k = 5)
            .select(col("q"), col("doc")).join(exact5, Seq("q", "doc"))
            .count()
          hits
        }
        trunc.unpersist()
      }
      docs.unpersist(); postings.unpersist(); dl.unpersist()
      qs.unpersist(); exact5.unpersist()
      spark.catalog.clearCache()
    }
    // BM25 registry economics on the ZIPF vocabulary (r17, verdict item
    // 6): the r15 bm25reg probe priced registry-vs-rebuild on the dense
    // synthetic vocab (median df ≈ 77% of docs); a realistic Zipf tail
    // changes both sides — tokenization is the same, but the stats
    // rollups and the registry read now carry a huge sparse vocab table.
    // Fixed query set (the serve-side constant), corpus grown by factor;
    // the crossover = where (rebuild − registry) > 0 and by how much.
    if (want("zipfreg")) ladder(1, 4, 16, 64) { factor =>
      val nDocs = 10000L * factor
      val docs = zipfDocs(spark, 0L, nDocs)
      val docsM = materialize(docs, s"/tmp/scale/zrdocs$factor")
      val qFixed = queriesOf(docsM, col("doc_id") < 200)
      time(s"zipfreg postings build+materialize ${factor}x ($nDocs docs)") {
        TermStats.bm25Postings(docsM, "doc_id", "text")
          .write.mode("overwrite").parquet(s"/tmp/scale/zrpost$factor")
        spark.read.parquet(s"/tmp/scale/zrpost$factor").count()
      }
      time(s"zipfreg stats build+materialize ${factor}x") {
        val (dfq, dls, corp) = TermStats.bm25Stats(
          spark.read.parquet(s"/tmp/scale/zrpost$factor"))
        dfq.write.mode("overwrite").parquet(s"/tmp/scale/zrdf$factor")
        dls.write.mode("overwrite").parquet(s"/tmp/scale/zrdl$factor")
        corp.write.mode("overwrite").parquet(s"/tmp/scale/zrcorp$factor")
        spark.read.parquet(s"/tmp/scale/zrdf$factor").count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfreg full-rebuild serve ${factor}x (200 q)") {
        TermStats.bm25TopK(docsM, qFixed, "doc_id", "text", "q_id", "qt", 5)
          .count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfreg serve-from-postings ${factor}x (200 q)") {
        TermStats.bm25TopKFromPostings(
          spark.read.parquet(s"/tmp/scale/zrpost$factor"), qFixed,
          "q_id", "qt", 5).count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfreg serve-from-index ${factor}x (200 q)") {
        TermStats.bm25TopKFromIndex(
          spark.read.parquet(s"/tmp/scale/zrpost$factor"),
          spark.read.parquet(s"/tmp/scale/zrdf$factor"),
          spark.read.parquet(s"/tmp/scale/zrdl$factor"),
          spark.read.parquet(s"/tmp/scale/zrcorp$factor"),
          qFixed, "q_id", "qt", 5).count()
      }
      graft.Caches.clearAll(spark)
      // r18: the REGISTRY-served path (q206's machinery). Pre-r18,
      // impactIndexStats re-rolled df from the FULL postings registry and
      // corpus from the full dl registry per serve — exactly the
      // serve-from-postings decay this probe measured. With the additive
      // stats/ + corpus/ delta logs materialized at ingest, the registry
      // serve must track the serve-from-index (postings+stats) flat row.
      val ireg = s"/tmp/scale/zrireg$factor"
      delete(ireg)
      time(s"zipfreg registry ingest ${factor}x ($nDocs docs)") {
        graft.streaming.Incremental.impactBatchIngest(spark, ireg, docsM,
          "doc_id", "text", epoch = 0L)
        spark.read.parquet(s"$ireg/impact").count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfreg serve-from-REGISTRY ${factor}x (200 q)") {
        val trunc = graft.streaming.Incremental.impactIndexRegistry(
          spark, ireg)
        val (rp, rdf, rdl, rcorp) =
          graft.streaming.Incremental.impactIndexStats(spark, ireg)
        TermStats.bm25TopKImpact(trunc, rp, rdf, rdl, rcorp, qFixed,
          "q_id", "qt", 5).count()
      }
      graft.Caches.clearAll(spark)
    }
    // Registry-serve growth ATTRIBUTION (r19, verdict #6): the zipfreg
    // registry row is the best cell at every rung but grows
    // 2.8 → 4.6 → 15.5 s across 4×→16×→64×. Two candidate explanations:
    // (a) the calibrated depth m(n) ∝ n grows candidate volume linearly
    // (the recall contract's DESIGNED price — deeper lists buy flat
    // recall), or (b) an O(registry) term crept back (e.g. the rescore
    // join degrading from broadcast to a sort-merge shuffle of the
    // postings registry once the candidate set outgrows the broadcast
    // threshold). This section separates them on the SAME registries the
    // zipfreg section materialized: a fixed-m=64 control serve (flat ⇒
    // the growth is the calibration) and a join-type audit of the
    // executed calibrated-depth plan (any SMJ against the postings scan
    // = explanation (b)). Requires a prior `zipfreg` run's artifacts.
    if (want("zipfserve")) ladder(1, 4, 16, 64) { factor =>
      val ireg = s"/tmp/scale/zrireg$factor"
      require(new java.io.File(s"/tmp/scale/zrdocs$factor").isDirectory,
        s"zipfserve needs a prior zipfreg run (missing zrdocs$factor)")
      val docsM = spark.read.parquet(s"/tmp/scale/zrdocs$factor")
      val qFixed = queriesOf(docsM, col("doc_id") < 200)
      val trunc = graft.streaming.Incremental.impactIndexRegistry(spark, ireg)
      val (rp, rdf, rdl, rcorp) =
        graft.streaming.Incremental.impactIndexStats(spark, ireg)
      // control: the same registry served at FIXED depth 64 — the
      // truncation-of-the-truncation is pre-materialized so the serve
      // timing is pure candidate-generation + rescore
      val t64 = materialize(
        Dedup.keepFirstK(trunc, Seq(col("term")), TermStats.impactOrder,
            64, "__ir")
          .select(col("doc"), col("term"), col("tf"), col("dl")),
        s"/tmp/scale/ztr64_$factor")
      graft.Caches.clearAll(spark)
      time(s"zipfserve fixed-m=64 registry serve ${factor}x (200 q)") {
        TermStats.bm25TopKImpact(t64, rp, rdf, rdl, rcorp, qFixed,
          "q_id", "qt", 5).count()
      }
      graft.Caches.clearAll(spark)
      val servedCal = TermStats.bm25TopKImpact(trunc, rp, rdf, rdl, rcorp,
        qFixed, "q_id", "qt", 5)
      // the executed plan's join types ride on the row: any SMJ against
      // the postings scan is explanation (b)
      def joins = {
        val plan = servedCal.queryExecution.executedPlan.toString
        Seq("smj" -> "SortMergeJoin", "bhj" -> "BroadcastHashJoin",
          "shj" -> "ShuffledHashJoin").map { case (k, j) => k -> j.r.findAllIn(plan).size }
      }
      time(s"zipfserve calibrated-m registry serve ${factor}x (200 q)", joins) {
        servedCal.count()
      }
      graft.Caches.clearAll(spark)
    }
    // The 100 TB layout for the impact serve (r19): the zipfserve audit
    // found the calibrated-depth serve plans SMJ once the candidate set
    // outgrows the broadcast threshold — and an SMJ shuffles BOTH sides,
    // including the corpus-proportional postings/dl frames. On plain
    // parquet that is an O(registry) shuffle per serve batch; the
    // engine's stated registry convention (gramreg layout) is BUCKETED
    // catalog tables, where the doc-keyed side arrives pre-partitioned
    // and only the candidate side (∝ query footprint) shuffles. This
    // cell measures exactly that swap on the largest probe registry:
    // postings/dl doc-bucketed, the truncated index term-bucketed,
    // same serve, shuffle counts + wall compared. Requires a prior
    // `zipfreg` run's artifacts.
    if (want("zipfbucket")) ladder(1, 4, 16, 64) { factor =>
      import graft.sources.Bucketing
      val ireg = s"/tmp/scale/zrireg$factor"
      require(new java.io.File(s"/tmp/scale/zrdocs$factor").isDirectory,
        s"zipfbucket needs a prior zipfreg run (missing zrdocs$factor)")
      val docsM = spark.read.parquet(s"/tmp/scale/zrdocs$factor")
      val qFixed = queriesOf(docsM, col("doc_id") < 200)
      val (rp, rdf, rdl, rcorp) =
        graft.streaming.Incremental.impactIndexStats(spark, ireg)
      val trunc = graft.streaming.Incremental.impactIndexRegistry(spark, ireg)
      // the torn state publishImpactServeTables also clears, or the
      // probe dies on its second-ever run
      Seq(s"zb_post_$factor", s"zb_dl_$factor", s"zb_imp_$factor").foreach(dropTable)
      time(s"zipfbucket bucketed-table writes ${factor}x (one-time layout cost)") {
        Bucketing.writeBucketed(rp, s"zb_post_$factor", 32, "doc")
        Bucketing.writeBucketed(rdl, s"zb_dl_$factor", 32, "doc")
        Bucketing.writeBucketed(trunc, s"zb_imp_$factor", 32, "term")
        spark.table(s"zb_post_$factor").count()
      }
      graft.Caches.clearAll(spark)
      val flatServe = TermStats.bm25TopKImpact(trunc, rp, rdf, rdl, rcorp,
        qFixed, "q_id", "qt", 5)
      // the exchange-count difference between the two rows is the
      // registry-side exchanges the layout removed
      time(s"zipfbucket FLAT serve ${factor}x (200 q)",
          Seq("exchanges" -> Bucketing.countShuffles(flatServe))) {
        flatServe.count()
      }
      graft.Caches.clearAll(spark)
      val bServe = TermStats.bm25TopKImpact(
        spark.table(s"zb_imp_$factor"), spark.table(s"zb_post_$factor"),
        rdf, spark.table(s"zb_dl_$factor"), rcorp, qFixed, "q_id", "qt", 5)
      time(s"zipfbucket BUCKETED serve ${factor}x (200 q)",
          Seq("exchanges" -> Bucketing.countShuffles(bServe))) {
        bServe.count()
      }
      graft.Caches.clearAll(spark)
    }
    // Retention economics (r20, VERDICT r19 #1/#6): price the epoch
    // cut at a fixed retired share. Four equal ingest epochs; retire the
    // oldest (25% — below a 50% threshold, so the cut is DROP-ONLY:
    // directory deletes + delta-log filters, no surviving byte rewritten
    // and no index rebuild), then retire the next (cumulative 50% ≥ a 25%
    // threshold → the truncated index rebuilds from survivors — the
    // cut's one corpus-proportional READ, amortized by the threshold
    // rule). Requires a prior `zipfreg` run's artifacts.
    if (want("zipfretain")) ladder(1, 4, 16, 64) { factor =>
      import graft.streaming.Incremental
      require(new java.io.File(s"/tmp/scale/zrdocs$factor").isDirectory,
        s"zipfretain needs a prior zipfreg run (missing zrdocs$factor)")
      val docsM = spark.read.parquet(s"/tmp/scale/zrdocs$factor")
      val nDocs = 10000L * factor
      val quarter = nDocs / 4
      val reg = s"/tmp/scale/ztseg$factor"
      delete(reg)
      time(s"zipfretain ingest 4 epochs ${factor}x ($nDocs docs)") {
        for (e <- 0L until 4L)
          Incremental.impactBatchIngest(spark, reg,
            docsM.filter(col("doc_id") >= e * quarter &&
              col("doc_id") < (e + 1) * quarter),
            "doc_id", "text", epoch = e)
        spark.read.parquet(s"$reg/impact").count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfretain retire-25% (drop-only) ${factor}x") {
        Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L,
          rebuildSharePm = 500000L)
        spark.read.parquet(s"$reg/meta").count()
      }
      graft.Caches.clearAll(spark)
      time(s"zipfretain retire-to-50% (threshold rebuild) ${factor}x") {
        Incremental.retainImpactRegistry(spark, reg, minEpoch = 2L,
          rebuildSharePm = 250000L)
        spark.read.parquet(s"$reg/meta").count()
      }
      graft.Caches.clearAll(spark)
    }
    // Impact-registry compaction economics (r20): epochs below the
    // newest are SEALED (monotone-epoch require), so `compact_mark`
    // lets compaction skip once-compacted sealed segments and the
    // delta-log fold prune its dl membership read to the epochs still
    // carrying un-folded rows. COLD compacts the whole 4-epoch registry
    // (corpus-proportional by construction); STEADY compacts after one
    // FIXED-size (10k-doc) tail epoch with everything older sealed —
    // the standing-deployment cadence shape. If steady cost is flat
    // across the factor ladder while cold grows, compaction is
    // O(current segment + delta-log), not O(registry).
    // Requires a prior `zipfreg` run's artifacts.
    if (want("segcompact")) ladder(1, 4, 16, 64) { factor =>
      import graft.streaming.Incremental
      val nDocs = 10000L * factor
      // reuse a prior zipfreg run's corpus, else materialize the same
      // Zipf shape (identical formula) — this probe must be runnable
      // standalone at a fresh boot
      if (!new java.io.File(s"/tmp/scale/zrdocs$factor").isDirectory)
        zipfDocs(spark, 0L, nDocs)
          .write.mode("overwrite").parquet(s"/tmp/scale/zrdocs$factor")
      val docsM = spark.read.parquet(s"/tmp/scale/zrdocs$factor")
      val quarter = nDocs / 4
      val reg = s"/tmp/scale/zcseg$factor"
      delete(reg)
      for (e <- 0L until 4L)
        Incremental.impactBatchIngest(spark, reg,
          docsM.filter(col("doc_id") >= e * quarter &&
            col("doc_id") < (e + 1) * quarter),
          "doc_id", "text", epoch = e)
      graft.Caches.clearAll(spark)
      time(s"segcompact COLD compaction (4 segments, $nDocs docs) ${factor}x") {
        Incremental.compactImpactRegistry(spark, reg)
        spark.read.parquet(s"$reg/stats").count()
      }
      // two fixed-size tail epochs: the first seals the corpus-sized
      // segments behind the mark, the timed run then folds ONLY the
      // 10k-doc segments above it
      def tail(i: Long) = docsM.filter(col("doc_id") < 10000L)
        .select((col("doc_id") + nDocs + i * 10000L).as("doc_id"),
          col("text"))
      Incremental.impactBatchIngest(spark, reg, tail(0L),
        "doc_id", "text", epoch = 4L)
      Incremental.compactImpactRegistry(spark, reg) // advances mark to 3
      Incremental.impactBatchIngest(spark, reg, tail(1L),
        "doc_id", "text", epoch = 5L)
      graft.Caches.clearAll(spark)
      time(s"segcompact STEADY compaction (sealed skipped; " +
        s"current 10k docs) ${factor}x") {
        Incremental.compactImpactRegistry(spark, reg)
        spark.read.parquet(s"$reg/stats").count()
      }
      graft.Caches.clearAll(spark)
    }
    // q203 audit-leg pricing (r17 verdict #7): the registered q203 pays
    // BOTH legs — the df-cap pruned serve AND the full-scoring
    // hit_exact audit — by design (the audit IS the production
    // observation a cap tuning reads), but the bench then reads the sum
    // as "the serve's cost". Price them apart on the real sf0.1 corpus
    // at the registered query's exact shape so the production number is
    // on record next to the pinned one.
    if (want("prunedcost")) {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val postings = materialize(
        TermStats.bm25Postings(docs, "doc_id", "text"),
        "/tmp/scale/pcpost")
      val (dfq0, dl0, _) = TermStats.bm25Stats(postings)
      val dfq = materialize(dfq0, "/tmp/scale/pcdf")
      val dl = materialize(dl0, "/tmp/scale/pcdl")
      val corp = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("a_tok"))
      val qs = queriesOf(docs, col("doc_id") % 100 === 0)
      for (pass <- 1 to 2) {
        graft.Caches.clearAll(spark)
        time(s"prunedcost pruned-serve-only pass$pass (50 q)") {
          TermStats.bm25TopKPruned(postings, dfq, dl, corp, qs,
            "q_id", "qt", k = 5, capSharePm = 500000L).count()
        }
        graft.Caches.clearAll(spark)
        time(s"prunedcost full-exact-only pass$pass (50 q)") {
          TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
            "q_id", "qt", k = 5).count()
        }
        graft.Caches.clearAll(spark)
        time(s"prunedcost serve+audit (the q203 pin) pass$pass (50 q)") {
          val pruned = TermStats.bm25TopKPruned(postings, dfq, dl, corp,
            qs, "q_id", "qt", k = 5, capSharePm = 500000L)
          val exact = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp,
              qs, "q_id", "qt", k = 5)
            .select(col("q"), col("doc"), lit(1L).as("hit_exact"))
          pruned.join(exact, Seq("q", "doc"), "left_outer").count()
        }
      }
      graft.Caches.clearAll(spark)
    }
    // Impact-index INCREMENTAL maintenance cost (r17): the claim in
    // Incremental.streamingImpactIndex is per-batch write cost
    // O(batch appends + m·|vocab| index swap) with NO corpus-
    // proportional term outside the depth-crossing rebuilds. Fold a
    // fixed-size batch into standings of growing size (same Zipf
    // generator) and time the fold: the curve must stay FLAT as the
    // standing corpus grows (the index is m·V rows at every size), with
    // only the quantized-depth rebuild steps paying a postings-registry
    // scan. Uses the real streaming entry point via foreachBatch
    // equivalents: Merge/registry machinery identical.
    if (want("impinc")) ladder(1, 4, 16, 64) { factor =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val nStand = 10000L * factor
      val nBatch = 2000L
      val reg = s"/tmp/scale/impinc$factor/reg"
      // fresh registry per run — a stale one anti-joins the seed away
      delete(s"/tmp/scale/impinc$factor")
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[(Long, String)]
      val query = graft.streaming.Incremental.streamingImpactIndex(
        input.toDF().toDF("doc_id", "text"),
        s"/tmp/scale/impinc$factor/ckpt", reg, "doc_id", "text",
        epochOf = _ => 0L)
      try {
        // seed the standing corpus as one batch (this fold pays the
        // first build — excluded from the steady-state reading)
        val seed = zipfDocs(spark, 0L, nStand)
          .as[(Long, String)].collect()
        time(s"impinc seed ${factor}x ($nStand docs incl. first build)") {
          input.addData(seed.toIndexedSeq: _*)
          query.processAllAvailable(); 1L
        }
        // steady state: three fixed-size folds against the standing
        // registry — THE reading (flat across factors = the claim)
        for (b <- 0 until 3) {
          val from = nStand + b * nBatch
          val batch = zipfDocs(spark, from, from + nBatch)
            .as[(Long, String)].collect()
          time(s"impinc fold#${b + 1} ${factor}x ($nBatch docs into $nStand+)") {
            input.addData(batch.toIndexedSeq: _*)
            query.processAllAvailable(); 1L
          }
        }
        var meta: org.apache.spark.sql.Row = null
        time(s"impinc registry state ${factor}x (rows = impact rows)",
            Seq("m_built" -> meta.get(0), "n_docs" -> meta.get(1))) {
          meta = spark.read.parquet(s"$reg/meta").collect().head
          spark.read.parquet(s"$reg/impact").count()
        }
      } finally query.stop()
      spark.catalog.clearCache()
    }
    // Segmented vs monolithic curriculum WRITE cost (the r16 layout):
    // one streaming step at watermark 0.9 over a factor×100k standing
    // registry. The monolithic form snapshot-swaps the whole registry
    // (write O(registry)); the segmented form appends the newly served
    // prefix once and swaps only the 10% tail (write O(tail + batch)).
    // Both curves carry the same extendRegistry compute; the gap is pure
    // write amplification and should WIDEN linearly with factor.
    if (want("curseg")) ladder(1, 4, 16, 64) { factor =>
      import graft.operators.Ranks
      import graft.streaming.Incremental
      val w = Map("click" -> 4, "view" -> 2, "purchase" -> 1, "signup" -> 1,
        "error" -> 1)
      val standing = eventsAt(spark, d, factor)
        .select(col("event_id"), col("event_type"))
      val reg0 = Ranks.orderRegistry(standing, "event_type", "event_id",
        "cs", w, nBuckets = 64)
      val base = s"/tmp/scale/curseg$factor"
      reg0.write.mode("overwrite").parquet(s"$base/mono")
      val n = spark.read.parquet(s"$base/mono").count()
      val served = n * 9 / 10
      val r = spark.read.parquet(s"$base/mono")
      r.filter(col("pos") <= served).write.mode("overwrite")
        .parquet(s"$base/seg/frozen")
      r.filter(col("pos") > served).write.mode("overwrite")
        .parquet(s"$base/seg/tail")
      val batch = eventsAt(spark, d, 1)
        .select((col("event_id") + lit(900000000L)).as("event_id"),
          col("event_type"))
      // written-bytes accounting: local NVMe + page cache make a full
      // rewrite nearly free in WALL terms, so the wall curves alone
      // under-report the difference a remote object store would bill
      def duMb(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength / (1 << 20)
        else 0L
      }
      val segFrozenBefore = duMb(s"$base/seg/frozen")
      time(s"curriculum step MONOLITHIC ${factor}x ($n standing, w=0.9)",
          Seq("wrote_mb" -> duMb(s"$base/mono"))) {
        val next = Ranks.extendRegistry(spark.read.parquet(s"$base/mono"),
          batch, "event_type", "event_id", "cs", w, served, nBuckets = 64)
        graft.operators.Merge.replaceParquet(spark, s"$base/mono", next)
        spark.read.parquet(s"$base/mono").count()
      }
      time(s"curriculum step SEGMENTED  ${factor}x ($n standing, w=0.9)",
          Seq("frozen_delta_mb" -> (duMb(s"$base/seg/frozen") - segFrozenBefore),
            "tail_mb" -> duMb(s"$base/seg/tail"))) {
        val reg = Incremental.curriculumRegistry(spark, s"$base/seg")
        val next = Ranks.extendRegistry(reg, batch, "event_type",
            "event_id", "cs", w, served, nBuckets = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val gradFloor = spark.read.parquet(s"$base/seg/frozen")
            .agg(max(col("pos"))).head.getLong(0)
          next.filter(col("frozen") && col("pos") > gradFloor).drop("frozen")
            .write.mode("append").parquet(s"$base/seg/frozen")
          graft.operators.Merge.replaceParquet(spark, s"$base/seg/tail",
            next.filter(!col("frozen")).drop("frozen"))
        } finally { next.unpersist(); () }
        Incremental.curriculumRegistry(spark, s"$base/seg").count()
      }
      spark.catalog.clearCache()
    }
    // No-straddle packing (q198): the mapPartitions fold's linearity.
    // The fold is O(rows) with O(1) state per shard; the exchange +
    // secondary sort before it is the only super-constant stage, so the
    // curve should track the sort (n log n, shallow) — if it ever goes
    // superlinear beyond that, state is leaking across rows.
    if (want("nostraddle")) ladder(1, 4, 16, 64) { factor =>
      val ev = materialize(
        eventsAt(spark, d, factor).select(col("event_id"),
          (pmod(col("event_id"), lit(97L)) + 1L).as("cost")),
        s"/tmp/scale/nostraddle$factor")
      val n = ev.count()
      time(s"packNoStraddle ${factor}x ($n rows, budget 512, 64 shards)") {
        graft.operators.Packing.packNoStraddle(ev, "event_id", "cost",
          budget = 512L, shards = 64, salt = "ns").count()
      }
      spark.catalog.clearCache()
    }
    // Rank decomposition (q185/q186): the A/B this operator exists for.
    // 5 event types over factor×100k events — the naive per-group window
    // plans FIVE partitions regardless of data size (27 of 32 cores
    // idle, one full per-group sort each); the bucketed form keeps
    // 5×nBuckets. The gap should WIDEN with factor; the closed-form
    // interleave position adds only broadcast arithmetic on top.
    if (want("ranks")) ladder(1, 4, 16, 64) { factor =>
      import org.apache.spark.sql.expressions.Window
      val ev = materialize(
        eventsAt(spark, d, factor).select(col("event_id"), col("event_type")),
        s"/tmp/scale/ranks$factor")
      val n = ev.count()
      time(s"naive per-group window rank ${factor}x ($n rows)") {
        ev.withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(
              graft.functions.Text.baseHash32(
                concat(lit("rk:"), col("event_id"))).asc,
              col("event_id").asc)))
          .agg(sum(col("rn"))).collect().head.getLong(0)
        n
      }
      time(s"bucketed rank ${factor}x") {
        graft.operators.Ranks.shuffleRank(ev, Seq("event_type"), "event_id",
            "rk", nBuckets = 64)
          .agg(sum(col("rn"))).collect().head.getLong(0)
        n
      }
      time(s"interleave (closed-form positions) ${factor}x") {
        graft.operators.Ranks.interleave(ev, "event_type", "event_id", "rk",
            Map("click" -> 4, "view" -> 2, "purchase" -> 1, "signup" -> 1,
              "error" -> 1), nBuckets = 64)
          .agg(sum(col("pos"))).collect().head.getLong(0)
        n
      }
      spark.catalog.clearCache()
    }
  }
}
