package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Chunk, Quantiles, Sampling, Similarity, TermStats, TextDedup}
import graft.sources.Tables

/** Corpus-curation operators over the `documents` table — the statistics,
  * decontamination, and weighting stages a training-data pipeline runs
  * between raw ingestion and the dedup/mixing stages ([[LlmPipelines]],
  * [[Extensions]]): TF-IDF term weighting, eval-set decontamination,
  * Gopher-style repetition signals, exact length quantiles, temperature
  * mixing weights, C4-style boilerplate detection, and SimHash
  * hamming-banded near-dup pairs.
  *
  * Same invariants as the rest of the suite: scaled-integer outputs, every
  * candidate-generation step an equi-join (shingle / band block), oracle
  * twins in [[Oracles.curation]] built on identical md5 hashes and fold
  * order.
  */
object Curation {

  /** q60: the highest-TF-IDF term per document
    * ([[TermStats.topTermPerDoc]]: two keyed aggregates + a term-keyed
    * join; integer-portable idf — `(1e6·N) div df` — because `ln` rounds
    * differently across engines).
    */
  def q60TfidfTopTerm(spark: SparkSession, d: String): DataFrame =
    TermStats.topTermPerDoc(Tables.balanced(spark, d, "documents"),
        "doc_id", "text")
      .withColumnRenamed("doc", "doc_id")

  /** q61: train/test contamination — test-split documents (the q46 hash
    * split) sharing 3-shingles with the train split
    * ([[TextDedup.contaminationAgainst]]: one shingle-keyed equi-join,
    * never doc×doc).
    */
  def q61Contamination(spark: SparkSession, d: String): DataFrame = {
    val split = Sampling.hashSplit(Tables.balanced(spark, d, "documents"),
      "doc_id", "exp1", Seq("train" -> 90, "val" -> 5, "test" -> 5))
    TextDedup.contaminationAgainst(
        split.filter(col("split") === "test"),
        split.filter(col("split") === "train"),
        "doc_id", "text", k = LlmPipelines.ShingleK)
      .withColumnRenamed("doc", "doc_id")
  }

  /** q85: q61's decontamination with the [[graft.operators.Prune]] Bloom
    * semi-join gate on the corpus shingle stream — the 100 TB shuffle
    * reducer. The oracle is the SAME exact-twin SQL as q61: false
    * positives pass the gate and die in the exact join, so the pruned
    * pipeline must hash-match the unpruned semantics — that equality IS
    * what this query verifies. Sizing: 1M bits over ≤100k probe shingles
    * (≈10 bits/key) holds the FP rate near 1% at every test SF.
    */
  def q85BloomContamination(spark: SparkSession, d: String): DataFrame = {
    val split = Sampling.hashSplit(Tables.balanced(spark, d, "documents"),
      "doc_id", "exp1", Seq("train" -> 90, "val" -> 5, "test" -> 5))
    TextDedup.contaminationAgainst(
        split.filter(col("split") === "test"),
        split.filter(col("split") === "train"),
        "doc_id", "text", k = LlmPipelines.ShingleK,
        bloomPrune = Some((100000L, 1L << 20)))
      .withColumnRenamed("doc", "doc_id")
  }

  /** q87: PII scrubbing ([[graft.functions.Text.redactPii]]) — the
    * redaction pass a shipped corpus runs. The synthetic docs carry no
    * PII, so each doc PLANTS a deterministic email/IP/phone/id-number
    * from its key (both engines construct the identical string); output
    * is the per-pattern counts plus the md5 of the redacted text, so the
    * hash match verifies every replaced SPAN, not just the counts.
    * Ordered application is part of the contract (emails first — their
    * digits must not be half-eaten as phone numbers).
    */
  def q87PiiRedaction(spark: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact u"), col("doc_id"), lit("@example.com from 10.0."),
      col("doc_id") % 256, lit(".7 or call +1 555 01"),
      (col("doc_id") % 90) + 10, lit(" ref 9"),
      (col("doc_id") % 100000000L) + 100000000L)
    Tables.balanced(spark, d, "documents")
      .withColumn("__x", planted)
      .select(col("doc_id") +: graft.functions.Text.piiCounts(col("__x")) :+
        md5(graft.functions.Text.redactPii(col("__x"))).as("redacted_md5"): _*)
  }

  /** q62: Gopher-style repetition signals per document
    * ([[TermStats.repetitionSignals]]: two explode→partial-agg passes).
    */
  def q62RepetitionSignals(spark: SparkSession, d: String): DataFrame =
    TermStats.repetitionSignals(Tables.balanced(spark, d, "documents"),
        "doc_id", "text")
      .withColumnRenamed("doc", "doc_id")

  /** q63: exact per-language length quantiles (p50/p90/p99) by integer
    * rank arithmetic ([[Quantiles.byRank]]: one shuffle, rank = ceil(p·n)
    * — `quantile_disc` semantics, portable where interpolation is not).
    */
  def q63LengthQuantiles(spark: SparkSession, d: String): DataFrame =
    Quantiles.byRank(Tables.balanced(spark, d, "documents"),
      Seq(col("lang")), col("n_chars"), col("doc_id"),
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))

  /** q64: temperature mixing weights (α=0.5) per language
    * ([[Sampling.mixingWeights]]: weight ∝ √n, sorted-fold normalizer —
    * `sqrt` is the one power IEEE rounds identically everywhere).
    */
  def q64MixWeights(spark: SparkSession, d: String): DataFrame =
    Sampling.mixingWeights(Tables.balanced(spark, d, "documents"),
      Seq(col("lang")))

  /** q65: C4-style boilerplate fraction — shingles appearing in more than
    * 3 documents are chrome/template text
    * ([[TermStats.boilerplateFraction]]: the near-dup inverted index
    * reused as a df filter; cap 3 ≈ the synthetic corpus's 99th df
    * percentile, so the signal is non-degenerate at every test SF).
    */
  def q65Boilerplate(spark: SparkSession, d: String): DataFrame =
    TermStats.boilerplateFraction(Tables.balanced(spark, d, "documents"),
        "doc_id", "text", k = LlmPipelines.ShingleK, maxDf = 3L)
      .withColumnRenamed("doc", "doc_id")

  /** q67: SimHash near-dup pairs at hamming ≤ 3 via pigeonhole banding
    * ([[TextDedup.simhashNearDupPairs]]: 4 byte-blocks, equi-join on the
    * block — exact recall, never all-pairs), completing the q29
    * fingerprint into a usable dedup path.
    */
  def q67SimhashPairs(spark: SparkSession, d: String): DataFrame =
    TextDedup.simhashNearDupPairs(
      TextDedup.simhash(Tables.balanced(spark, d, "documents"),
        "doc_id", "text"),
      maxHamming = 3)

  /** q191: dedup-method agreement card — the audit you run when choosing
    * dedup tiers: the three pair generators (exact normalized-md5 groups,
    * simhash hamming ≤ 3, minhash-LSH n_sig_equal ≥ 8 — each exactly its
    * registered query's definition) emit their candidate pairs, and ONE
    * row reports per-method counts, every pairwise intersection, the
    * 3-way intersection, and the union. Disagreements are the signal: a
    * method catching pairs the others miss is either recall the cheaper
    * tier lacks or noise the stricter tier filters. All three generators
    * are bounded equi-joins (fp groups / hamming bands / LSH bands) —
    * assembling the card adds one (doc_a, doc_b) groupBy over their
    * union, nothing quadratic.
    */
  def q191DedupAgreement(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val fp = docs.select(col("doc_id"),
      md5(graft.functions.Text.normalized(col("text"))).as("fp"))
    val exact = fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val sim = q67SimhashPairs(spark, d).select(col("doc_a"), col("doc_b"))
    val mh = graft.queries.LlmPipelines.q28MinhashLshPairs(spark, d)
      .select(col("doc_a"), col("doc_b"))
    val tagged = exact.withColumn("m", lit("e"))
      .unionByName(sim.withColumn("m", lit("s")))
      .unionByName(mh.withColumn("m", lit("h")))
    tagged.groupBy(col("doc_a"), col("doc_b"))
      .agg(max(when(col("m") === "e", 1L).otherwise(0L)).as("e"),
        max(when(col("m") === "s", 1L).otherwise(0L)).as("s"),
        max(when(col("m") === "h", 1L).otherwise(0L)).as("h"))
      .agg(sum(col("e")).as("n_exact"),
        sum(col("s")).as("n_simhash"),
        sum(col("h")).as("n_minhash"),
        sum(col("e") * col("s")).as("n_exact_simhash"),
        sum(col("e") * col("h")).as("n_exact_minhash"),
        sum(col("s") * col("h")).as("n_simhash_minhash"),
        sum(col("e") * col("s") * col("h")).as("n_all3"),
        count(lit(1)).as("n_union"))
  }

  /** q70: per-document novelty — the fraction of a doc's shingles first
    * seen (min doc id) in that doc ([[TermStats.noveltyFraction]]: shingle
    * min-agg + join-back, the incremental-curation contribution signal).
    */
  def q70Novelty(spark: SparkSession, d: String): DataFrame =
    TermStats.noveltyFraction(Tables.balanced(spark, d, "documents"),
        "doc_id", "text", k = LlmPipelines.ShingleK)
      .withColumnRenamed("doc", "doc_id")

  /** q71: hard-negative mining — for each anchor vector, the top-3 most
    * similar DIFFERENT-label vectors ([[Similarity.hardNegatives]]:
    * LSH-bucket equi-join with the label filter inside the bucket — the
    * contrastive-training negative sampler on the ANN scale path).
    */
  def q71HardNegatives(spark: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(Tables.balanced(spark, d, "embeddings"),
      "vec_id", "embedding", "label", col("vec_id") < 20,
      LlmPipelines.Planes, LlmPipelines.Dims, k = 3)

  /** q72: incremental novelty — odd-id batch scored against the even-id
    * existing corpus ([[TermStats.noveltyAgainst]]: distinct-shingle set +
    * one keyed left join; the corpus-growth gate, pairing with q58).
    */
  def q72NoveltyAgainst(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    TermStats.noveltyAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = LlmPipelines.ShingleK)
      .withColumnRenamed("doc", "doc_id")
  }

  /** q73: OOV rate against the top-20 corpus vocabulary
    * ([[TermStats.oovRate]]: global top-N vocab broadcast back onto the
    * (doc, term) aggregate — the tokenizer-budget signal).
    */
  def q73OovRate(spark: SparkSession, d: String): DataFrame =
    TermStats.oovRate(Tables.balanced(spark, d, "documents"),
        "doc_id", "text", vocabSize = 20)
      .withColumnRenamed("doc", "doc_id")

  /** q74: the END-TO-END curation pipeline — the stages a corpus actually
    * flows through, composed in order:
    *   1. per-language quality gate (keep the top half by length,
    *      [[Sampling.topFractionByGroup]]);
    *   2. exact dedup on the whitespace-normalized fingerprint (min
    *      doc_id survives, [[graft.functions.Text.normalized]]);
    *   3. boilerplate gate over the SURVIVORS ([[TermStats
    *      .boilerplateFraction]] maxDf=3): drop docs that are more than
    *      half boilerplate shingles (no-shingle docs pass — nothing to
    *      flag);
    *   4. per-language rollup of the surviving corpus.
    * Each stage is one keyed shuffle; the whole pipeline is a linear
    * chain with no collect, no iteration, no all-pairs anywhere.
    */
  def q74CurationPipeline(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.balanced(spark, d, "documents")
    val gated = Sampling.topFractionByGroup(docs, Seq(col("lang")),
      col("n_chars"), col("doc_id"), frac = 0.5)
    // Persist: the dedup survivors feed both the boilerplate aggregate and
    // the final join's left side — without this the gate + dedup windows
    // run twice (the self-referential-reuse rule, see TermStats.tfidf).
    // Caller-owned (returned lineage — the TermStats convention).
    val deduped = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(md5(Text.normalized(col("text"))))
      gated.withColumn("__min_doc", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("__min_doc"))
        .drop("__min_doc")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val boiler = TermStats.boilerplateFraction(deduped, "doc_id", "text",
        k = LlmPipelines.ShingleK, maxDf = 3L)
      .select(col("doc").as("doc_id"), col("boiler_pm"))
    deduped.join(boiler, Seq("doc_id"), "left_outer")
      .filter(coalesce(col("boiler_pm"), lit(0L)) <= 500000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
  }

  /** q103: bigram-LM fluency — the CCNet perplexity-gate surrogate
    * ([[TermStats.lmFluency]]: corpus bigram model, add-one smoothing,
    * all-BIGINT arithmetic so the score hash-matches any engine).
    */
  def q103LmFluency(spark: SparkSession, d: String): DataFrame =
    TermStats.lmFluency(Tables.balanced(spark, d, "documents"),
      "doc_id", "text")

  /** q104: the full CCNet quality gate (Wenzek et al. 2020 §3.3) —
    * per-LANGUAGE fluency terciles bucket every document head/middle/
    * tail. Composition of verified pieces: [[TermStats.lmFluency]]
    * scores (q103), [[graft.operators.Quantiles.byRank]] cutoffs at
    * p=1/3, 2/3 keyed by lang (no global window — the per-language
    * grouping is both CCNet's actual recipe and the thing that keeps the
    * rank window distributed), and a broadcastable 5-row cutoff join.
    * Higher fluency = more model-like text = head, mirroring CCNet's
    * lower-perplexity-is-better orientation.
    */
  def q104CcnetGate(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val f = TermStats.lmFluency(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val cuts = graft.operators.Quantiles.byRank(f, Seq(col("lang")),
      col("fluency_pm"), col("doc_id"),
      Seq(("t33", 0.333333), ("t67", 0.666667)))
    // cuts is ≤|langs| rows but its size ESTIMATE (downstream of a rank
    // window) exceeds the auto-broadcast threshold, so the planner picks
    // SMJ — shuffling the whole scored corpus by a FEW-distinct-key
    // column (skew by construction). Explicit hint (guide §3.1): the
    // corpus side never shuffles for this join.
    f.join(broadcast(cuts.select(col("lang"), col("q_t33"), col("q_t67"))),
        Seq("lang"))
      .select(col("doc_id"), col("lang"), col("fluency_pm"),
        when(col("fluency_pm") > col("q_t67"), lit("head"))
          .when(col("fluency_pm") > col("q_t33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** q105: BPE merge training (Sennrich et al. 2016) over the corpus
    * vocabulary ([[graft.operators.Bpe.trainMerges]]). The vocabulary is
    * one keyed aggregate over the corpus, bounded to the top 500 words
    * (count desc, word asc — the q97 bounded-sample rule: training cost
    * is independent of corpus size); each merge iteration is windows +
    * one 1-row argmax over that bounded symbol table. All-integer counts
    * and lexicographic tie-breaks make the full 8-merge run hash-exact
    * against the generated DuckDB iteration chain (the q93 Lloyd-twin
    * pattern).
    */
  def q105BpeMerges(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val vocab = docs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(500)
    graft.operators.Bpe.trainMerges(vocab, "w", "f", nMerges = 8)
      .withColumnRenamed("rank", "merge_rank")
  }

  /** q106: segment the corpus' FULL distinct vocabulary with the
    * q105-trained merge table ([[graft.operators.Bpe.applyMerges]]) — the
    * tokenizer ENCODE path, demonstrating train-on-sample /
    * apply-to-corpus: the merge table (8 rows) collects driver-side and
    * replays as one greedy window pass per rule over distinct words
    * (Zipf-bounded — never the raw token stream; callers re-join pieces
    * to tokens by word key).
    */
  def q106BpeSegment(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val toks = docs.select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(500)
    val merges = graft.operators.Bpe.trainMerges(vocab, "w", "f", nMerges = 8)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.applyMerges(toks.distinct(), "w", merges)
  }

  /** q107: trigram stupid-backoff fluency
    * ([[TermStats.lmFluencyBackoff]], Brants et al. 2007) — train the
    * count tables on the q46-pattern 80% hash split, score the held-out
    * 20% with trigram→bigram→unigram backoff at α = 0.4 in exact micro
    * units. The held-out split is what makes the backoff levels fire
    * (the corpus' own trigrams always hit level 3).
    */
  def q107LmBackoff(spark: SparkSession, d: String): DataFrame = {
    val split = Sampling.hashSplit(Tables.balanced(spark, d, "documents"),
      "doc_id", "lm", Seq("train" -> 80, "eval" -> 20))
    TermStats.lmFluencyBackoff(
      split.filter(col("split") === "train"),
      split.filter(col("split") === "eval"), "doc_id", "text")
  }

  /** q109: "pipeline v2" — the round-10 operators composed END-TO-END the
    * way a production curation run chains them (q74 is v1 with the
    * round-7 stages; this is the same linearity claim over the newer,
    * heavier pieces):
    *   1. exact SPAN DEDUP ([[TextDedup.spanDedup]] k=3, q100): every
    *      document rebuilt from its globally-surviving blocks; documents
    *      that kept nothing drop out;
    *   2. CCNet LM GATE on the REBUILT text ([[TermStats.lmFluency]] +
    *      [[Quantiles.byRank]] per-language tercile, q103/q104): keep
    *      head+middle (fluency above the per-language t33 cutoff) —
    *      gating post-dedup text is the real ordering (boilerplate would
    *      otherwise inflate its own fluency: repeated blocks are
    *      high-count bigrams);
    *   3. BPE FERTILITY of the surviving corpus ([[graft.operators.Bpe]],
    *      q105/q106 constants shrunk to 6 merges / top-400 vocab): train
    *      on the survivors' token stream, segment their DISTINCT words,
    *      and report pieces-per-token per language in micro units — the
    *      tokenizer-efficiency number a data-mix owner actually tracks.
    * Output: one row per language — n_docs, kept_blocks, n_tokens,
    * n_pieces, fertility_pm.
    *
    * Scale shape: stage 1 and 2 are the linear keyed-shuffle chains of
    * their standalone forms; stage 3's training is bounded (top-400
    * vocabulary — corpus-size-independent iterations), segmentation runs
    * over DISTINCT words (Zipf-bounded), and the only driver-side
    * transfer is the 6-row merge table. The two persists are the shared
    * subtrees (rebuilt corpus feeds score+join; survivors feed rollup +
    * token stream; word frequencies feed vocab + distinct + rollup) —
    * caller-owned lifecycle, the [[TermStats]] convention.
    */
  def q109PipelineV2(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.storage.StorageLevel
    val docs = Tables.balanced(spark, d, "documents")
    val rebuilt = TextDedup.spanDedup(docs, "doc_id", "text", k = 3)
      .filter(col("kept_blocks") >= 1L)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val scored = TermStats.lmFluency(rebuilt, "doc_id", "new_text")
      .join(rebuilt.select(col("doc_id"), col("lang"), col("kept_blocks"),
        col("new_text")), Seq("doc_id"))
    val cuts = Quantiles.byRank(scored, Seq(col("lang")),
      col("fluency_pm"), col("doc_id"), Seq(("t33", 0.333333)))
    val survivors = scored
      // broadcast: cuts is ≤|langs| rows (the q104 rationale) — keeps
      // the scored corpus from shuffling by the few-distinct-key lang
      .join(broadcast(cuts.select(col("lang"), col("q_t33"))), Seq("lang"))
      .filter(col("fluency_pm") > col("q_t33"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wordFreq = survivors
      .select(col("lang"), explode(Text.tokens(col("new_text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = wordFreq.groupBy(col("w")).agg(sum(col("n")).as("f"))
      .orderBy(col("f").desc, col("w").asc).limit(400)
    val merges = graft.operators.Bpe.trainMerges(vocab, "w", "f", nMerges = 6)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val seg = graft.operators.Bpe.applyMerges(
      wordFreq.select(col("w")).distinct(), "w", merges)
    val fertility = wordFreq
      .join(seg.select(col("w"), col("n_pieces")), Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("n_pieces")).as("n_pieces"))
    survivors.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("kept_blocks")).as("kept_blocks"))
      .join(fertility, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("kept_blocks"), col("n_tokens"),
        col("n_pieces"),
        expr("(1000000 * n_pieces) div n_tokens").as("fertility_pm"))
  }

  /** q110: DSIR importance resampling ([[graft.operators.Dsir]], Xie et
    * al. 2023) — select from the raw pool (source != src0) the 100
    * documents whose hashed unigram+bigram occurrence profile is most
    * target-like (target = the src0 slice), scoring with the
    * exact-integer arithmetic likelihood ratio (add-one-smoothed bucket
    * counts, common denominators folded out) and the md5 tiebreak as the
    * derandomized Gumbel. One broadcast probability join + one doc-keyed
    * rollup + TakeOrderedAndProject.
    */
  def q110DsirSelect(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    graft.operators.Dsir.select(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", buckets = 1024, n = 100)
  }

  /** q111: T5 span-corruption example construction
    * ([[graft.operators.SpanCorrupt]]) — 15% hash-Bernoulli corruption,
    * consecutive masked positions per span, `<extra_id_k>` sentinels;
    * one (inputs, targets) example per document. Pure window algebra,
    * one doc-keyed shuffle.
    */
  def q111SpanCorrupt(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.SpanCorrupt
    SpanCorrupt.examples(Tables.balanced(spark, d, "documents"),
      "doc_id", "text", ratePm = 150)
  }

  /** q112: the EXAMPLE-PREP composition — [[q111SpanCorrupt]]'s denoising
    * examples costed at their total token footprint (inputs + targets =
    * n_tokens + 2·n_spans) and packed into fixed 512-token budgets with
    * [[graft.operators.Packing.packByBudget]] (8 deterministic shards,
    * salt "t5"), rolled up per pack: examples, tokens, boundary
    * straddlers. This is the last mile before a training batch: corrupt →
    * cost → pack, all window algebra, two keyed shuffles total (doc, then
    * shard).
    */
  def q112ExamplePrep(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Packing, SpanCorrupt}
    val ex = SpanCorrupt.examples(Tables.balanced(spark, d, "documents"),
        "doc_id", "text", ratePm = 150)
      .select(col("doc_id"),
        (col("n_tokens") + lit(2L) * col("n_spans")).as("cost"))
    Packing.packByBudget(ex, "doc_id", "cost", budget = 512L,
        shards = 8, salt = "t5")
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_examples"),
        sum(col("cost")).as("pack_tokens"),
        sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_straddlers"))
  }

  /** q113: exact substring excision at ≥6-token granularity
    * ([[TextDedup.substringExcise]], Lee et al. 2022) — every repeated
    * ≥6-token substring removed except its global first occurrence,
    * decided by overlapping-gram coverage instead of a suffix array.
    */
  def q113SubstringExcise(spark: SparkSession, d: String): DataFrame =
    TextDedup.substringExcise(Tables.balanced(spark, d, "documents"),
      "doc_id", "text", minLen = 6)

  /** q114: incremental substring excision — the q113 rule under corpus
    * growth ([[TextDedup.substringExciseAgainst]]): the doc_id ≥ 250
    * batch excised against the gram registry of the doc_id < 250 corpus,
    * which is never re-scanned (the q102/q58 asymmetry at substring
    * granularity).
    */
  def q114SubstringExciseInc(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.balanced(spark, d, "documents")
    val registry = docs.filter(col("doc_id") < 250)
      .select(explode(Text.shingles(Text.tokens(col("text")), 6)).as("gram"))
      .distinct()
    TextDedup.substringExciseAgainst(docs.filter(col("doc_id") >= 250),
      registry, "doc_id", "text", minLen = 6)
  }

  /** q115: "pipeline v3" — the ROUND-11 operators composed end-to-end
    * the way a selection-then-example-prep run chains them (q74 is v1,
    * q109 is v2 over the round-10 pieces):
    *   1. exact SUBSTRING EXCISION ([[TextDedup.substringExcise]] L=6,
    *      q113): every repeated ≥6-token substring removed corpus-wide,
    *      one copy kept; docs reduced below 6 surviving tokens drop out
    *      (boilerplate shells);
    *   2. DSIR SELECTION on the EXCISED text
    *      ([[graft.operators.Dsir.select]], q110): the src0 slice is the
    *      target model, the rest is the pool, top 150 most target-like
    *      survive — selecting post-excision is the real ordering
    *      (repeated boilerplate would otherwise dominate the feature
    *      counts on both sides of the ratio);
    *   3. SPAN-CORRUPTION cost + PACKING of the selected docs
    *      (q111/q112 arithmetic, salt "v3"): denoising-example token
    *      footprints packed into 512-token budgets, rolled up per pack.
    * Output: one row per (shard, pack) — n_examples, pack_tokens,
    * n_straddlers.
    *
    * Scale shape: stage 1 is the q113 chain (one gram exchange + doc
    * windows); stage 2 is bucket-bounded model + broadcast scoring +
    * TakeOrderedAndProject; stage 3 is two keyed shuffles. The one
    * shared subtree (the excised+joined corpus feeding target, pool,
    * and selection) is persisted — caller-owned lifecycle, the
    * [[TermStats]] convention: the harness drains it via
    * [[graft.Caches.clearAll]] after every run (pinned by
    * CacheLifecycleSpec); an out-of-harness caller must call
    * `Caches.clearAll(spark)` (or unpersist the returned lineage)
    * after consuming the result, or one cached frame stays resident.
    */
  def q115PipelineV3(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Dsir, Packing, SpanCorrupt}
    val docs = Tables.balanced(spark, d, "documents")
    val excised = TextDedup.substringExcise(docs, "doc_id", "text", minLen = 6)
      .filter(col("n_tokens") - col("n_removed") >= 6)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val target = excised.filter(col("source") === "src0")
      .select(col("doc_id"), col("new_text"))
    val pool = excised.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("new_text"))
    val picked = Dsir.select(pool, target, "doc_id", "new_text",
      buckets = 1024, n = 150)
    val selected = pool.join(picked.select("doc_id"), Seq("doc_id"))
    val costs = SpanCorrupt.examples(selected, "doc_id", "new_text", ratePm = 150)
      .select(col("doc_id"),
        (col("n_tokens") + lit(2L) * col("n_spans")).as("cost"))
    Packing.packByBudget(costs, "doc_id", "cost", budget = 512L,
        shards = 8, salt = "v3")
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_examples"),
        sum(col("cost")).as("pack_tokens"),
        sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_straddlers"))
  }

  /** q117: PRODUCTION DSIR — q110's semantics split into ingest and
    * serve phases (the q92 materialized-index pattern): the bucket-stats
    * model is trained once and MATERIALIZED to parquet (the ≤1024-row
    * artifact a deployment refreshes on model cadence), then the scoring
    * pass reads the artifact and runs the single-scan broadcast-join
    * path ([[graft.operators.Dsir.scoreAgainst]] + deterministic
    * top-150). Same math as q110 at fewer corpus scans — hash-equality
    * with the q110-family oracle IS the split's correctness proof.
    */
  def q117DsirProduction(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Dsir
    val docs = Tables.balanced(spark, d, "documents")
    val raw = docs.filter(col("source") =!= "src0")
    // deterministic per-(session, source) artifact path, OVERWRITTEN each
    // refresh — a fresh temp dir per call would leak one directory per
    // invocation under a resident engine's registry loop (Bench alone
    // runs 4×), while a path shared ACROSS sessions would race
    // overwrite-vs-read between two engines over the same data dir; the
    // applicationId component scopes the artifact to this session.
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_dsir_model_" + spark.sparkContext.applicationId + "_" +
        java.lang.Integer.toHexString(d.hashCode)).toString
    Dsir.bucketStats(raw, docs.filter(col("source") === "src0"),
        "doc_id", "text", buckets = 1024)
      .write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)
    Dsir.resample(
      Dsir.scoreAgainst(raw, model, "doc_id", "text", buckets = 1024),
      "doc_id", n = 150)
  }

  /** q125: overlapping token-window chunking ([[Chunk.tokenWindows]],
    * window 24 / overlap 8) — the retrieval-index / long-context cut of
    * every document into stride-16 windows with chunk-level md5
    * fingerprints. Stateless row-local fan-out, zero shuffle
    * (plan-pinned); the hash compares the full chunk SET, offsets and
    * text included.
    */
  def q125ChunkWindows(spark: SparkSession, d: String): DataFrame =
    Chunk.tokenWindows(Tables.balanced(spark, d, "documents"),
      "doc_id", "text", size = 24, overlap = 8)

  /** q126: data-constrained epoch allocation
    * ([[Sampling.epochAllocation]], Muennighoff 2023) — a 100k-token
    * budget split over the `source` domains by the α=0.5 temperature
    * weights, each domain capped at 4.0 epochs of its unique-token
    * supply, the unservable remainder reported as `starved_tokens`. One
    * corpus aggregate; the allocation itself runs on ≤ |domains| rows.
    */
  def q126EpochAllocation(spark: SparkSession, d: String): DataFrame =
    Sampling.epochAllocation(Tables.balanced(spark, d, "documents"),
      "source", size(graft.functions.Text.tokens(col("text"))).cast("long"),
      budget = 100000L)

  /** q128: unigram-LM subword segmentation ([[Unigram]], Kudo 2018's
    * family with the integer-exact objective — fewest pieces, then
    * highest corpus support, then lexicographic): vocabulary = top-40
    * multi-char substrings by support + the full alphabet, trained in one
    * distinct-word aggregate; segmentation = Viterbi DP as a pure
    * `aggregate` fold per word against the broadcast literal vocabulary
    * (bounded collect, [[graft.operators.Bpe]] merge-table scale). The
    * oracle segments by EXHAUSTIVE path enumeration (recursive CTE) —
    * hash equality is the proof that per-position DP finds the global
    * optimum under the lexicographic objective.
    */
  def q128UnigramSegment(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Unigram
    val words = Tables.balanced(spark, d, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    val vocab = Unigram.trainVocab(words, "w", "f", maxLen = 4, topK = 40)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Unigram.segment(words, "w", vocab, maxLen = 4, carry = Seq("f"))
      .select(col("w"), col("f"), col("n_pieces"), col("score"),
        col("pieces"))
  }

  /** q129: pipeline v5 — the RETRIEVAL-INDEX build, this round's
    * operators composed end to end: [[Chunk.tokenWindows]] cuts every
    * document into 24/8 windows, chunk-level EXACT dedup drops repeated
    * windows on the md5 fingerprint (first occurrence in (doc,
    * chunk_idx) order wins — boilerplate that substring excision would
    * remove from the TRAINING corpus must also not be indexed twice for
    * RETRIEVAL), and the surviving chunks are
    * [[graft.operators.Packing.packByBudget]]-assigned to 256-token
    * index shards (8 deterministic streams, salt "ridx"), rolled up per
    * shard. Chunking is row-local; the pipeline pays exactly two keyed
    * shuffles (fingerprint window, shard window) — the q112 shape with a
    * dedup stage in the middle.
    */
  def q129RetrievalIndex(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Dedup, Packing}
    val chunks = Chunk.tokenWindows(Tables.balanced(spark, d, "documents"),
      "doc_id", "text", size = 24, overlap = 8)
    val deduped = Dedup.keepFirst(chunks, Seq(col("chunk_hash")),
        Seq(col("doc_id").asc, col("chunk_idx").asc))
      .withColumn("chunk_id",
        concat(col("doc_id"), lit(":"), col("chunk_idx")))
      .select(col("chunk_id"), col("n_tok").as("cost"))
    Packing.packByBudget(deduped, "chunk_id", "cost", budget = 256L,
        shards = 8, salt = "ridx")
      .groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_chunks_packed"),
        sum(col("cost")).as("shard_tokens"),
        sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_straddlers"))
  }

  /** q157: BM25 ranked retrieval ([[TermStats.bm25TopK]]) — the query
    * half of the q129 retrieval-index story, and the ranked companion to
    * q60's TF-IDF weighting. Queries derive deterministically from the
    * corpus itself (every doc_id % 25 == 0 document contributes its
    * first 4 tokens as a query, q_id = doc_id); each returns its top-5
    * documents under the exact-integer Okapi score (k1 = 6/5, b = 3/4,
    * DECIMAL(38)/HUGEINT cross-multiplied — the operator scaladoc
    * derives the formula). Self-retrieval is allowed and expected: the
    * source doc ranking first for its own prefix is the retrieval
    * sanity check a production index build runs.
    */
  def q157Bm25TopK(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val qs = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    TermStats.bm25TopK(docs, qs, "doc_id", "text", "q_id", "qt", k = 5)
      .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
        col("n_terms"), col("score_pm"))
  }

  /** q166: known-item retrieval eval card — the index sanity eval a
    * production search build runs on every refresh: each q157 query is
    * derived from a known source doc (its first-4-token prefix, q_id =
    * doc_id), so the source doc IS the gold answer and self-retrieval
    * rank measures real ranking quality with no human labels. One row:
    * n_queries, hit@1, hit@3, and the integer MRR over the top-5 lists
    * (Σ 1e6 div rank_of_source, misses contribute 0, div by n_queries —
    * exact arithmetic end to end, composed on q157's green machinery).
    * The monitor catches silent index degradation (a tokenizer change,
    * a stats bug) as a falling MRR — the retrieval family's q155.
    */
  def q166RetrievalEval(spark: SparkSession, d: String): DataFrame = {
    val hits = q157Bm25TopK(spark, d)
      .filter(col("doc_id") === col("q_id"))
      .select(col("q_id"), col("rank"))
    val docs = Tables.balanced(spark, d, "documents")
    val nq = docs.filter(col("doc_id") % 25 === 0)
      .agg(count(lit(1)).as("n_queries"))
    // coalesce: a (hypothetical) zero-hit index must report zeros, not a
    // null row — the monitor's worst reading is still a well-typed row
    hits.agg(
        coalesce(sum(when(col("rank") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_hit1"),
        coalesce(sum(when(col("rank") <= 3, 1L).otherwise(0L)), lit(0L))
          .as("n_hit3"),
        coalesce(sum(expr("1000000 div rank")), lit(0L)).as("rr_sum"))
      .crossJoin(broadcast(nq))
      .select(col("n_queries"), col("n_hit1"), col("n_hit3"),
        expr("rr_sum div n_queries").as("mrr_pm"))
  }

  /** q167: graded nDCG@5 retrieval eval ([[TermStats.gradedNdcg]]) — the
    * graded companion to q166's binary hit@k/MRR card, per query. Grades
    * derive label-free from the q157 lists themselves: the known source
    * doc grades 5 (`doc_id = q_id`, the q166 gold convention), every
    * other retrieved doc grades by `n_terms` (1–4 distinct query terms
    * matched — partial lexical relevance). Gain 2^rel − 1, discounts
    * pinned as `floor(1e6/log2(1+r))` integer constants shared verbatim
    * with the oracle, ideal ordering a re-rank of the same 5 gains —
    * exact integer end to end, so a tokenizer or stats regression that
    * leaves hit@k intact but degrades the ORDERING (the failure q166
    * cannot see) moves this hash.
    */
  def q167NdcgEval(spark: SparkSession, d: String): DataFrame = {
    val graded = q157Bm25TopK(spark, d)
      .withColumn("rel", when(col("doc_id") === col("q_id"), lit(5))
        .otherwise(col("n_terms").cast("int")))
    TermStats.gradedNdcg(graded, "q_id", "rank", "rel", k = 5)
      .select(col("q").as("q_id"), col("n_ret"), col("dcg_pm"),
        col("idcg_pm"), col("ndcg_pm"))
  }

  /** q168: RM3 pseudo-relevance-feedback expansion
    * ([[TermStats.rm3ExpansionTerms]]) — the two-pass query-expansion
    * serve path every lexical engine ships: pass 1 is q157's exact-integer
    * BM25 top-5 (self-retrieval allowed — the source doc is a feedback
    * doc, the RM3 standard), the 3 highest idf-tilted-tf-mass terms of
    * each query's feedback docs (original terms excluded; the tilt keeps
    * stopword-class terms out — semantics AND the pass-2 candidate bound,
    * see the operator scaladoc) extend the query, and pass 2 re-runs BM25
    * with the expanded term set against the SAME index. Output shape =
    * q157's (q_id, rank, doc_id, n_terms, score_pm) with n_terms now
    * counting matched expanded terms.
    *
    * Query set %50 (every second q157 query): serve cost here is
    * candidate volume, and on this corpus's DENSE synthetic vocabulary
    * (median term df ≈ 77% of docs — no Zipf tail) each pass scores
    * ~15k candidates per query, two passes ≈ 3.5× q157's volume
    * (measured: 2.9M vs 5.1M candidate rows at sf0.1). The halved set
    * keeps the registered query inside the per-query bench envelope
    * while exercising identical machinery on 100 queries.
    *
    * Scale shape: the corpus is tokenized ONCE — one persisted postings
    * frame feeds the stats rollup, both scoring passes, and the feedback
    * extraction (a |Q|·5 doc-keyed registry read); in production all four
    * consumers are [[TermStats.bm25Stats]]-maintained catalog tables and
    * the whole query costs two query-footprint serves (the q162 shape),
    * never a re-tokenize.
    */
  def q168Rm3Expansion(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val postings = TermStats.bm25Postings(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df/dl are |vocab|- and |docs|-row rollups consumed by FIVE subtrees
    // of the one final plan (two serve passes, the corpus row, the
    // feedback tilt) — cached they run once. Measured honestly: a minor
    // win (9.4 → 9.0 s at sf0.1; candidate scoring dominates — see the
    // %50 note above), kept because it is also the q162 registry shape.
    val (dfq0, dl0, _) = TermStats.bm25Stats(postings)
    val dfq = dfq0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = dl0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corp = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("a_tok"))
      val qt = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"),
          slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
      val base = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qt,
        "q_id", "qt", k = 5)
      val orig = qt.select(col("q_id").as("q"), explode(col("qt")).as("term"))
        .distinct()
      val exp = TermStats.rm3ExpansionTerms(base, postings, dfq, corp,
        orig, m = 3)
      // orig and exp are disjoint by the anti-join, each internally
      // distinct — the union needs no dedup; collect_list order is
      // irrelevant (the serve path explodes + distincts the terms).
      val eqt = orig.unionByName(exp.select(col("q"), col("term")))
        .groupBy(col("q")).agg(collect_list(col("term")).as("qt"))
        .select(col("q").as("q_id"), col("qt"))
      TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, eqt,
          "q_id", "qt", k = 5)
        .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
          col("n_terms"), col("score_pm"))
        .localCheckpoint(true)
    } finally { postings.unpersist(); dfq.unpersist(); dl.unpersist(); () }
  }

  /** q162: BM25 served from a MATERIALIZED postings registry
    * ([[TermStats.bm25Postings]] / [[TermStats.bm25TopKFromPostings]] —
    * the index/serve split): the even-id half of the corpus plays the
    * standing index (in production a term-bucketed catalog table the
    * serve path reads WITHOUT re-tokenizing), the odd-id half the
    * arriving batch, and the batch extends the index by a plain union —
    * every BM25 stat (tf, df, dl, N, A) is additive over disjoint doc
    * ids, so serving the union is bit-identical to q157's full rebuild.
    * That equivalence IS the check: the oracle is the full-corpus BM25
    * SQL, so any drift between registry-served and rebuilt scores fails
    * the hash. The q58/q102/q114 incremental convention, landed for the
    * lexical index family.
    *
    * Scale shape: batch-side tokenization touches only the batch; the
    * standing index is a registry read (here its build lineage), and the
    * stats rollups are one scan of the postings — corpus growth costs
    * per-batch work plus one additive rollup, never a re-tokenize.
    */
  def q162Bm25Registry(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val standing = TermStats.bm25Postings(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val batch = TermStats.bm25Postings(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val qs = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    TermStats.bm25TopKFromPostings(standing.unionByName(batch), qs,
        "q_id", "qt", k = 5)
      .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
        col("n_terms"), col("score_pm"))
  }

  /** q161: hybrid retrieval — reciprocal-rank fusion
    * ([[TermStats.rrfFuse]], 1e6 div (60 + rank)) of the engine's two
    * retrieval legs over the corpus slice present in BOTH modalities
    * (doc_id = vec_id — at sf0.1 that is 2000 of 5000 documents, so the
    * intersection join is load-bearing, not an identity): q157's
    * exact-integer BM25 (self-retrieval excluded here, the retrieval-eval
    * convention) and q30's exact-cosine dense leg (self-excluded by
    * construction). Each query fuses its two top-5 lists into a top-3;
    * `n_legs` = 2 marks docs both legs agree on — the agreement signal
    * hybrid search exists for. Every stage integer-exact, so the fused
    * ranking hash-matches DuckDB end to end.
    *
    * Scale shape: the legs carry all the corpus-sized work (BM25's
    * posting join, the dense scan) and both are the proven q157/q30
    * machinery; the modality-intersection joins are id-projection
    * equi-joins, and the fusion itself shuffles only |Q|·k·2 rows.
    */
  def q161HybridRrf(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val emb = Tables.balanced(spark, d, "embeddings")
    val corpusDocs = docs.join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val corpusEmb = emb.join(
      docs.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val qs = corpusDocs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    val lex = TermStats.bm25TopK(corpusDocs, qs, "doc_id", "text",
        "q_id", "qt", k = 5, excludeSelf = true)
      .select(col("q"), col("doc"), col("rank"))
    val den = Similarity.bruteForceTopK(corpusEmb,
        corpusEmb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        k = 5)
      .select(col("qid").as("q"), col("cid").as("doc"), col("rank"))
    TermStats.rrfFuse(Seq(lex, den), k = 3)
      .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
        col("rrf_pm"), col("n_legs"))
  }

  /** q194: learning-to-rank feature table — the reranker-training prep
    * step: for each (query, BM25-top-5 candidate) pair, the feature
    * vector a cross-encoder distills or an LTR model trains on —
    * lexical score (exact-integer Okapi, q157's arithmetic), dense
    * cosine (the codegen'd `vec_dot` kernel), 3-gram Jaccard (q27's
    * shingle machinery restricted to candidate pairs — the candidate
    * join bounds it, never doc×doc), and the length-ratio prior. All
    * features exact-integer ppm. The candidate frame is checkpointed
    * once (four feature joins read it); every feature join is keyed by
    * (q_id, doc_id) or a doc id — |Q|·k rows, corpus-independent.
    */
  def q194LtrFeatures(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.balanced(spark, d, "documents")
    val emb = Tables.balanced(spark, d, "embeddings")
    val corpusDocs = docs.join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val qs = corpusDocs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        slice(Text.tokens(col("text")), 1, 4).as("qt"))
    val cand = TermStats.bm25TopK(corpusDocs, qs, "doc_id", "text",
        "q_id", "qt", k = 5, excludeSelf = true)
      .select(col("q").as("q_id"), col("doc").as("doc_id"), col("rank"),
        col("score_pm").cast("long").as("bm25_pm"))
      .localCheckpoint(true)
    val vecs = emb.join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val cos = cand
      .join(vecs.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        Seq("q_id"))
      .join(vecs.select(col("vec_id").as("doc_id"), col("embedding").as("cv")),
        Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        Similarity.cosineScaledPm(col("qv"), col("cv")).cast("long")
          .as("cos_pm"))
    val sh = corpusDocs.select(col("doc_id"),
      explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
    val toks = corpusDocs.select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_tok"))
    ltrAssemble(cand, cos, sh, toks)
  }

  /** q194/q195/q202 shared feature assembly over a checkpointed candidate
    * frame and the per-doc side tables (shingle rows, token counts) —
    * which side the tables come from (batch tokenize vs ingest-time
    * registry) is exactly the seam the queries pin. Any columns the
    * candidate frame carries beyond (q_id, doc_id, rank) — bm25_pm for
    * q194/q195, rrf_pm/n_legs for the q202 fused list — pass through
    * into the feature row.
    */
  private def ltrAssemble(cand: DataFrame, cos: DataFrame, sh: DataFrame,
                          toks: DataFrame): DataFrame = {
    val extras = cand.columns.toSeq
      .filterNot(Set("q_id", "doc_id", "rank"))
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand.select(col("q_id"), col("doc_id"))
      .join(sh.select(col("doc_id").as("q_id"), col("sh")), Seq("q_id"))
      .join(sh, Seq("doc_id", "sh"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("inter"))
    cand
      .join(cos, Seq("q_id", "doc_id"))
      .join(inter, Seq("q_id", "doc_id"), "left_outer")
      .join(sz.select(col("doc_id").as("q_id"), col("n_sh").as("q_sh")),
        Seq("q_id"))
      .join(sz.select(col("doc_id"), col("n_sh").as("c_sh")), Seq("doc_id"))
      .join(toks.select(col("doc_id").as("q_id"), col("n_tok").as("q_tok")),
        Seq("q_id"))
      .join(toks.select(col("doc_id"), col("n_tok").as("c_tok")),
        Seq("doc_id"))
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("jac_pm",
        expr("(1000000 * inter) div (q_sh + c_sh - inter)"))
      .withColumn("len_ratio_pm",
        expr("(1000000 * least(q_tok, c_tok)) div greatest(q_tok, c_tok)"))
      .select(Seq(col("q_id"), col("doc_id"), col("rank")) ++
        extras.map(col) ++
        Seq(col("cos_pm"), col("jac_pm"), col("len_ratio_pm")): _*)
  }

  /** q195: the LTR feature table SERVED FROM REGISTRIES — q194's output
    * (oracle is literally q194's SQL, the q174 convention) with every
    * corpus-sized input maintained at ingest instead of recomputed at
    * query time: BM25 postings + stats fold additively across disjoint
    * doc-id batches (the q162 seam), and the per-doc feature tables
    * (shingle rows, token counts, embeddings) are the same plain unions
    * — so a query batch pays the posting joins plus |Q|·k feature
    * lookups, and NOTHING tokenizes or scans the corpus at serve time.
    */
  def q195LtrRegistry(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.balanced(spark, d, "documents")
    val emb = Tables.balanced(spark, d, "embeddings")
    val corpusDocs = docs.join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    // ingest side: two disjoint batches fold into the standing tables
    val batches = Seq(corpusDocs.filter(col("doc_id") % 2 === 0),
      corpusDocs.filter(col("doc_id") % 2 === 1))
    val postings = batches.map(TermStats.bm25Postings(_, "doc_id", "text"))
      .reduce(_ unionByName _)
    val (dfreq, dl, corpus) = TermStats.bm25Stats(postings)
    val shReg = batches.map(_.select(col("doc_id"),
        explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh")))
      .reduce(_ unionByName _)
    val tokReg = batches.map(_.select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok")))
      .reduce(_ unionByName _)
    // serve side
    val qs = corpusDocs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("q_id"),
        slice(Text.tokens(col("text")), 1, 4).as("qt"))
    val cand = TermStats.bm25TopKFromIndex(postings, dfreq, dl, corpus, qs,
        "q_id", "qt", k = 5, excludeSelf = true)
      .select(col("q").as("q_id"), col("doc").as("doc_id"), col("rank"),
        col("score_pm").cast("long").as("bm25_pm"))
      .localCheckpoint(true)
    val vecs = emb.join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val cos = cand
      .join(vecs.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        Seq("q_id"))
      .join(vecs.select(col("vec_id").as("doc_id"), col("embedding").as("cv")),
        Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        Similarity.cosineScaledPm(col("qv"), col("cv")).cast("long")
          .as("cos_pm"))
    ltrAssemble(cand, cos, shReg, tokReg)
  }

  /** q202: the retrieval SERVE capstone — the family's registries
    * composed end to end the way q200 chained the ordering family: the
    * q162 postings registry (standing + batch fold, additive by disjoint
    * doc ids) feeds RM3 expansion (q168's two-pass machinery, feedback
    * pass self-inclusive per the RM3 standard), the expanded lexical leg
    * fuses with the dense leg by RRF (q161's 1e6 div (60+rank),
    * self-retrieval excluded from both serve legs), and the fused top-3
    * candidates get their reranker features served from the SAME ingest
    * registries (q195's seam: shingles, token counts, embeddings — no
    * corpus tokenize at serve time). One hash pins that the four
    * registries COMPOSE: postings additivity, the idf tilt, the fusion
    * arithmetic, and the feature lookups all have to agree with the
    * from-scratch oracle at once.
    *
    * Corpus slice: docs with an embedding twin (doc_id = vec_id, the
    * q161 convention — the intersection is load-bearing); queries every
    * 50th doc (the q168 envelope note). Output one row per fused
    * candidate: (q_id, rank, doc_id, rrf_pm, n_legs, cos_pm, jac_pm,
    * len_ratio_pm).
    *
    * Scale shape: every corpus-sized input arrives through a registry
    * (postings/stats fold additively at ingest; shingle/token tables are
    * plain unions; the dense leg is the proven q30 scan, IVF-bucketable
    * per q38); serve-time work is the two query-footprint BM25 passes +
    * |Q|·k feature lookups. The fusion and assembly shuffle |Q|·k rows.
    */
  def q202RetrievalServe(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.Text
    val docs = Tables.balanced(spark, d, "documents")
    val emb = Tables.balanced(spark, d, "embeddings")
    val corpusDocs = docs.join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"))
    val corpusEmb = emb.join(
      docs.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    // ingest side: disjoint batches fold into the standing registries
    val batches = Seq(corpusDocs.filter(col("doc_id") % 2 === 0),
      corpusDocs.filter(col("doc_id") % 2 === 1))
    val postings = batches.map(TermStats.bm25Postings(_, "doc_id", "text"))
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfq0, dl0, _) = TermStats.bm25Stats(postings)
    val dfq = dfq0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = dl0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corp = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("a_tok"))
      val shReg = batches.map(_.select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh")))
        .reduce(_ unionByName _)
      val tokReg = batches.map(_.select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tok")))
        .reduce(_ unionByName _)
      // serve side: RM3-expanded lexical leg from the registry index
      val qs = corpusDocs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("q_id"),
          slice(Text.tokens(col("text")), 1, 4).as("qt"))
      val base = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
        "q_id", "qt", k = 5)
      val orig = qs.select(col("q_id").as("q"), explode(col("qt")).as("term"))
        .distinct()
      val exp = TermStats.rm3ExpansionTerms(base, postings, dfq, corp,
        orig, m = 3)
      val eqt = orig.unionByName(exp.select(col("q"), col("term")))
        .groupBy(col("q")).agg(collect_list(col("term")).as("qt"))
        .select(col("q").as("q_id"), col("qt"))
      val lex = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, eqt,
          "q_id", "qt", k = 5, excludeSelf = true)
        .select(col("q"), col("doc"), col("rank"))
      val den = Similarity.bruteForceTopK(corpusEmb,
          corpusEmb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
          k = 5)
        .select(col("qid").as("q"), col("cid").as("doc"), col("rank"))
      val fused = TermStats.rrfFuse(Seq(lex, den), k = 3)
        .select(col("q").as("q_id"), col("doc").as("doc_id"), col("rank"),
          col("rrf_pm"), col("n_legs"))
        .localCheckpoint(true) // four feature joins read it
      val vecs = corpusEmb.select(col("vec_id"), col("embedding"))
      val cos = fused
        .join(vecs.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
          Seq("q_id"))
        .join(vecs.select(col("vec_id").as("doc_id"), col("embedding").as("cv")),
          Seq("doc_id"))
        .select(col("q_id"), col("doc_id"),
          Similarity.cosineScaledPm(col("qv"), col("cv")).cast("long")
            .as("cos_pm"))
      ltrAssemble(fused, cos, shReg, tokReg).localCheckpoint(true)
    } finally { postings.unpersist(); dfq.unpersist(); dl.unpersist(); () }
  }

  /** q203: df-capped pruned BM25 serve + exact-recall audit
    * ([[TermStats.bm25TopKPruned]]) — the index-side answer to the r16
    * Zipf-probe finding (full-scoring candidate volume ∝ corpus ×
    * queries under token-biased query terms): candidates from rare
    * terms only (cap = 50% of docs, in-plan; all-head queries fall back
    * to full scoring), every candidate rescored exactly. Each pruned
    * top-5 row carries `hit_exact` — whether the doc also appears in
    * the unpruned top-5 — so the hash pins the pruning semantics AND
    * the miss-rate audit a production cap tuning reads. On this
    * corpus's dense vocabulary most terms sit above the cap, so the
    * fallback path is exercised heavily — exactly the degradation
    * contract worth pinning.
    */
  def q203Bm25Pruned(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val postings = TermStats.bm25Postings(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfq, dl, _) = TermStats.bm25Stats(postings)
    try {
      val corp = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("a_tok"))
      // %100: this query pays BOTH legs (pruned serve + exact audit) on
      // a corpus where the cap mostly falls back to full scoring — the
      // halved query set keeps it inside the bench envelope (the q168
      // convention) while pinning identical machinery
      val qs = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"),
          slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
      val pruned = TermStats.bm25TopKPruned(postings, dfq, dl, corp, qs,
        "q_id", "qt", k = 5, capSharePm = 500000L)
      val exact = TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5)
        .select(col("q"), col("doc"), lit(1L).as("hit_exact"))
      pruned.join(exact, Seq("q", "doc"), "left_outer")
        .withColumn("hit_exact", coalesce(col("hit_exact"), lit(0L)))
        .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
          col("n_terms"), col("score_pm"), col("hit_exact"))
        .localCheckpoint(true)
    } finally { postings.unpersist(); () }
  }

  /** The impact serve (k = 5) for the query slice `doc_id % querySlice
    * = 0` (each query = its doc's first four tokens), every returned doc
    * flagged `hit_exact` when the full-scoring exact top-5 returns it
    * too — the one row shape q204 and q206–q210 pin, against the one
    * oracle template ([[Oracles]] `impactServeSql`). `healedAudit`: the
    * exact leg heals crash-replay duplicates on ITS OWN candidate
    * footprint (`bm25TopKFromIndexHealed`, r20 — registry-read frames
    * may carry them; an upstream postings/dl distinct would pay two
    * full-registry exchanges for the same rows); q204's in-lineage
    * frames cannot carry any. Eagerly checkpointed, so the result is
    * computed while the caller's inputs are still live (q204 unpersists
    * its frames right after).
    */
  private def impactServeAudit(docs: DataFrame, querySlice: Int,
                               trunc: DataFrame, postings: DataFrame,
                               dfq: DataFrame, dl: DataFrame,
                               corp: DataFrame,
                               healedAudit: Boolean = true): DataFrame = {
    val qs = docs.filter(col("doc_id") % querySlice === 0)
      .select(col("doc_id").as("q_id"),
        slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))
    val served = TermStats.bm25TopKImpact(trunc, postings, dfq, dl, corp,
      qs, "q_id", "qt", k = 5)
    val exact =
      (if (healedAudit)
        TermStats.bm25TopKFromIndexHealed(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5)
      else
        TermStats.bm25TopKFromIndex(postings, dfq, dl, corp, qs,
          "q_id", "qt", k = 5))
        .select(col("q"), col("doc"), lit(1L).as("hit_exact"))
    served.join(exact, Seq("q", "doc"), "left_outer")
      .withColumn("hit_exact", coalesce(col("hit_exact"), lit(0L)))
      .select(col("q").as("q_id"), col("rank"), col("doc").as("doc_id"),
        col("n_terms"), col("score_pm"), col("hit_exact"))
      .localCheckpoint(true)
  }

  /** An impact-registry directory for one query run: deterministic per
    * (session, data dir, `tag`) — the q117 artifact convention — and
    * CLEARED at entry: the registry is append-only, so a stale copy from
    * a resident engine's previous pass would anti-join the whole corpus
    * away.
    */
  private def freshRegistryDir(spark: SparkSession, d: String,
                               tag: String): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_impact_${tag}_" + spark.sparkContext.applicationId + "_" +
        java.lang.Integer.toHexString(d.hashCode)).toString
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    dir
  }

  /** The registry-served impact serve + audit: the truncated index and
    * the serve inputs read ONLY from registry artifacts
    * ([[graft.streaming.Incremental.impactIndexRegistry]] +
    * [[graft.streaming.Incremental.impactIndexStats]] — postings plus
    * the MATERIALIZED df/corpus delta logs, never a per-serve rollup of
    * the full postings registry, the zipfreg decay shape; plan-pinned in
    * PlanSpec).
    */
  private def registryServeAudit(spark: SparkSession, docs: DataFrame,
                                 dir: String, querySlice: Int): DataFrame = {
    import graft.streaming.Incremental
    val (postings, dfq, dl, corp) = Incremental.impactIndexStats(spark, dir)
    impactServeAudit(docs, querySlice, Incremental.impactIndexRegistry(
      spark, dir), postings, dfq, dl, corp)
  }

  /** The table-served impact serve + audit: all three corpus-scale frames
    * from the bucketed catalog tables under `prefix`, only the tiny
    * df/corpus stats from the registry's delta logs.
    */
  private def tableServeAudit(spark: SparkSession, docs: DataFrame,
                              dir: String, prefix: String,
                              querySlice: Int): DataFrame = {
    val (_, dfq, _, corp) =
      graft.streaming.Incremental.impactIndexStats(spark, dir)
    impactServeAudit(docs, querySlice, spark.table(s"${prefix}_impact"),
      spark.table(s"${prefix}_postings"), dfq, spark.table(s"${prefix}_dl"),
      corp)
  }

  /** q204: impact-ordered truncated-index BM25 serve + exact-recall
    * audit ([[TermStats.bm25ImpactIndex]] at the CALIBRATED depth
    * [[TermStats.impactM]] m(n) →
    * [[TermStats.bm25TopKImpact]]) — the head-term bound the df cap
    * cannot give: candidate volume ≤ |q terms|·m per query regardless
    * of df (Anh & Moffat-style impact ordering, deterministic integer
    * proxy tf desc / dl asc / doc asc), survivors rescored exactly
    * against the full postings. m scales with the corpus (r17: a fixed
    * m's recall decays with n — the zipfm ladder; m(n) holds it flat),
    * so the serve CONTRACT states its recall independent of corpus
    * size; the oracle computes the identical integer m from its own
    * corpus CTE. Same `hit_exact` audit as q203 — the hash pins
    * truncation, tie-breaks, rescore, miss accounting AND the m(n)
    * arithmetic in one row shape.
    */
  def q204Bm25Impact(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val postings = TermStats.bm25Postings(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfq, dl0, _) = TermStats.bm25Stats(postings)
    val dl = dl0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corp = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("a_tok"))
      // n from the corpus stats row (docs with ≥1 token — the oracle's
      // n_docs), not docs.count(): the two differ on empty-text docs
      val trunc = TermStats.bm25ImpactIndex(postings, dl,
        m = TermStats.impactM(corp.head.getLong(0)))
      impactServeAudit(docs, 50, trunc, postings, dfq, dl, corp,
        healedAudit = false)
    } finally { postings.unpersist(); dl.unpersist(); () }
  }

  /** q205: the impact-index MONOTONE MERGE pinned in the oracle gate —
    * the batch form of [[graft.streaming.Incremental.streamingImpactIndex]]'s
    * maintenance step. The even-id half plays the standing registry
    * (its per-term top-m impact lists, carrying dl — the registry
    * layout), the odd-id half the arriving batch; the maintainer's
    * claim is that re-truncating (standing index ∪ batch postings) is
    * EXACTLY the full-corpus truncation, because on an append-only
    * corpus a posting outside top-m(P) is dominated by ≥ m postings
    * that all remain in P ∪ B. The oracle computes the full-corpus
    * top-m directly (one window, never seeing the split), so the hash
    * equality IS the theorem, checked end to end in a second engine.
    * Output is the merged index rolled up per term (n_kept, tf_sum,
    * doc_sum, dl_sum — exact integer content signatures, vocab-sized
    * not index-sized). Depth fixed at m=64: the merge property needs
    * EQUAL depths on both steps (a depth increase is exactly what
    * triggers the streaming maintainer's rebuild path); the m(n)
    * calibration arithmetic is q204's pin.
    */
  def q205ImpactMerge(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val m = 64
    def half(pred: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
      val p = TermStats.bm25Postings(docs.filter(pred), "doc_id", "text")
      (p, p.groupBy(col("doc")).agg(sum(col("tf")).as("dl")))
    }
    val (ps, dls) = half(col("doc_id") % 2 === 0)
    val (pb, dlb) = half(col("doc_id") % 2 === 1)
    val standingIdx = TermStats.bm25ImpactIndexWithDl(ps, dls, m)
    val merged = TermStats.impactIndexMerge(standingIdx,
      pb.join(dlb, "doc").select(col("doc"), col("term"), col("tf"),
        col("dl")), m)
    merged.groupBy(col("term"))
      .agg(count(lit(1)).as("n_kept"), sum(col("tf")).as("tf_sum"),
        sum(col("doc")).as("doc_sum"), sum(col("dl")).as("dl_sum"))
  }

  /** q206: the registry-SERVED impact path pinned in the oracle gate —
    * the production deployment q204 only rehearses in lineage. The
    * corpus lands in an on-disk impact registry through TWO
    * [[graft.streaming.Incremental.impactBatchIngest]] folds (even ids
    * as the standing corpus in epoch 0, odd ids as the arriving batch in
    * epoch 1 — the second fold takes the MONOTONE MERGE arm) with a
    * [[graft.streaming.Incremental.compactImpactRegistry]] fold between
    * them; the serve then reads ONLY registry artifacts
    * ([[registryServeAudit]]). The oracle computes the identical serve
    * from full-corpus CTEs, so one hash pins ingest additivity, the merge
    * theorem on disk, the materialized-stats arithmetic, the calibrated
    * depth, the rescore, and the hit_exact audit at once.
    * `quantizeDepth = false`: a batch build lands on the exact
    * calibrated m(n) the oracle computes (pow2 amortization is the
    * streaming maintainer's policy, pinned in StreamBatchEquivalenceSpec).
    */
  def q206ImpactRegistryServe(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.Incremental
    val docs = Tables.balanced(spark, d, "documents")
    val dir = freshRegistryDir(spark, d, "reg")
    Incremental.impactBatchIngest(spark, dir,
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", epoch = 0L,
      quantizeDepth = false)
    Incremental.compactImpactRegistry(spark, dir)
    Incremental.impactBatchIngest(spark, dir,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", epoch = 1L,
      quantizeDepth = false)
    registryServeAudit(spark, docs, dir, 40)
  }

  /** q207: impact-registry RETENTION pinned in the oracle gate — the
    * T4 sliding-window semantics (the reference retires witness edges
    * older than 5 days, `src/arango_queries.py:90-99`) extended to the
    * impact registry and checked end-to-end through real registry I/O,
    * the treatment the append path got with q206. The corpus lands in
    * the registry through two [[graft.streaming.Incremental
    * .impactBatchIngest]] folds — epoch 0 = every third doc
    * (`doc_id % 3 = 0`, the "oldest segment"), epoch 1 = the rest — then
    * [[graft.streaming.Incremental.retainImpactRegistry]] retires epoch
    * 0. The retired 1/3 share crosses the 25% default threshold, so the
    * cut takes the REBUILD arm: segment directories dropped, stats/corpus
    * filtered per epoch, impact/meta rebuilt at the depth RECALIBRATED to
    * the retained count. The serve then reads ONLY registry artifacts,
    * exactly q206's shape. The oracle computes the identical serve from
    * full-corpus CTEs filtered to the retained predicate — so one hash
    * pins the retention cut, the filtered stats arithmetic, the
    * recalibrated depth m(n_retained), the truncation on the retained
    * corpus, the rescore, and the hit_exact audit. Queries come from the
    * UNRETAINED doc table (`%80` slice): a query whose source doc was
    * retired must still serve — against retained docs only (the score
    * join is dl-inner; the oracle's CTEs encode the same).
    */
  def q207ImpactRetainServe(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.Incremental
    val docs = Tables.balanced(spark, d, "documents")
    val dir = freshRegistryDir(spark, d, "ret")
    Incremental.impactBatchIngest(spark, dir,
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", epoch = 0L,
      quantizeDepth = false)
    Incremental.impactBatchIngest(spark, dir,
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", epoch = 1L,
      quantizeDepth = false)
    Incremental.retainImpactRegistry(spark, dir, minEpoch = 1L,
      quantizeDepth = false)
    registryServeAudit(spark, docs, dir, 80)
  }

  /** q208: the BUCKETED serving layout pinned in the oracle gate — the
    * 100 TB deployment shape the zipfbucket probe measured (SCALE.md):
    * the corpus lands in the registry through one
    * [[graft.streaming.Incremental.impactBatchIngest]] fold, the serve
    * artifacts are PUBLISHED as bucketed catalog tables
    * ([[graft.streaming.Incremental.publishImpactServeTables]] —
    * postings/dl doc-bucketed, the truncated index term-bucketed; the
    * write-time shuffle the serve then never pays), and the serve reads
    * `spark.table(…)` for all three corpus-scale frames with only the
    * tiny df/corpus stats coming from the registry's delta logs
    * ([[tableServeAudit]]). The oracle computes the identical serve from
    * full-corpus CTEs — one hash pins that the layout change moves ZERO
    * rows: publication, bucketed scans, the co-located doc-keyed
    * rescore, truncation, depth, scores, and the hit_exact audit.
    * (BucketedServeSpec additionally pins the PLAN claim — no shuffle
    * over a bare published-registry scan under a forced sort-merge
    * regime — which a row hash cannot see.) Query slice `%48`: distinct
    * from q206's so the two rows never mask each other.
    */
  def q208BucketedServe(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.Incremental
    val docs = Tables.balanced(spark, d, "documents")
    val dir = freshRegistryDir(spark, d, "bkt")
    Incremental.impactBatchIngest(spark, dir, docs, "doc_id", "text",
      epoch = 0L, quantizeDepth = false)
    val prefix = "graft_q208_" + java.lang.Integer.toHexString(d.hashCode)
    Incremental.publishImpactServeTables(spark, dir, prefix)
    tableServeAudit(spark, docs, dir, prefix, 48)
  }

  /** q209: multi-epoch retention pinned in the oracle gate — the
    * O(retired + delta-log) epoch cut
    * ([[graft.streaming.Incremental.retainImpactRegistry]], VERDICT r19
    * #1) over THREE epoch folds of
    * [[graft.streaming.Incremental.impactBatchIngest]] (epoch e = the
    * `doc_id % 3 = e` slice — the epoch IS the retirement unit, the
    * reference's per-follower-epoch T4 cadence, `src/etl.py:94-97`),
    * then `retainImpactRegistry(minEpoch = 1)` retires epoch 0: its
    * segment directories DROP (no surviving byte rewritten), the
    * stats/corpus delta logs filter their epoch-0 rows (exact —
    * per-epoch deltas are additive), and the retired share (1/3 ≥ the
    * 25% default threshold) triggers the index rebuild from survivors at
    * the depth recalibrated to the retained count. The retained
    * predicate is therefore q207's (`doc_id % 3 <> 0`), here spread over
    * two surviving epochs, so the oracle is q207's from-scratch SQL
    * with a distinct query slice (`%60`, from the unretained doc table —
    * a retired query doc still serves, against retained docs only). The
    * drop-only (below-threshold) arm and the crash contract are
    * spec-pinned in ImpactSegmentsSpec — an oracle hash can't see them.
    */
  def q209SegmentedRetainServe(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.Incremental
    val docs = Tables.balanced(spark, d, "documents")
    val dir = freshRegistryDir(spark, d, "seg")
    for (e <- 0L until 3L)
      Incremental.impactBatchIngest(spark, dir,
        docs.filter(col("doc_id") % 3 === e), "doc_id", "text", epoch = e,
        quantizeDepth = false)
    Incremental.retainImpactRegistry(spark, dir, minEpoch = 1L,
      quantizeDepth = false)
    registryServeAudit(spark, docs, dir, 60)
  }

  /** q210: the STREAM-GROWN bucketed serving tables pinned in the
    * oracle gate — the standing-deployment form of q208 (VERDICT r19
    * #2). The corpus arrives as a THREE-micro-batch FILE stream (three
    * parquet files, `maxFilesPerTrigger=1` — no driver-side collect)
    * through [[graft.streaming.Incremental.streamingImpactServePublish]]:
    * each batch folds into the registry and APPENDS its rows into the
    * doc-bucketed postings/dl catalog tables (O(batch) write-side
    * shuffle; the published dl table is the exactly-once membership
    * anti-join set), republishing the term-bucketed impact snapshot.
    * The serve then reads `spark.table(…)` for all three corpus-scale
    * frames — exactly q208's shape — so one hash pins that the
    * STREAM-GROWN layout equals the from-scratch oracle: the batch
    * appends, the membership anti-join, bucketed scans, truncation at
    * the final recalibrated depth, scores, and the hit_exact audit.
    * (StreamBatchEquivalenceSpec pins stream ≡ one-shot publish;
    * BucketedServeSpec pins the no-registry-shuffle PLAN over grown
    * tables — the oracle hash adds the driver-gate row neither spec
    * provides.) Query slice `%72`, distinct from q206–q209's.
    */
  def q210StreamGrownServe(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.Incremental
    val docs = Tables.balanced(spark, d, "documents")
    val base = freshRegistryDir(spark, d, "sgs")
    val prefix = "graft_q210_" + java.lang.Integer.toHexString(d.hashCode)
    for (sfx <- Seq("postings", "dl", "impact"))
      spark.sql(s"DROP TABLE IF EXISTS `${prefix}_$sfx`")
    // three source files → three micro-batches (the file order is
    // whatever the source lists first; the final tables are
    // order-independent — appends union to the full corpus and the
    // impact snapshot republishes per landing batch)
    for (e <- 0 until 3)
      docs.filter(col("doc_id") % 3 === e).coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/src")
      .select(col("doc_id"), col("text"))
    val query = Incremental.streamingImpactServePublish(stream,
      s"$base/ckpt", s"$base/reg", prefix, "doc_id", "text",
      quantizeDepth = false)
    try query.processAllAvailable() finally query.stop()
    tableServeAudit(spark, docs, s"$base/reg", prefix, 72)
  }

  /** q197: quality-calibration card — "are duplicates low-quality?",
    * the empirical question behind quality-aware dedup (q165): docs
    * ranked by quality into exact DECILES via
    * [[graft.operators.Ranks.orderedRank]] (the value-range-bucketed
    * exact rank — no global window, the q63-class quantile cut made
    * scale-safe), joined against near-dup membership (q43's clusters),
    * rolled up per decile: doc counts, near-dup rate in ppm, exact
    * quality mass. A falling dup-rate curve across deciles is the
    * evidence that dedup and quality gating are NOT redundant filters.
    */
  def q197QualityCalibration(spark: SparkSession, d: String): DataFrame = {
    val quality = graft.queries.LlmPipelines.q24TextStats(spark, d)
      .select(col("doc_id"), col("quality_milli"))
    val ranked = graft.operators.Ranks.orderedRank(quality, Seq.empty,
        "quality_milli", "doc_id", nBuckets = 16, out = "qrank")
      .localCheckpoint(true) // total-count broadcast + the rollup read it
    val total = ranked.agg(count(lit(1)).as("n_total"))
    val dup = graft.queries.LlmPipelines.q43DupClusters(spark, d)
      .select(col("doc_id")).distinct().withColumn("is_dup", lit(1L))
    ranked.crossJoin(broadcast(total))
      .withColumn("decile", expr("((qrank - 1) * 10) div n_total"))
      .join(dup, Seq("doc_id"), "left_outer")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(0L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_near_dup"),
        expr("(1000000 * sum(is_dup)) div count(1)").as("near_dup_ppm"),
        sum(col("quality_milli")).as("quality_mass_milli"),
        min(col("quality_milli")).as("q_min"),
        max(col("quality_milli")).as("q_max"))
  }

  /** q130: content-defined chunking ([[Chunk.contentDefined]], the
    * Rabin-boundary rule at token granularity, divisor 8) — boundaries
    * from content-only 2-gram hashes, so edits re-chunk only to the next
    * boundary and downstream `chunk_hash`es keep hitting the dedup
    * registry (shift invariance pinned in ChunkSpec against the fixed
    * windows that lose every hash). One doc-keyed exchange for markers,
    * offsets, and rebuild.
    */
  def q130CdcChunks(spark: SparkSession, d: String): DataFrame =
    Chunk.contentDefined(Tables.balanced(spark, d, "documents"),
      "doc_id", "text", divisor = 8)

  /** q131: CDC registry dedup ([[Chunk.cdcDedupAgainst]]) — incoming
    * docs (doc_id % 3 = 0) chunked at content-defined boundaries and
    * checked against the chunk-hash registry of the rest of the corpus;
    * only never-seen chunks count as new content (per-doc totals + the
    * ordered fresh rebuild). The incremental-dedup member of the CDC
    * family: registries chain exactly like q102/q114's.
    */
  def q131CdcDedupInc(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.balanced(spark, d, "documents")
    val inc = docs.filter(col("doc_id").cast("long") % 3 === 0)
    val ex = docs.filter(col("doc_id").cast("long") % 3 =!= 0)
    val registry = Chunk.contentDefined(ex, "doc_id", "text", divisor = 8)
      .select(col("chunk_hash"))
    Chunk.cdcDedupAgainst(inc, registry, "doc_id", "text", divisor = 8)
  }

  /** q132: the DATASET CARD — per-source corpus accounting (Gebru 2018's
    * datasheet numbers, computed rather than hand-written): document and
    * token counts, mean length, exact-duplicate rate (normalized-text
    * fingerprint, global first-wins — the q26 key), language-label
    * agreement with the q25 heuristic, and mean stopword ratio. All
    * scaled-integer arithmetic; one fingerprint window + one source
    * rollup.
    */
  def q132DatasetCard(spark: SparkSession, d: String): DataFrame =
    datasetCardOf(Tables.balanced(spark, d, "documents"))

  /** The card computation behind q132, reusable over any
    * (doc_id, source, lang, text) frame — the streaming form
    * ([[graft.streaming.Incremental.streamingDatasetCard]]) folds the
    * same per-doc signals into (source, batch) PARTIALS and serves the
    * identical ratios from their sums.
    */
  def datasetCardOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cardSignals(docs)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
      .withColumn("__dup", col("__rn") > 1)
      .groupBy(col("source"))
      .agg(cardCounters.head, cardCounters.tail: _*)
      .select(col("source") +: cardRatios: _*)
  }

  /** Per-doc card signals: `(doc_id, source, lang, fp, n_tok, n_stop,
    * lang_guess)` — shared by the batch card (global first-wins window
    * over `fp`) and the streaming card (registry lookup over `fp`).
    */
  def cardSignals(docs: DataFrame): DataFrame = {
    import graft.functions.Text
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        Text.tokens(col("text")).as("toks"),
        md5(graft.functions.Text.normalized(col("text"))).as("fp"))
      .select(col("doc_id"), col("source"), col("lang"), col("fp"),
        size(col("toks")).cast("long").as("n_tok"),
        Text.stopwordCount(col("toks")).as("n_stop"),
        Text.langGuess(col("toks")).as("lang_guess"))
  }

  /** The card's ADDITIVE counters over flagged signals (needs a boolean
    * `__dup` column): everything downstream is a ratio of these sums,
    * which is what makes the streaming card's (source, batch)-partial
    * exactly-once fold possible.
    */
  def cardCounters: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("n_tok")).as("n_tokens"),
    sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_docs"),
    sum(when(col("lang_guess") === col("lang"), 1L).otherwise(0L))
      .as("n_lang_match"),
    sum(expr("(1000000 * n_stop) div n_tok")).as("stop_pm_sum"))

  /** Derived ratio columns over summed counters — identical whether the
    * counters came from one batch aggregate or a sum of partials.
    */
  def cardRatios: Seq[org.apache.spark.sql.Column] = Seq(
    col("n_docs"), col("n_tokens"),
    expr("(1000 * n_tokens) div n_docs").as("mean_tokens_milli"),
    col("n_dup_docs"),
    expr("(1000000 * n_dup_docs) div n_docs").as("dup_pm"),
    expr("(1000000 * n_lang_match) div n_docs").as("lang_match_pm"),
    expr("stop_pm_sum div n_docs").as("stop_pm_mean"))

  /** q133: tokenizer comparison — the engine's two tokenizer families
    * (q105/q106 BPE merge-replay, q128 unigram Viterbi) trained and
    * applied over the SAME corpus vocabulary, joined per word, rolled
    * up to frequency-weighted fertility (milli tokens-per-word — THE
    * number a tokenizer choice is made on) plus who-segments-shorter
    * counts. The word table is persisted (four consumers: BPE train
    * sample, BPE apply, unigram train, the final join — caller-owned
    * lifecycle, the [[TermStats]] convention).
    */
  def q133TokenizerCompare(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Bpe, Unigram}
    val words = Tables.balanced(spark, d, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainV = words.orderBy(col("f").desc, col("w").asc).limit(500)
    val merges = Bpe.trainMerges(trainV, "w", "f", nMerges = 8)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val bpe = Bpe.applyMerges(words, "w", merges)
      .select(col("w"), col("n_pieces").as("bpe_pieces"))
    val uvocab = Unigram.trainVocab(words, "w", "f", maxLen = 4, topK = 40)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val uni = Unigram.segment(words, "w", uvocab, maxLen = 4)
      .select(col("w"), col("n_pieces").as("uni_pieces"))
    words.join(bpe, "w").join(uni, "w")
      .agg(count(lit(1)).as("n_words"),
        sum(col("f")).as("total_tokens"),
        expr("(1000 * sum(f * bpe_pieces)) div sum(f)")
          .as("bpe_fertility_milli"),
        expr("(1000 * sum(f * uni_pieces)) div sum(f)")
          .as("uni_fertility_milli"),
        sum(when(col("uni_pieces") < col("bpe_pieces"), 1L).otherwise(0L))
          .as("uni_shorter"),
        sum(when(col("bpe_pieces") < col("uni_pieces"), 1L).otherwise(0L))
          .as("bpe_shorter"))
  }

  /** q136: unigram hard-EM refinement ([[graft.operators.Unigram
    * .refineVocab]]) — the Kudo re-estimate+prune step in Viterbi-EM
    * form: segment under the seed substring-support scores (E), re-score
    * pieces by frequency-weighted usage and drop unused multi-char
    * pieces (M + prune), segment again. Output = the refined
    * segmentation; the oracle runs BOTH enumeration stages, so hash
    * equality pins the full E→M→E pipeline (including which pieces
    * survived pruning). The word table is persisted for its three
    * consumers.
    */
  def q136UnigramEm(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Unigram
    val words = Tables.balanced(spark, d, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v1 = Unigram.trainVocab(words, "w", "f", maxLen = 4, topK = 40)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val v2 = Unigram.refineVocab(words, "w", "f", v1, maxLen = 4)
    Unigram.segment(words, "w", v2, maxLen = 4, carry = Seq("f"))
      .select(col("w"), col("f"), col("n_pieces"), col("score"),
        col("pieces"))
  }

  /** q175: windowed PMI-lift term associations
    * ([[graft.operators.Cooccurrence.termPairCounts]] window 5 +
    * [[graft.operators.Cooccurrence.associationScores]]) — the
    * collocation / embedding-prep count table with its observed-over-
    * expected score, exact-integer (`lift_micro`, monotone with PMI).
    * Pair generation is row-local array work (≤ 5 pairs per token
    * position, whole-stage codegen); the shuffles are the pair-key and
    * unigram counts plus two margin joins. minPairCount 3, the standard
    * low-count PMI-noise gate.
    */
  def q175TermAssociations(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Cooccurrence
    val docs = Tables.balanced(spark, d, "documents")
    Cooccurrence.associationScores(
      Cooccurrence.termPairCounts(docs, "text", window = 5),
      Cooccurrence.termOccurrences(docs, "text"),
      minPairCount = 3)
  }

  /** q177: INCREMENTAL term associations — q175's count tables folded in
    * three doc-keyed batches through [[graft.operators.Cooccurrence
    * .countsFold]], then scored once. Windows never cross documents, so
    * BOTH margins are additive over ANY doc partition (no entity-
    * completeness caveat — the contrast with q174's left-entity
    * contract is deliberate and spec-pinned). Oracle = q175's
    * full-corpus SQL: fold ≡ rebuild, the q120/q162 convention.
    */
  def q177TermAssociationsInc(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Cooccurrence
    val docs = Tables.balanced(spark, d, "documents")
      .withColumn("__batch", pmod(crc32(col("doc_id").cast("string")), lit(3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val b0 = docs.filter(col("__batch") === 0)
      var pc = Cooccurrence.termPairCounts(b0, "text", window = 5)
      var tc = Cooccurrence.termOccurrences(b0, "text")
      for (i <- 1 until 3) {
        val b = docs.filter(col("__batch") === i)
        // eager checkpoint per fold — the q120/q174 convention (a lazy
        // fold chain recomputes every prior batch's counts per read)
        pc = Cooccurrence.countsFold(pc,
          Cooccurrence.termPairCounts(b, "text", window = 5),
          Seq("a", "b"), "c_ab").localCheckpoint(true)
        tc = Cooccurrence.countsFold(tc,
          Cooccurrence.termOccurrences(b, "text"),
          Seq("w"), "c_w").localCheckpoint(true)
      }
      Cooccurrence.associationScores(pc, tc, minPairCount = 3)
    } finally { docs.unpersist(); () }
  }

  /** q181: word2vec negative-sampling table
    * ([[graft.operators.Sampling.negativeSamplingTable]]) over the
    * corpus unigram counts — draw weights ∝ count^{3/4} (the portable
    * sqrt·sqrt∘sqrt form), 1M draws apportioned exactly by
    * cumulative-share differencing. Completes the embedding-prep chain:
    * q178 walks → q179 skip-gram positives → q181 negatives.
    */
  def q181NegativeSampling(spark: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.negativeSamplingTable(
      graft.operators.Cooccurrence.termOccurrences(
        Tables.balanced(spark, d, "documents"), "text"),
      "w", "c_w", totalDraws = 1000000L)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_dedup_agreement" -> q191DedupAgreement _,
    "q194_ltr_features" -> q194LtrFeatures _,
    "q195_ltr_registry" -> q195LtrRegistry _,
    "q202_retrieval_serve" -> q202RetrievalServe _,
    "q203_bm25_pruned" -> q203Bm25Pruned _,
    "q204_bm25_impact" -> q204Bm25Impact _,
    "q205_impact_merge" -> q205ImpactMerge _,
    "q206_impact_registry_serve" -> q206ImpactRegistryServe _,
    "q207_impact_retain_serve" -> q207ImpactRetainServe _,
    "q208_bucketed_serve" -> q208BucketedServe _,
    "q209_segmented_retain_serve" -> q209SegmentedRetainServe _,
    "q210_stream_grown_serve" -> q210StreamGrownServe _,
    "q197_quality_calibration" -> q197QualityCalibration _,
    "q136_unigram_em" -> q136UnigramEm _,
    "q175_term_associations" -> q175TermAssociations _,
    "q177_term_associations_inc" -> q177TermAssociationsInc _,
    "q181_negative_sampling" -> q181NegativeSampling _,
    "q133_tokenizer_compare" -> q133TokenizerCompare _,
    "q132_dataset_card" -> q132DatasetCard _,
    "q131_cdc_dedup_inc" -> q131CdcDedupInc _,
    "q130_cdc_chunks" -> q130CdcChunks _,
    "q129_retrieval_index" -> q129RetrievalIndex _,
    "q157_bm25_topk" -> q157Bm25TopK _,
    "q161_hybrid_rrf" -> q161HybridRrf _,
    "q162_bm25_registry" -> q162Bm25Registry _,
    "q166_retrieval_eval" -> q166RetrievalEval _,
    "q167_ndcg_eval" -> q167NdcgEval _,
    "q168_rm3_expansion" -> q168Rm3Expansion _,
    "q128_unigram_segment" -> q128UnigramSegment _,
    "q125_chunk_windows" -> q125ChunkWindows _,
    "q126_epoch_allocation" -> q126EpochAllocation _,
    "q117_dsir_production" -> q117DsirProduction _,
    "q115_pipeline_v3" -> q115PipelineV3 _,
    "q114_substring_excise_inc" -> q114SubstringExciseInc _,
    "q113_substring_excise" -> q113SubstringExcise _,
    "q112_example_prep" -> q112ExamplePrep _,
    "q111_span_corrupt" -> q111SpanCorrupt _,
    "q110_dsir_select" -> q110DsirSelect _,
    "q60_tfidf_top_term" -> q60TfidfTopTerm _,
    "q109_pipeline_v2" -> q109PipelineV2 _,
    "q105_bpe_merges" -> q105BpeMerges _,
    "q106_bpe_segment" -> q106BpeSegment _,
    "q107_lm_backoff" -> q107LmBackoff _,
    "q103_lm_fluency" -> q103LmFluency _,
    "q104_ccnet_gate" -> q104CcnetGate _,
    "q61_contamination" -> q61Contamination _,
    "q62_repetition_signals" -> q62RepetitionSignals _,
    "q63_length_quantiles" -> q63LengthQuantiles _,
    "q64_mix_weights" -> q64MixWeights _,
    "q65_boilerplate" -> q65Boilerplate _,
    "q67_simhash_pairs" -> q67SimhashPairs _,
    "q70_novelty" -> q70Novelty _,
    "q71_hard_negatives" -> q71HardNegatives _,
    "q72_novelty_against" -> q72NoveltyAgainst _,
    "q73_oov_rate" -> q73OovRate _,
    "q74_curation_pipeline" -> q74CurationPipeline _,
    "q85_bloom_contamination" -> q85BloomContamination _,
    "q87_pii_redaction" -> q87PiiRedaction _,
  )
}
