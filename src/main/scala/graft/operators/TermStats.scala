package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus term statistics for curation pipelines: TF-IDF term weighting,
  * Gopher-style repetition signals, and C4-style boilerplate detection.
  * All outputs are scaled integers (portable across engines; FP noise
  * can't survive the oracle's hash compare).
  *
  * Scale shape: every operator here is explode → keyed aggregate —
  * map-side partial aggregation collapses each document's token/shingle
  * multiset before the exchange, so shuffle volume is bounded by
  * (docs × distinct-terms-per-doc), never by raw token count. Corpus-level
  * statistics (document frequency) are a second aggregate on the term key;
  * the df table is |vocabulary| rows — joined back by term key (partial-agg
  * shuffle join; a natural-language vocabulary is Zipf-bounded but NOT
  * broadcastable at web scale, so no broadcast hint is forced here).
  *
  * Cache lifecycle (repo-wide convention): operators returning a LAZY plan
  * may `persist()` shared subtrees; the CALLER owns the cache and clears it
  * after its terminal action (`spark.catalog.clearCache()` — Bench, Verify,
  * and ScaleProbe all do, per query). Only operators that materialize
  * internally (e.g. [[TextDedup.dupClusters]]'s iterative path) unpersist
  * their own intermediates, because only they see the terminal action.
  */
object TermStats {

  /** Per-(doc, term) counts with corpus document frequency and an
    * integer-portable idf weight:
    * `idf_micro = (1e6 · n_docs) div df` (integer division — deterministic
    * in every engine, unlike `ln`, which engines round differently in the
    * last ulp), `score = tf · idf_micro`. Returns
    * (doc, term, tf, df, score). The empty token is dropped before any
    * aggregation (every term site below keeps the same `length >= 1`
    * gate, and the q60 oracle mirrors it).
    */
  def tfidf(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id).as("doc"),
        explode(Text.tokens(col(text))).as("term"))
      .filter(length(col("term")) >= 1)
    // Corpus size as a broadcast 1-row aggregate (the q16 scalar-subquery
    // pattern) — no driver-side action, the plan stays lazy end-to-end.
    val nDocs = broadcast(docs.select(countDistinct(col(id)).as("n_docs")))
    // Persist: the (doc, term) aggregate feeds both the df rollup and the
    // join's left side; Catalyst doesn't reuse the exchange across the
    // self-referential branches, so without this the explode+agg runs twice.
    val tf = toks.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .crossJoin(nDocs)
      // `div` = exact BIGINT division on both engines (a double `/`+floor
      // loses exactness past 2^53 — real at a web-corpus n_docs·1e6).
      .withColumn("idf_micro", expr("(1000000 * n_docs) div df"))
      .select(col("doc"), col("term"), col("tf"), col("df"),
        (col("tf") * col("idf_micro")).as("score"))
  }

  /** The single highest-TF-IDF term per document (score desc, term asc on
    * ties — deterministic). One extra shuffle on doc over [[tfidf]].
    */
  def topTermPerDoc(docs: DataFrame, id: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("score").desc, col("term").asc)
    tfidf(docs, id, text)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021, §A1.1
    * "repetition removal"): the fraction of tokens taken by the most
    * frequent token, the distinct-token ratio, and the fraction of 2-grams
    * taken by the most frequent 2-gram — high values mark degenerate,
    * boilerplate, or machine-looped text. Returns (doc, n_tokens,
    * distinct_ratio_pm, top_token_pm, top_bigram_pm); documents with fewer
    * than 2 tokens report top_bigram_pm = 0.
    *
    * Two explode→aggregate passes (tokens, bigrams), each with map-side
    * partial aggregation keyed on (doc, gram); the per-doc rollup reuses
    * the doc key. No windows, no all-pairs.
    */
  def repetitionSignals(docs: DataFrame, id: String, text: String): DataFrame = {
    val base = docs.select(col(id).as("doc"), Text.tokens(col(text)).as("toks"))
    def gramStats(grams: DataFrame, prefix: String) =
      grams.groupBy(col("doc"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc"))
        .agg(sum(col("c")).as(s"${prefix}_total"),
          max(col("c")).as(s"${prefix}_top"),
          count(lit(1)).as(s"${prefix}_distinct"))
    val tok = gramStats(base.select(col("doc"), explode(col("toks")).as("g")), "t")
    // Non-distinct 2-grams: Text.shingles dedups (its near-dup contract);
    // repetition counting needs multiplicity, so build grams directly. The
    // size guard matters: Spark's sequence(1, 0) is DESCENDING [1, 0], not
    // empty — same trap Text.shingles documents.
    val grams = transform(sequence(lit(1), size(col("toks")) - 1),
      i => concat_ws(" ", element_at(col("toks"), i.cast("int")),
        element_at(col("toks"), (i + 1).cast("int"))))
    val bigrams = base.select(col("doc"),
      explode(when(size(col("toks")) >= 2, grams)
        .otherwise(array().cast("array<string>"))).as("g"))
    val big = gramStats(bigrams, "b")
    tok.join(big, Seq("doc"), "left_outer")
      .select(col("doc"), col("t_total").as("n_tokens"),
        round(lit(1000000.0) * col("t_distinct") / col("t_total")).cast("long")
          .as("distinct_ratio_pm"),
        round(lit(1000000.0) * col("t_top") / col("t_total")).cast("long")
          .as("top_token_pm"),
        coalesce(round(lit(1000000.0) * col("b_top") / col("b_total")).cast("long"),
          lit(0L)).as("top_bigram_pm"))
  }

  /** Novelty fraction per document in corpus id order: the share of a
    * document's distinct k-shingles whose FIRST occurrence (minimum doc id
    * corpus-wide) is this document — near 0 for a near-dup of earlier
    * material, near 1 for genuinely new text. The "contribution" signal an
    * incremental curation pipeline ranks candidate documents by. Returns
    * (doc, n_shingles, n_novel, novelty_pm); docs with no shingles drop.
    *
    * Scale shape: one aggregate on the shingle key (min doc id — map-side
    * partial agg), one join back on the shingle, one rollup on doc. The
    * shingle index feeds two consumers → persisted, the
    * [[TextDedup.ngramJaccardPairs]] rule.
    */
  def noveltyFraction(docs: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val sh = docs.select(col(id).as("doc"), Text.tokens(col(text)).as("toks"))
      .select(col("doc"), explode(Text.shingles(col("toks"), k)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = sh.groupBy(col("sh")).agg(min(col("doc")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_pm",
        round(lit(1000000.0) * col("n_novel") / col("n_shingles")).cast("long"))
  }

  /** Incremental novelty: for each INCOMING document, the share of its
    * distinct k-shingles absent from the EXISTING corpus — the
    * cross-corpus twin of [[noveltyFraction]], pairing with
    * [[TextDedup.lshCandidatePairsAgainst]] as the corpus-growth gate
    * ("does this batch add anything?"). Returns (doc, n_shingles,
    * n_unseen, unseen_pm) for every incoming doc with shingles.
    *
    * The existing side collapses to its DISTINCT shingle set before the
    * join (one aggregate, then a shingle-keyed left join carrying one
    * flag) — existing-corpus size enters only through its vocabulary.
    */
  def noveltyAgainst(incoming: DataFrame, existing: DataFrame, id: String,
                     text: String, k: Int): DataFrame = {
    def shingled(df: DataFrame) =
      df.select(col(id).as("doc"), Text.tokens(col(text)).as("toks"))
        .select(col("doc"), explode(Text.shingles(col("toks"), k)).as("sh"))
    val seen = shingled(existing).select(col("sh")).distinct()
      .withColumn("seen", lit(1L))
    shingled(incoming).join(seen, Seq("sh"), "left_outer")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("unseen_pm",
        round(lit(1000000.0) * col("n_unseen") / col("n_shingles")).cast("long"))
  }

  /** Vocabulary coverage / OOV rate: build the top-`vocabSize` corpus
    * vocabulary by total term frequency (term-asc tiebreak), then report
    * each document's token share outside it — the tokenizer-budget signal
    * ("how much of this corpus does an N-entry vocab cover?").
    * Returns (doc, n_tokens, n_oov, oov_pm).
    *
    * The vocabulary ranking is a global top-N, but NOT a global sort:
    * `orderBy(...).limit(vocabSize)` plans as TakeOrderedAndProject —
    * every partition keeps its local top-`vocabSize` heap and only those
    * `parts × vocabSize` survivors meet at the reduce. On a 100 TB web
    * corpus the distinct-term table is billions of rows of tokenization
    * garbage; a partition-less window over it would move ALL of it to one
    * task (the PlanSpec-banned WindowExec shape), while the heap form
    * moves `O(parts × vocabSize)`. The ranked table is `vocabSize` rows,
    * broadcast back onto the (doc, term) aggregate. Everything before it
    * is map-side partial aggregation on (doc, term) / term.
    */
  def oovRate(docs: DataFrame, id: String, text: String, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tf = docs.select(col(id).as("doc"),
        explode(Text.tokens(col(text))).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      .orderBy(col("ctf").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1L).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(col("doc"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_pm",
        round(lit(1000000.0) * col("n_oov") / col("n_tokens")).cast("long"))
  }

  /** C4-style boilerplate fraction: a k-shingle is boilerplate when it
    * appears in more than `maxDf` documents (navigation chrome, license
    * headers, templated text); each document reports how much of it is
    * made of such shingles. Returns (doc, n_shingles, n_boiler, boiler_pm)
    * for documents with at least one shingle.
    *
    * The df table (shingle → doc count) is the same inverted index the
    * near-dup path builds ([[TextDedup.ngramJaccardPairs]]); the flag join
    * is keyed on the shingle hash. Raffel et al. 2020 §2.2 deduplicates
    * three-sentence spans corpus-wide with exactly this shape.
    */
  /** Bigram language-model FLUENCY score — the integer-portable surrogate
    * for the CCNet / Gopher LM-perplexity quality gate (Wenzek et al.
    * 2020 §3.3 bucket documents by LM score; public recipe). A corpus
    * bigram model with add-one smoothing scores every document by its
    * mean transition probability:
    *
    *   p_micro(w1→w2) = (1e6 · (c(w1,w2) + 1)) div (c(w1·) + V)
    *   fluency_pm(doc) = Σ p_micro div n_bigrams
    *
    * — all BIGINT division (the [[tfidf]] idf_micro rule: `ln`/`exp`
    * round differently per libm, integer arithmetic hash-matches any
    * engine). Monotone in the model's mean likelihood, so threshold /
    * tercile gates compose exactly as in CCNet — pair with
    * [[Quantiles.histQuantiles]] for distributed head/middle/tail
    * cutoffs (no global window). A production deployment would swap the
    * corpus-trained bigram table for a trained LM's logprob column; the
    * gating plumbing is identical.
    *
    * Returns (doc_id, n_bigrams, fluency_pm) for documents with ≥ 1
    * bigram. Shuffle shape: two keyed aggs (bigram counts, context
    * counts) + the count-table joins back to the bigram stream (AQE
    * handles hot-bigram skew, the [[tfidf]] note) + one groupBy doc.
    * The vocabulary size is a broadcast 1-row aggregate, never assumed
    * driver-collectable.
    */
  def lmFluency(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = docs.select(col(id).as("doc"), Text.tokens(col(text)).as("t"))
    // Persist: the bigram stream feeds c2, c1, AND the scoring join.
    val bi = toks.select(col("doc"), explode(when(size(col("t")) >= 2,
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i.cast("int")).as("w1"),
            element_at(col("t"), (i + 1).cast("int")).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("doc"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = broadcast(toks.select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v")))
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(vocab)
      .withColumn("p_micro", expr("(1000000 * (c2 + 1)) div (c1 + v)"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sp"))
      .select(col("doc").as("doc_id"), col("n_bigrams"),
        expr("sp div n_bigrams").as("fluency_pm"))
  }

  /** Trigram "stupid backoff" fluency (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the web-scale scoring
    * recipe that skips normalized smoothing entirely): score each EVAL
    * document's trigrams against counts from a separate TRAIN corpus,
    * backing off trigram → bigram → unigram with factor α = 0.4 at each
    * level:
    *
    *   S(w₃|w₁w₂) = c₃(w₁w₂w₃)/c₂(w₁w₂)         if the trigram was seen
    *              | 0.4 · c₂(w₂w₃)/c₁(w₂)        else if the bigram was
    *              | 0.4² · c₁(w₃)/N              else if the unigram was
    *              | 0                             (out-of-vocabulary)
    *
    * All-integer micro units — `(1e6·c₃) div c₂`, `(4e5·c₂) div c₁`,
    * `(1.6e5·c₁) div N` — so the scores are hash-exact across engines
    * (0.4 and 0.16 are exact in micro; a float α would not be). Scoring
    * a HELD-OUT split is what makes backoff real: the corpus' own
    * trigrams always hit level 3 (every scored trigram is in the count
    * table by construction), which is why [[lmFluency]] smooths instead
    * — the two operators are the two halves of the CCNet recipe (train
    * on the reference corpus, score the crawl).
    *
    * Returns (doc_id, n_trigrams, n_tri_hits, n_bi_backoffs,
    * n_uni_backoffs, fluency_pm) for eval documents with ≥ 3 tokens.
    * Shuffle shape: three keyed count aggregates over the train corpus
    * (map-side partial — token multisets collapse per doc before the
    * exchange), then the eval trigram stream left-joins each count table
    * on its n-gram key (Zipf-bounded vocabulary tables, shuffle joins,
    * AQE-handled skew); the train token total is a broadcast 1-row
    * aggregate. Nothing is driver-collected.
    */
  def lmFluencyBackoff(train: DataFrame, eval: DataFrame, id: String,
                       text: String): DataFrame =
    lmScoreAgainst(eval, lmCounts(train, id, text), id, text)

  /** The trained stupid-backoff artifact: trigram / bigram / unigram
    * count tables + the 1-row token total. Computed once, scored against
    * many times (the streaming twin captures one instance across every
    * micro-batch — CCNet's train-once / score-the-crawl deployment).
    */
  final case class LmCounts(c3: DataFrame, b2: DataFrame, u1: DataFrame,
                            nTok: DataFrame)

  private def lmToks(df: DataFrame, id: String, text: String) =
    df.select(col(id).as("doc"), Text.tokens(col(text)).as("t"))

  private def lmTris(df: DataFrame, id: String, text: String) =
    lmToks(df, id, text)
      .select(col("doc"), explode(when(size(col("t")) >= 3,
          transform(sequence(lit(1), size(col("t")) - 2),
            i => struct(element_at(col("t"), i.cast("int")).as("w1"),
              element_at(col("t"), (i + 1).cast("int")).as("w2"),
              element_at(col("t"), (i + 2).cast("int")).as("w3"))))
          .otherwise(array().cast(
            "array<struct<w1:string,w2:string,w3:string>>"))).as("g"))
      .select(col("doc"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))

  /** Train the [[LmCounts]] tables. What persists is the AGGREGATED
    * count tables (Zipf-bounded, orders smaller than the exploded n-gram
    * streams they collapse) — so a streaming consumer scoring many
    * batches against one artifact really does pay the train-corpus
    * tokenize+shuffle once, not per batch; the token total derives from
    * the unigram table (`Σ c1`), never a second corpus pass. Caller owns
    * the caches (the convention in this file's header).
    */
  def lmCounts(train: DataFrame, id: String, text: String): LmCounts = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val trTok = lmToks(train, id, text)
      .select(col("doc"), explode(col("t")).as("w"))
    val trBi = lmToks(train, id, text)
      .select(col("doc"), explode(when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i.cast("int")).as("w1"),
              element_at(col("t"), (i + 1).cast("int")).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val u1 = trTok.groupBy(col("w")).agg(count(lit(1)).as("c1")).persist(lvl)
    LmCounts(
      c3 = lmTris(train, id, text).groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")).persist(lvl),
      b2 = trBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .persist(lvl),
      u1 = u1,
      nTok = broadcast(u1.agg(sum(col("c1")).as("n"))))
  }

  /** Score `eval`'s trigrams against a trained [[LmCounts]] artifact —
    * the join half of [[lmFluencyBackoff]].
    */
  def lmScoreAgainst(eval: DataFrame, t: LmCounts, id: String,
                     text: String): DataFrame = {
    val (c3, b2, u1, nTok) = (t.c3, t.b2, t.u1, t.nTok)
    lmTris(eval, id, text)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(b2.select(col("w1"), col("w2"), col("c2").as("c2_ctx")),
        Seq("w1", "w2"), "left")
      .join(b2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2_bo")), Seq("w2", "w3"), "left")
      .join(u1.select(col("w").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .join(u1.select(col("w").as("w3"), col("c1").as("c1_w3")), Seq("w3"), "left")
      .crossJoin(nTok)
      .withColumn("lvl",
        when(col("c3").isNotNull, 3).when(col("c2_bo").isNotNull, 2)
          .when(col("c1_w3").isNotNull, 1).otherwise(0))
      .withColumn("s_micro",
        when(col("lvl") === 3, expr("(1000000 * c3) div c2_ctx"))
          .when(col("lvl") === 2, expr("(400000 * c2_bo) div c1_w2"))
          .when(col("lvl") === 1, expr("(160000 * c1_w3) div n"))
          .otherwise(lit(0L)))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni_backoffs"),
        sum(col("s_micro")).as("sp"))
      .select(col("doc").as("doc_id"), col("n_trigrams"), col("n_tri_hits"),
        col("n_bi_backoffs"), col("n_uni_backoffs"),
        expr("sp div n_trigrams").as("fluency_pm"))
  }

  /** BM25 ranked retrieval (Robertson's Okapi weighting; Robertson &
    * Zaragoza 2009 §3.3), exact-integer form with k1 = 6/5, b = 3/4:
    * score every (query, doc) candidate produced by an inverted-index
    * equi-join and keep the top `k` docs per query (score desc, doc asc
    * — deterministic). Returns (q, doc, n_terms, score_pm, rank) where
    * n_terms counts the query's distinct terms matched in the doc.
    *
    * Every published BM25 is FP (idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * — a hash-compare death sentence across engines). With k1 = 6/5,
    * b = 3/4 and avgdl = A/N (A = corpus tokens, N = docs) the term
    * weight cross-multiplies to the all-integer
    *
    *   s_pm(t,d) = (idf_pm · tf · 44 · A) div (20·A·tf + 6·A + 18·N·dl)
    *
    * with idf_pm = (1e6·N) div df ([[tfidf]]'s portable idf). Products
    * run in DECIMAL(38,0) (HUGEINT in the oracle): at a web-corpus
    * A ≈ 1e13 the Long numerator overflows, and 38-digit integer
    * arithmetic is exact and identical in both engines.
    *
    * Scale shape: the postings aggregate (doc, term, tf) is built once
    * and persisted — it feeds the df rollup, the doc-length rollup, AND
    * the candidate join (dl/A derive from it, so the corpus is tokenized
    * exactly once). Query terms join postings on the term key — candidate
    * volume is the sum of the query terms' posting lists, never
    * |queries|×|docs| — and (N, A) ride a broadcast 1-row aggregate. The
    * final per-query top-k is a rank window with `rank <= k`, which
    * Spark's WindowGroupLimit prunes map-side before the exchange.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, id: String, text: String,
               qId: String, qTerms: String, k: Int,
               excludeSelf: Boolean = false): DataFrame =
    bm25TopKFromPostings(bm25Postings(docs, id, text), queries,
      qId, qTerms, k, excludeSelf)

  /** The BM25 INDEX build: tokenize once into the postings aggregate
    * `(doc, term, tf)` — the materialization seam. Everything BM25 needs
    * (df, dl, N, A) derives from this frame by additive rollups, so a
    * postings registry persisted as a term-bucketed catalog table serves
    * queries without ever re-tokenizing the corpus, and a NEW batch of
    * docs extends the index by a plain union (doc ids are fresh, every
    * stat is additive — [[bm25TopKFromPostings]] on the union is
    * bit-identical to a full rebuild, the q162 pin).
    */
  def bm25Postings(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc"),
        explode(Text.tokens(col(text))).as("term"))
      .filter(length(col("term")) >= 1)
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))

  /** The BM25 SERVE path when only the postings are materialized: roll
    * up corpus stats (df, dl, N, A) from one persisted postings scan
    * (three consumers — df, dl, candidates) and serve through
    * [[bm25TopKFromIndex]]. The stats rollup is the corpus-proportional
    * term this path still pays per call (bm25reg probe: it makes
    * serve-from-postings cost ≈ a full rebuild at probe scale); a
    * standing deployment materializes the stats too —
    * [[bm25Stats]] + [[bm25TopKFromIndex]] — and pays only
    * query-footprint work.
    */
  def bm25TopKFromPostings(postings: DataFrame, queries: DataFrame,
                           qId: String, qTerms: String, k: Int,
                           excludeSelf: Boolean = false): DataFrame = {
    val tf = postings
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfreq, dl, corpus) = bm25Stats(tf)
    bm25TopKFromIndex(tf, dfreq, dl, corpus, queries, qId, qTerms, k,
      excludeSelf)
  }

  /** Corpus statistics rollup over a postings frame: `(dfreq(term, df),
    * dl(doc, dl), corpus(n_docs, a_tok))`. Each is additive over
    * disjoint doc ids (df sums by term, dl and the corpus row append/
    * sum), so an ingest pipeline maintains all three incrementally
    * alongside the postings registry — the serve side then never scans
    * the corpus at all ([[bm25TopKFromIndex]]).
    */
  def bm25Stats(postings: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dl = postings.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("a_tok"))
    (dfreq, dl, corpus)
  }

  /** The fully-materialized BM25 serve path — the production search
    * shape: postings, df, dl, and the corpus row all come PREBUILT
    * (registry reads maintained at ingest), so a query batch pays only
    * its own footprint: the term joins touch the query terms' posting
    * lists (with postings and dfreq as term-bucketed catalog tables the
    * registry sides contribute zero shuffle — the gramreg layout), the
    * dl join keys the candidate set by doc (dl doc-bucketed likewise),
    * and the 1-row corpus frame rides a broadcast. Nothing in the plan
    * scans corpus-proportional data outside the bucketed lookups.
    */
  def bm25TopKFromIndex(postings: DataFrame, dfreq: DataFrame,
                        dl: DataFrame, corpus: DataFrame,
                        queries: DataFrame, qId: String, qTerms: String,
                        k: Int, excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qt = queries
      .select(col(qId).as("q"), explode(col(qTerms)).as("term"))
      .filter(length(col("term")) >= 1)
      .distinct()
    val scored = qt.join(postings, "term").join(dfreq, "term").join(dl, "doc")
      .crossJoin(broadcast(corpus))
      .withColumn("s_pm", okapiScorePm)
      .groupBy(col("q"), col("doc"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s_pm")).as("score_pm"))
    // Self-retrieval exclusion happens BEFORE ranking (an after-the-fact
    // filter would leave short lists); only meaningful when queries and
    // docs share an id space (the retrieval-eval convention).
    val eligible =
      if (excludeSelf) scored.filter(col("q") =!= col("doc")) else scored
    Dedup.keepFirstK(eligible, Seq(col("q")),
      Seq(col("score_pm").desc, col("doc").asc), k, "rank")
  }

  /** [[bm25TopKFromIndex]] over POSSIBLY-UNCOMPACTED registry frames —
    * identical output rows (hence identical hashes) when the inputs'
    * only impurities are byte-identical crash-replay duplicates (the
    * impact registry's crash contract), with the healing `distinct`
    * moved BELOW the keyed extraction onto the query footprint: the
    * r19 [[rescoreCandidates]] treatment applied to the full-scoring
    * AUDIT path (the q206–q210 `hit_exact` reference legs). The
    * pre-r20 form healed upstream — `bm25TopKFromIndex(
    * postings.distinct(), dfreq, dl.distinct(), …)`, an all-columns
    * HashAggregate + Exchange over the ENTIRE postings registry per
    * call, VERDICT r18 #1's class (measured 3.4 → 2.1 s on q206's
    * audit leg at sf0.1, r20). Here the term join runs first — its
    * output is the audit's own candidate footprint, which full scoring
    * materializes anyway — and ONE distinct over `(q, term, doc, tf,
    * dl)` collapses duplicated postings rows and dl-join fanout
    * together, at O(footprint) cost. dfreq/corpus arrive healed by
    * construction (the materialized stats/corpus delta logs).
    *
    * Equivalence argument (pinned in TermStatsSpec against injected
    * duplicates): inner joins commute, and a byte-identical duplicate
    * (of a postings row, or of a dl row fanning the doc join out)
    * joins into byte-identical footprint rows — so the post-join
    * distinct admits exactly the row multiset the upstream distincts
    * would have produced; on already-clean frames it is an identity
    * pass over rows keyed by (q, term, doc).
    */
  def bm25TopKFromIndexHealed(postings: DataFrame, dfreq: DataFrame,
                              dl: DataFrame, corpus: DataFrame,
                              queries: DataFrame, qId: String,
                              qTerms: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qt = queries
      .select(col(qId).as("q"), explode(col(qTerms)).as("term"))
      .filter(length(col("term")) >= 1)
      .distinct()
    val scored = qt.join(postings, "term").join(dl, "doc")
      .distinct() // heal replay duplicates on the audit footprint only
      .join(dfreq, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("s_pm", okapiScorePm)
      .groupBy(col("q"), col("doc"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s_pm")).as("score_pm"))
    Dedup.keepFirstK(scored, Seq(col("q")),
      Seq(col("score_pm").desc, col("doc").asc), k, "rank")
  }

  /** The exact-integer Okapi BM25 per-(q, term, doc) score in ppm —
    * ONE definition shared by every scoring site ([[bm25TopKFromIndex]],
    * [[bm25TopKFromIndexHealed]], [[rescoreCandidates]]) so the
    * arithmetic the oracles pin cannot drift between paths.
    */
  private def okapiScorePm: Column = expr(
    """(CAST((1000000 * n_docs) div df AS DECIMAL(38,0)) * tf * 44 * a_tok)
      |  div (20 * CAST(a_tok AS DECIMAL(38,0)) * tf + 6 * a_tok
      |       + 18 * n_docs * dl)""".stripMargin)

  /** The shared exact-rescore tail of the pruned serve paths: given a
    * candidate set `(q, doc)`, score each candidate EXACTLY against all
    * of its query terms — candidates join postings BY DOC (the doc-
    * bucketed registry read, volume Σ_cand dl(doc)), the query-term
    * inner join keeps only the query's terms, and the arithmetic is
    * [[bm25TopKFromIndex]]'s verbatim. Pruning in this engine only ever
    * shrinks WHO gets scored, never what a score is worth.
    *
    * Replay healing happens HERE, below the keyed extraction: the
    * postings/dl registry frames may carry byte-identical crash-replay
    * duplicates between compactions
    * ([[graft.streaming.Incremental.impactIndexRegistry]]'s crash
    * contract — a duplicated posting would double-count tf in the score
    * sum, a duplicated dl row would fan the join out), so the joined
    * query-footprint rows pass one `distinct()` before scoring.
    * Byte-identical duplicates collapse at O(candidate footprint) cost;
    * on already-clean inputs (q, doc, term) is a key and the distinct is
    * an identity pass. The pre-r19 form healed UPSTREAM
    * (`postings.distinct()` in impactIndexStats) — an all-columns
    * HashAggregate + Exchange over the ENTIRE registry per serve call,
    * the last O(registry)-in-O(query)-clothing term (VERDICT r18 #1);
    * PlanSpec pins that no aggregate over a bare postings/dl scan can
    * return to the serve plan.
    *
    * Deployment note (the r19 zipfserve/zipfbucket finding): when the
    * candidate set outgrows the broadcast threshold (deep calibrated m
    * × large query batches), the doc-keyed joins here plan as
    * sort-merge and shuffle BOTH sides — on plain parquet that
    * re-shuffles the corpus-proportional postings/dl frames per serve
    * batch. A standing deployment stores postings/dl as doc-BUCKETED
    * catalog tables ([[graft.sources.Bucketing.writeBucketed]], the
    * gramreg registry convention): the registry side then arrives
    * pre-partitioned and only the candidate side (∝ query footprint)
    * shuffles — measured −2 exchanges / −37% wall at the probe's 64×
    * rung (SCALE.md zipfbucket).
    */
  private def rescoreCandidates(cands: DataFrame, qt: DataFrame,
                                postings: DataFrame, dfreq: DataFrame,
                                dl: DataFrame, corpus: DataFrame,
                                k: Int): DataFrame = {
    val scored = cands.join(postings, "doc").join(qt, Seq("q", "term"))
      .join(dl, "doc")
      .distinct() // heal replay duplicates on the query footprint only
      .join(dfreq, "term")
      .crossJoin(broadcast(corpus))
      .withColumn("s_pm", okapiScorePm)
      .groupBy(col("q"), col("doc"))
      .agg(count(lit(1)).as("n_terms"), sum(col("s_pm")).as("score_pm"))
    Dedup.keepFirstK(scored, Seq(col("q")),
      Seq(col("score_pm").desc, col("doc").asc), k, "rank")
  }

  /** df-capped BM25 serve — the candidate-generation cut the r16 Zipf
    * probe priced (SCALE.md zipf): full-scoring candidate volume is
    * Σ df(query term), and because realistic query terms are token-
    * frequency-biased that is ∝ corpus size per query. Here candidates
    * come only from the query's RARE terms (df·1e6 ≤ capSharePm·n_docs,
    * evaluated in-plan against the broadcast corpus row — no driver
    * action), then every candidate is rescored EXACTLY against all its
    * query terms ([[rescoreCandidates]]). A query whose every term is
    * above the cap falls back to all of its terms — it must degrade to
    * full scoring, not to an empty list. The classic safe-list family
    * (Turtle & Flood 1995 MaxScore / Broder et al. 2003 WAND prune with
    * per-term score bounds; this is the simpler df-threshold member) —
    * approximate in WHO it considers (a doc matching only stopword-class
    * terms can be missed), exact in every score it emits; pair with the
    * hit_exact audit (q203) to measure the miss rate before trusting a
    * cap.
    *
    * Scale shape: candidate generation touches only rare-term posting
    * lists (each ≤ cap·n docs, and under a Zipf vocabulary almost all
    * terms are far below it); the rescore is Σ_cand dl — both
    * query-footprint, neither ∝ corpus × queries.
    */
  def bm25TopKPruned(postings: DataFrame, dfreq: DataFrame, dl: DataFrame,
                     corpus: DataFrame, queries: DataFrame, qId: String,
                     qTerms: String, k: Int, capSharePm: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(capSharePm >= 1 && capSharePm <= 1000000,
      s"capSharePm must be in [1, 1e6], got $capSharePm")
    val qt = queries
      .select(col(qId).as("q"), explode(col(qTerms)).as("term"))
      .filter(length(col("term")) >= 1)
      .distinct()
    val qtd = qt.join(dfreq, "term").crossJoin(broadcast(corpus))
      .withColumn("__rare",
        when(col("df") * 1000000L <= lit(capSharePm) * col("n_docs"), 1L)
          .otherwise(0L))
      .select(col("q"), col("term"), col("__rare"))
    val qflag = qtd.groupBy(col("q")).agg(max(col("__rare")).as("__has_rare"))
    val gen = qtd.join(qflag, "q")
      .filter(col("__rare") === 1L || col("__has_rare") === 0L)
      .select(col("q"), col("term"))
    val cands = gen.join(postings, "term").select(col("q"), col("doc"))
      .distinct()
    rescoreCandidates(cands, qt, postings, dfreq, dl, corpus, k)
  }

  /** Impact-ordered truncated index build: per term keep only the
    * `m` highest-impact postings, impact proxied by the Okapi score's
    * own monotonicities (tf desc, dl asc, doc asc — the score rises in
    * tf and falls in dl, so the proxy order agrees with the true
    * per-term score order; Anh & Moffat 2006's impact-sorted index in
    * its deterministic integer form). An index-refresh step, run once
    * per build: the per-term top-m window partitions by term — the head
    * term's partition is df-sized at build time, which is the standard
    * index-build cost and never a serve cost.
    */
  /** The impact proxy order, shared by every truncation/merge site so the
    * tie-breaks cannot drift apart: tf desc (score rises in tf), dl asc
    * (score falls in dl), doc asc (determinism).
    */
  private[graft] def impactOrder: Seq[Column] =
    Seq(col("tf").desc, col("dl").asc, col("doc").asc)

  def bm25ImpactIndex(postings: DataFrame, dl: DataFrame, m: Int): DataFrame =
    bm25ImpactIndexWithDl(postings, dl, m)
      .select(col("doc"), col("term"), col("tf"))

  /** [[bm25ImpactIndex]] keeping the `dl` column — the REGISTRY form
    * ([[graft.streaming.Incremental.streamingImpactIndex]]'s layout):
    * per-term re-truncation on merge needs dl for the tie-break, and
    * carrying it beats re-joining the dl registry every maintenance
    * batch.
    */
  def bm25ImpactIndexWithDl(postings: DataFrame, dl: DataFrame,
                            m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    Dedup.keepFirstK(postings.join(dl, "doc"), Seq(col("term")),
        impactOrder, m, "__ir")
      .select(col("doc"), col("term"), col("tf"), col("dl"))
  }

  /** [[bm25ImpactIndexWithDl]] over POSSIBLY-UNCOMPACTED registry frames
    * — the r20 footprint-heal treatment ([[bm25TopKFromIndexHealed]]'s
    * theorem) applied to the index REBUILD arm: callers used to pass
    * `postings.distinct()` / `dl.distinct()`, paying a full-registry
    * all-columns HashAggregate+Exchange on EACH input before the join
    * and then a third full exchange into the per-term window. Here the
    * raw frames join first, ONE keyed repartition on `term` feeds BOTH
    * the healing distinct and the truncation window (HashPartitioning
    * on `term` satisfies the distinct's grouping distribution — `term`
    * ⊆ the row's columns — and is exactly the window's required
    * distribution, so neither adds an exchange; QuickPlan-verified,
    * Bm25Spec-pinned). Equivalence with the upstream-distinct form:
    * inner joins commute, and a byte-identical duplicate (a replayed
    * postings row, or a replayed dl row fanning the join out) joins
    * into byte-identical `(doc, term, tf, dl)` rows the post-join
    * distinct collapses — the registry crash contract's only impurity
    * class. The keyed repartition is AQE-coalescible (no pinned
    * partition count), so the shape scales with the registry, not the
    * session constant.
    */
  def bm25ImpactIndexWithDlHealed(postings: DataFrame, dl: DataFrame,
                                  m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    Dedup.keepFirstK(
      postings.join(dl, "doc").repartition(col("term")).distinct(),
      Seq(col("term")), impactOrder, m, "__ir")
      .select(col("doc"), col("term"), col("tf"), col("dl"))
  }

  /** The impact-index MONOTONE MERGE — the incremental maintenance step:
    * re-truncate (standing index ∪ batch rows) per term. EXACT on an
    * append-only corpus: a posting outside top-m(P) is dominated by ≥ m
    * postings that all remain in P ∪ B, so top-m(P ∪ B) ⊆ top-m(P) ∪ B.
    * Requires the SAME m the standing index was built at (a depth
    * increase cannot reach below the old cut — rebuild instead, the
    * streaming maintainer's pow2 policy). `distinct` de-dups rows a
    * crash-replayed append may have duplicated (the registry's crash
    * contract) so they cannot double-count toward m. Both sides carry
    * `(doc, term, tf, dl)`. Theorem pinned three ways: q205's oracle
    * computes the full-corpus truncation in one window (DuckDB hash
    * equality), StreamBatchEquivalenceSpec drives the real stream, and
    * a ScalaCheck property exercises random corpora and depths.
    */
  def impactIndexMerge(standing: DataFrame, batchRows: DataFrame,
                       m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    // one keyed repartition feeds both the healing distinct and the
    // re-truncation window (the bm25ImpactIndexWithDlHealed shape) —
    // pre-r20 the distinct exchanged the full union by ALL columns and
    // the window exchanged it AGAIN by term
    Dedup.keepFirstK(
      standing.unionByName(batchRows).repartition(col("term")).distinct(),
      Seq(col("term")), impactOrder, m, "__ir")
      .select(col("doc"), col("term"), col("tf"), col("dl"))
  }

  /** The calibrated docs-per-slot ratio [[impactM]] defaults to. */
  val DocsPerSlot = 625L

  /** The calibrated impact-list depth m(n): a FIXED m is a shrinking
    * fraction of each term's (corpus-proportional) posting list, so its
    * recall decays as the corpus grows — the r16 zipfm ladder measured
    * recall@5 falling 84% → 69% as a fixed m=64 met a 4× larger corpus
    * (SCALE.md). The same ladder contains the cure: recall is FLAT when
    * m tracks n (m=64 at 40k docs → 84%; m=256 at 160k → 87% — one
    * calibrated ratio, n/m ≈ 625, holds recall@5 at ~85%). So the serve
    * contract becomes "recall ≈ recall(docsPerSlot), independent of
    * corpus size", with `docsPerSlot` THE knob a deployment tunes by
    * reading its own hit_exact audit (q204) — smaller slot = deeper
    * lists = higher flat recall. `mMin` floors small corpora (below
    * mMin·docsPerSlot docs the full calibration is cheaper than its own
    * bookkeeping). Integer ceiling, no FP — the oracle twin computes
    * the identical value as `GREATEST(mMin, (n + slot - 1) // slot)`.
    *
    * The truncated index then carries m(n)·|vocab| ∝ n·V/slot rows —
    * still the bound the df-cap can't give (each term's list ≤ m(n)
    * regardless of df; the head term's raw list is ∝ n with a constant
    * ~1000× larger on the Zipf ladder).
    */
  def impactM(nDocs: Long, docsPerSlot: Long = DocsPerSlot, mMin: Int = 64): Int = {
    require(nDocs >= 0, s"nDocs must be >= 0, got $nDocs")
    require(docsPerSlot >= 1, s"docsPerSlot must be >= 1, got $docsPerSlot")
    require(mMin >= 1, s"mMin must be >= 1, got $mMin")
    // mod-based ceiling: the (n + slot - 1) form overflows Long for
    // counts near Long.MaxValue and the clamp would then read mMin —
    // the loopParts lesson, one type wider
    val ceil = nDocs / docsPerSlot + (if (nDocs % docsPerSlot == 0) 0L else 1L)
    math.min(Int.MaxValue.toLong, math.max(mMin.toLong, ceil)).toInt
  }

  /** BM25 served from an impact-truncated index ([[bm25ImpactIndex]]):
    * candidates are the union of the query terms' top-`m` impact lists
    * — candidate volume ≤ |q terms|·m per query REGARDLESS of df, the
    * head-term bound the df-cap cannot give — then rescored exactly
    * against the FULL postings ([[rescoreCandidates]]). Approximate in
    * candidate recall (a doc ranking on many weak matches can be
    * missed), exact in every emitted score; q204's hit_exact audit
    * measures the miss rate. The index carries m·|vocab| rows.
    */
  def bm25TopKImpact(truncated: DataFrame, postings: DataFrame,
                     dfreq: DataFrame, dl: DataFrame, corpus: DataFrame,
                     queries: DataFrame, qId: String, qTerms: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qt = queries
      .select(col(qId).as("q"), explode(col(qTerms)).as("term"))
      .filter(length(col("term")) >= 1)
      .distinct()
    val cands = qt.join(truncated, "term").select(col("q"), col("doc"))
      .distinct()
    rescoreCandidates(cands, qt, postings, dfreq, dl, corpus, k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * merge any number of ranked retrieval legs — lexical BM25, dense ANN,
    * anything emitting `(q, doc, rank)` — into one list per query. A doc
    * at rank r in a leg contributes `1e6 div (kRrf + r)`, exact integer
    * arithmetic (the published 1/(60+r) scaled by 1e6 and floored — no FP
    * anywhere, so the fusion hash-matches any engine), summed across legs
    * and re-ranked (sum desc, doc asc — deterministic). `n_legs` counts
    * the legs that retrieved the doc — the agreement signal hybrid
    * search exists for.
    *
    * Scale shape: each leg is already a top-k list (|Q|·k rows), so the
    * fusion's union + groupBy + rank shuffles only |Q|·k·legs rows —
    * negligible next to the legs themselves, and independent of corpus
    * size. The legs run over the full corpus; fusion never touches it.
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    val contrib = legs.map(_.select(col("q"), col("doc"),
        expr(s"1000000 div ($kRrf + rank)").as("rrf_pm")))
      .reduce(_ unionByName _)
    val fused = contrib.groupBy(col("q"), col("doc"))
      .agg(sum(col("rrf_pm")).as("rrf_pm"), count(lit(1)).as("n_legs"))
    Dedup.keepFirstK(fused, Seq(col("q")),
      Seq(col("rrf_pm").desc, col("doc").asc), k, "rank")
  }

  def boilerplateFraction(docs: DataFrame, id: String, text: String, k: Int,
                          maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val sh = docs.select(col(id).as("doc"), Text.tokens(col(text)).as("toks"))
      .select(col("doc"), explode(Text.shingles(col("toks"), k)).as("sh"))
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh"), lit(1L).as("is_boiler"))
    sh.join(hot, Seq("sh"), "left_outer")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_pm",
        round(lit(1000000.0) * col("n_boiler") / col("n_shingles")).cast("long"))
  }

  /** Pinned integer nDCG discount weight for rank `r` (1-based):
    * `floor(1e6 / log2(1 + r))`. Computed ONCE here in Scala doubles and
    * interpolated as integer literals into the DuckDB oracle's VALUES
    * list ([[graft.queries.Oracles]]), so both engines share the exact
    * same constants by construction — the icosa-table convention; no
    * cross-engine `log` rounding can reach the hash compare.
    */
  def ndcgWeightPm(r: Int): Long = {
    require(r >= 1, s"rank must be >= 1, got $r")
    math.floor(1000000.0 / (math.log(r + 1.0) / math.log(2.0))).toLong
  }

  /** Graded nDCG@k over a ranked retrieval list (Järvelin & Kekäläinen,
    * TOIS 2002 — the graded companion to q166's binary hit@k/MRR),
    * exact-integer end to end. Input: `(qCol, rankCol, relCol)` rows with
    * rank 1-based and an integer relevance grade per retrieved doc; rows
    * past rank `k` are ignored. Gain is the standard `2^rel − 1`
    * (`rel` must stay ≤ 62 — the Long shift bound; retrieval grades are
    * single digits in practice), discount is [[ndcgWeightPm]], and the
    * ideal ordering re-ranks the SAME retrieved gains (gain desc, rank
    * asc — ties permute equal gains, which cannot change Σ gain·w). The
    * shift bound applies to the GRADE, not the list depth: any k ≥ 1 is
    * valid (nDCG@100 is a standard cutoff), while a grade outside
    * [0, 62] fails loudly in-plan — out-of-range `rel` through
    * `shiftleft` yields garbage gains silently, the corruption class
    * this library always raises on.
    * This is the list-permutation nDCG: it grades ORDERING quality of
    * what was retrieved, label-free; the missing-relevant-doc axis is
    * the known-item card's hit@k, not this metric's job.
    *
    * Output per query: `(q, n_ret, dcg_pm, idcg_pm, ndcg_pm)` with
    * `ndcg_pm = (1e6·dcg) div idcg` (0 when idcg is 0 — an all-zero-grade
    * list must read as a well-typed worst reading, the q166 convention).
    *
    * Scale shape: input is already a top-k list (|Q|·k rows), so the
    * ideal-rank window and the per-query aggregate shuffle |Q|·k rows
    * keyed by query — independent of corpus size; both weight joins ride
    * a k-row broadcast.
    */
  def gradedNdcg(ranked: DataFrame, qCol: String, rankCol: String,
                 relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the rank-weight table is a DRIVER-SIDE broadcast constant (k rows):
    // a sanity bound on list depth keeps an absurd k a clean require, not
    // a driver OOM (grades are separately bounded in-plan at 62)
    require(k <= 1000000,
      s"k must be <= 1000000 (the weight table is a broadcast k-row " +
        s"constant), got $k")
    val spark = ranked.sparkSession
    import spark.implicits._
    val weights = (1 to k).map(r => (r.toLong, ndcgWeightPm(r)))
      .toDF("rk", "w_pm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("gain").desc, col("rk").asc)
    val g = ranked.select(col(qCol).as("q"),
        col(rankCol).cast("long").as("rk"), col(relCol).cast("int").as("rel"))
      .filter(col("rk") <= k)
      .withColumn("gain",
        when(col("rel").isNull || col("rel") < 0 || col("rel") > 62,
          raise_error(concat(lit("gradedNdcg: relevance grade "),
            col("rel").cast("string"),
            lit(" outside [0, 62] — shiftleft would yield garbage gains " +
              "silently"))).cast("long"))
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), rel) - 1")))
      .withColumn("irk", row_number().over(w).cast("long"))
    g.join(broadcast(weights.select(col("rk"), col("w_pm").as("w_act"))),
        Seq("rk"))
      .join(broadcast(weights.select(col("rk").as("irk"),
        col("w_pm").as("w_ideal"))), Seq("irk"))
      .groupBy(col("q"))
      .agg(count(lit(1)).as("n_ret"),
        sum(col("gain") * col("w_act")).as("dcg_pm"),
        sum(col("gain") * col("w_ideal")).as("idcg_pm"))
      .withColumn("ndcg_pm", when(col("idcg_pm") === 0, lit(0L))
        .otherwise(expr("(1000000 * dcg_pm) div idcg_pm")))
  }

  /** RM3-style pseudo-relevance-feedback expansion terms (Abdul-Jaleel
    * et al., TREC 2004 — the relevance-model form every lexical engine
    * ships as "query expansion"): from a base top-k run `(q, doc, …)`
    * and the postings registry, the `m` highest-mass feedback terms per
    * query — `fb_w = (Σ tf over that query's feedback docs) · idf_pm`
    * with the portable `idf_pm = (1e6·N) div df` ([[tfidf]]'s), original
    * query terms excluded (expansion must ADD vocabulary, not re-weight
    * it), fb_w desc / term asc deterministic. Published RM3 weights the
    * relevance model by FP doc scores; this integer-exact form keeps the
    * tf mass and the idf tilt — and the tilt is LOAD-BEARING twice over:
    * semantically (raw tf mass elects stopword-class terms, the classic
    * naive-PRF failure) and for scale (a stopword expansion term's
    * posting list is the whole corpus, so pass 2's candidate join
    * explodes to |Q|·N — measured 20 s vs ~4 s at the q168 bench shape
    * before/after the tilt; the retrieval probe pinned it).
    *
    * Scale shape: the feedback side is |Q|·k doc ids joined to postings
    * BY DOC KEY — with postings doc-bucketed (the gramreg layout) that is
    * a pruned registry read, never a corpus scan; the df join touches
    * only feedback-vocabulary terms, the 1-row corpus frame rides a
    * broadcast, and the anti-join + top-m window move |Q|-proportional
    * rows.
    */
  def rm3ExpansionTerms(base: DataFrame, postings: DataFrame,
                        dfreq: DataFrame, corpus: DataFrame,
                        origTerms: DataFrame, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val fb = base.select(col("q"), col("doc")).join(postings, "doc")
      .groupBy(col("q"), col("term")).agg(sum(col("tf")).as("fb_tf"))
      .join(origTerms.select(col("q"), col("term")), Seq("q", "term"),
        "left_anti")
      .join(dfreq, "term")
      .crossJoin(broadcast(corpus.select(col("n_docs"))))
      .withColumn("fb_w",
        col("fb_tf") * expr("(1000000 * n_docs) div df"))
      .select(col("q"), col("term"), col("fb_tf"), col("fb_w"))
    Dedup.keepFirstK(fb, Seq(col("q")),
      Seq(col("fb_w").desc, col("term").asc), m, "erank")
  }
}
