package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM-style subword tokenizer (the SentencePiece-unigram family,
  * Kudo 2018): a piece VOCABULARY scored by corpus support, and a per-word
  * VITERBI segmentation that picks, among all ways to tile the word with
  * vocabulary pieces, the best under an integer-exact objective —
  * fewest pieces, then highest total piece support, then lexicographically
  * smallest piece sequence. This is the portable stand-in for the
  * log-likelihood objective (maximizing Σ log p favors few, frequent
  * pieces; `ln` rounds differently across engines — the [[TermStats]]
  * `idf_micro` rule — so the ordering is expressed in integers that every
  * engine agrees on bit-for-bit).
  *
  * Complements [[Bpe]]: BPE segments by replaying an ordered MERGE table
  * (greedy, bottom-up); unigram segments by OPTIMIZING over a scored piece
  * vocabulary (global, top-down) — the two public tokenizer families.
  *
  * Why per-position DP is exact for the lexicographic objective: two DP
  * states at the same position with equal piece count have equal rendered
  * length (len = position + pieces), so neither is a proper prefix of the
  * other and seg-lex comparison is stable under appending any common
  * suffix; piece count and support are position-additive; hence the
  * per-position best extends to the global best (the classic exchange
  * argument, which the UnigramSpec enumeration cross-check pins).
  *
  * Scale shape: TRAINING is one aggregate over the DISTINCT-word table (a
  * Zipf-bounded vocabulary, never the token stream) with ≤ maxLen·|word|
  * substring fan-out per word, topped by a TakeOrderedAndProject;
  * SEGMENTATION is a pure per-word fold (`aggregate` over character
  * positions carrying the DP row) against a BROADCAST literal vocabulary
  * — no shuffle, no join, no UDF; callers re-join pieces to the corpus by
  * word key (the [[Bpe.applyMerges]] contract).
  */
object Unigram {

  /** Train the scored piece vocabulary over a (word, freq) table: every
    * substring of length 1..`maxLen` scored by Σ freq of the words
    * containing it (occurrences within a word count once per position —
    * corpus SUPPORT, the add-constant-free analog of the unigram M-step),
    * keeping the top `topK` multi-character pieces (score desc, piece asc
    * — deterministic) plus ALL single characters (the <unk>-free fallback
    * alphabet every unigram vocab force-includes). Returns (piece, score).
    */
  def trainVocab(words: DataFrame, word: String, freq: String,
                 maxLen: Int, topK: Int): DataFrame = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val vocab = words
      .select(col(word).as("w"), col(freq).cast("long").as("f"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(sum(col("f")).as("f"))
    // Persisted: the piece table feeds BOTH the alphabet filter and the
    // multi-char top-K — without it each union branch re-scans the word
    // table and re-runs the substring aggregate (vocabulary-sized data,
    // corpus-sized lineage). Caller-owned lifecycle (the TermStats
    // convention — Verify/Bench drain via Caches.clearAll).
    val subs = vocab.select(col("f"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)),
         |  i -> transform(sequence(1, least($maxLen, length(w) - i + 1)),
         |    j -> substring(w, i, j))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val multi = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("score").desc, col("piece").asc)
      .limit(topK)
    val chars = subs.filter(length(col("piece")) === 1)
    chars.unionByName(multi)
  }

  /** Longest word [[segment]] accepts: DP row memory is O(len²). */
  val MaxWordLen = 64

  /** Segment every distinct word by Viterbi DP over the literal `vocab`
    * (collected from [[trainVocab]] — bounded at topK + |alphabet| rows,
    * the [[Bpe]] merge-table / kmeans-centroid collect scale). Multi-char
    * pieces must be in the vocabulary; single characters are always
    * admissible (score 0 when unseen — the deterministic unknown-char
    * rule). Returns (w, n_pieces, score, pieces) with `pieces` joined by
    * single spaces.
    *
    * The fold carries the full DP row (one struct per prefix length —
    * words are bounded by [[MaxWordLen]], enforced) and every step reduces
    * `maxLen` candidate extensions with the lexicographic
    * (np asc, score desc, seg asc) comparator. All codegen'd built-ins
    * and higher-order functions — no UDF, no shuffle.
    *
    * `carry` names columns to pass through unchanged (the word's corpus
    * frequency, typically): distinctness is then over (word, carry) —
    * for a well-formed one-row-per-word table a no-op — and the caller
    * avoids re-joining segmentation back onto its own input, which
    * would re-scan and re-aggregate the corpus subtree a second time
    * (the q128 plan paid exactly that before this parameter existed).
    */
  def segment(words: DataFrame, word: String,
              vocab: Seq[(String, Long)], maxLen: Int,
              carry: Seq[String] = Nil): DataFrame = {
    require(maxLen >= 2, s"maxLen must be >= 2, got $maxLen")
    require(vocab.nonEmpty, "empty vocabulary")
    val vmap: Column = map_from_arrays(
      typedLit(vocab.map(_._1)), typedLit(vocab.map(_._2)))
    val w = col("w")
    // DP state is struct(np, nsc = −score, seg): the struct's NATURAL
    // ordering (field by field) is then exactly the objective
    // (np asc, score desc, seg asc), so "best candidate" is ONE
    // `array_min` over the ≤ maxLen extensions. The first cut used a
    // reduced when-chain comparator; every reduce level re-embedded both
    // operand trees several times, and the tree grew ~6^maxLen — 9 s of
    // analysis + interpreted evaluation PER QUERY for a 31-word corpus.
    // With array_min each candidate subtree appears once and the whole
    // segmentation is ~100 ms (the prep probe pins the gap).
    val dp: Column = aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0).as("np"), lit(0L).as("nsc"), lit("").as("seg"))),
      (acc, i) => {
        val cands: Seq[Column] = (1 to maxLen).map { j =>
          val piece = w.substr(i - lit(j) + lit(1), lit(j))
          val admissible =
            if (j == 1) lit(true) else element_at(vmap, piece).isNotNull
          // element_at is guarded: CaseWhen branches evaluate lazily, so
          // the (i − j + 1) index is only read when i ≥ j holds.
          lazy val prev = element_at(acc, (i - lit(j) + lit(1)).cast("int"))
          when(i >= lit(j) && admissible,
            struct((prev("np") + lit(1)).as("np"),
              (prev("nsc") - coalesce(element_at(vmap, piece), lit(0L))).as("nsc"),
              concat(prev("seg"), lit(" "), piece).as("seg")))
            .otherwise(lit(null))
        }
        concat(acc, array(array_min(array(cands: _*))))
      },
      acc => element_at(acc, -1))
    val in = words
      .select(col(word).as("w") +: carry.map(col): _*).distinct()
      .filter(length(col("w")) >= 1)
      // In-plan guard, not a driver-side pre-scan (that would run the
      // distinct twice): DP row memory is O(len²) per word, so an
      // unbounded "word" (unsplit CJK, a data bug) must fail loudly.
      .withColumn("w", when(length(col("w")) <= MaxWordLen, col("w"))
        .otherwise(raise_error(concat(
          lit(s"Unigram.segment: word longer than maxWordLen=$MaxWordLen: "),
          substring(col("w"), 1, 40)))))
    in.select(w +: carry.map(col) :+ dp.as("__dp"): _*)
      .select(w +: carry.map(col) :+
        col("__dp.np").cast("long").as("n_pieces") :+
        (-col("__dp.nsc")).as("score") :+
        ltrim(col("__dp.seg")).as("pieces"): _*)
  }

  /** One hard-EM (Viterbi-EM) refinement of the vocabulary — the
    * re-estimate + prune step of the Kudo training loop, in its
    * hard-assignment form: segment the corpus under the CURRENT scores
    * (the Viterbi E-step), re-score every piece by its frequency-weighted
    * USAGE in those segmentations (the count M-step), and DROP
    * multi-char pieces the optimal segmentations never used (the
    * pruning that shrinks a seeded vocabulary toward pieces that earn
    * their place) — single characters are always retained (usage score,
    * possibly 0: the alphabet is the fallback and must never vanish).
    * Returns the refined (piece, score) vocabulary, bounded by
    * |vocab| + |alphabet| like the input.
    *
    * Scale shape: one [[segment]] pass over the distinct-word table +
    * one explode/aggregate over its (short) piece strings; the refined
    * vocabulary is collected at the same bounded driver scale the
    * caller already collected `vocab` at.
    */
  def refineVocab(words: DataFrame, word: String, freq: String,
                  vocab: Seq[(String, Long)], maxLen: Int): Seq[(String, Long)] = {
    val usage = segment(
        words.select(col(word).as("w"), col(freq).cast("long").as("__f")),
        "w", vocab, maxLen, carry = Seq("__f"))
      .select(col("__f"), explode(split(col("pieces"), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("__f")).as("score"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val singles = vocab.filter(_._1.length == 1).map(_._1)
    singles.map(c => c -> usage.getOrElse(c, 0L)) ++
      usage.toSeq.filter(_._1.length >= 2).sortBy(_._1)
  }
}
