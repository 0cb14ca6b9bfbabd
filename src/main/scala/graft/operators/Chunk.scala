package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Overlapping token-window document chunking — the retrieval/long-context
  * example-prep step that cuts each document into fixed-size token windows
  * with a configured overlap (the standard RAG / FiD / long-context
  * pretraining chunker: window `size`, stride `size − overlap`, last window
  * may be short, a document shorter than one window yields exactly one
  * chunk).
  *
  * Contrast with [[Packing.packByBudget]]: packing concatenates MANY
  * documents into budget-sized sequences (zero waste, docs straddle
  * boundaries); chunking splits ONE document into windows (overlap wastes
  * budget deliberately so no boundary-adjacent context is ever lost to a
  * retriever). A pipeline typically chunks for the retrieval index and
  * packs for the trainer.
  *
  * Scale shape: stateless per-row arithmetic — tokenize, generate the
  * window starts with `sequence`, `posexplode` — no shuffle, no window
  * function, no driver state; fan-out is bounded by ceil(n_tok/stride) per
  * document, so output size is ~(1 + overlap/stride)× the corpus, and the
  * whole operator lives inside one WholeStageCodegen span (pinned in
  * PlanSpec). Composes with the dedup family downstream via the md5
  * `chunk_hash` (chunk-level exact dedup is [[Dedup]] on that key).
  */
object Chunk {

  /** One row per (document, window): `(id, chunk_idx, start_tok, n_tok,
    * chunk_text, chunk_hash)`. An empty/whitespace-only text still
    * tokenizes to one empty token (the `split(trim(…))` contract both
    * engines share) and yields one empty-text chunk — the oracle emits
    * the same row, so the behavior is pinned rather than special-cased.
    * Deterministic: pure arithmetic over token positions.
    *
    * @param id      stable document id column name
    * @param text    document text column name (whitespace-tokenized)
    * @param size    window size in tokens; positive
    * @param overlap tokens shared by consecutive windows; `0 ≤ overlap <
    *                size` (stride = size − overlap)
    */
  def tokenWindows(df: DataFrame, id: String, text: String,
                   size: Int, overlap: Int): DataFrame = {
    require(size > 0, s"chunk size must be positive, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    val stride = size - overlap
    val toks: Column = Text.tokens(col(text))
    val n: Column = org.apache.spark.sql.functions.size(toks)
    // Standard cut rule: emit windows at starts 0, stride, 2·stride, …;
    // stop once a window reaches the end — 1 + ceil((n − size)/stride)
    // windows for n > size, exactly 1 otherwise. Integer `div` keeps the
    // count exact; the `sequence` is guarded non-descending by the
    // greatest(…, 0).
    df.select(col(id), toks.as("__toks"), n.as("__n"))
      .where(col("__n") > 0)
      .select(col(id), col("__toks"), col("__n"),
        posexplode(sequence(lit(0L),
          expr(s"(greatest(cast(__n as bigint) - ${size}L, 0L) + ${stride - 1}L) div ${stride}L"))))
      .select(col(id), col("pos").cast("int").as("chunk_idx"),
        (col("pos") * stride).cast("long").as("start_tok"),
        least(lit(size.toLong), col("__n") - col("pos") * stride)
          .cast("long").as("n_tok"),
        concat_ws(" ",
          slice(col("__toks"), (col("pos") * stride + 1).cast("int"), lit(size)))
          .as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text")))
  }

  /** Content-defined chunking (the Rabin/rolling-hash boundary rule of
    * dedup storage systems, applied at token granularity): a chunk ends
    * after token i whenever the hash of the CONTENT-ONLY 2-gram ending at
    * i lands in the boundary residue class (`hash % divisor == 0`,
    * expected chunk length = `divisor` tokens). Because boundaries
    * depend on local content, not positions, an insertion near the
    * document head re-chunks only up to the first boundary after the
    * edit — every later chunk is byte-identical and its `chunk_hash`
    * still hits the dedup registry (the SHIFT-INVARIANCE fixed windows
    * fundamentally lack: one leading token moves EVERY [[tokenWindows]]
    * boundary). That makes this the chunker for incremental near-exact
    * dedup over edited/recrawled corpora; [[tokenWindows]] remains the
    * chunker for retrieval windows of a fixed token budget.
    *
    * No min/max clamp: the unclamped gear rule keeps the operator pure
    * window algebra (a clamp makes each boundary depend on the previous
    * accepted boundary — a sequential per-doc fold); chunk length is
    * geometric with mean `divisor`, which downstream budget packing
    * absorbs.
    *
    * One doc-keyed exchange: the boundary-marker window, the offset
    * window, and the chunk rebuild aggregate all reuse the same
    * clustering ([[graft.operators.Sft.renderChat]]'s plan rule).
    * Returns (id, chunk_seq, n_tok, chunk_text, chunk_hash).
    */
  def contentDefined(df: DataFrame, id: String, text: String,
                     divisor: Int): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val toks: Column = Text.tokens(col(text))
    val exploded = df
      .select(col(id), posexplode(toks).as(Seq("__p", "__tok")))
      .select(col(id), (col("__p") + 1).as("__pos"), col("__tok"))
    val w = Window.partitionBy(col(id)).orderBy(col("__pos"))
    val gram = when(col("__pos") === 1, col("__tok"))
      .otherwise(concat(lag(col("__tok"), 1).over(w), lit(" "), col("__tok")))
    val marked = exploded
      .withColumn("__marker",
        when(Text.hash32(gram, 7) % divisor === 0, 1L).otherwise(0L))
      .withColumn("__chunk_seq", lit(1L) + coalesce(
        sum(col("__marker")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    marked
      .groupBy(col(id), col("__chunk_seq").as("chunk_seq"))
      .agg(count(lit(1)).as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x("__tok")), " ").as("chunk_text"))
      .withColumn("chunk_hash", md5(col("chunk_text")))
  }

  /** Incremental near-exact dedup of re-crawled/edited documents — the
    * payoff of [[contentDefined]]'s shift invariance: each incoming
    * document's CDC chunks check into a chunk-hash REGISTRY (the
    * distinct `chunk_hash`es already in the corpus), and only chunks the
    * registry has never seen count as new content. An edited re-crawl
    * therefore reports (and contributes) exactly its edited
    * neighborhood — one or two chunks — while under fixed windows the
    * same edit would shift every boundary and make the whole document
    * look new. Returns one row per incoming doc: `(id, n_chunks, n_tok,
    * new_chunks, new_tok, new_text)` with `new_text` the fresh chunks in
    * document order (the batch's contribution to corpus AND registry:
    * registries chain like [[graft.operators.TextDedup.spanDedupAgainst]]).
    *
    * ONE pass: the seen-flag comes from a left join against the registry
    * (at real scale the registry is the big side — the one unavoidable
    * hash-keyed shuffle, replacing a full corpus re-chunk), and a single
    * doc-keyed aggregate computes totals, fresh counts, and the ordered
    * fresh rebuild together (conditional aggregation, not a second
    * chunking subtree).
    */
  def cdcDedupAgainst(incoming: DataFrame, registry: DataFrame, id: String,
                      text: String, divisor: Int): DataFrame = {
    val chunks = contentDefined(incoming, id, text, divisor)
    val seen = registry.select(col("chunk_hash")).distinct()
      .withColumn("__seen", lit(true))
    chunks.join(seen, Seq("chunk_hash"), "left")
      .withColumn("__new", col("__seen").isNull)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("new_chunks"),
        sum(when(col("__new"), col("n_tok")).otherwise(0L)).as("new_tok"),
        array_join(transform(
          array_sort(collect_list(when(col("__new"),
            struct(col("chunk_seq"), col("chunk_text"))))),
          x => x("chunk_text")), " ").as("new_text"))
  }
}
