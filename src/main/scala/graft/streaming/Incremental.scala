package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.operators.Merge

/** The incremental-sync contract (SURVEY.md §2.10, T1-T3): chunked
  * backfill, a polling follower gate, snapshot-vs-append collection
  * routing, and a durable high-water-mark checkpoint.
  *
  * Deliberate divergences from the reference (both are bugs there):
  *  - the current height is re-read EVERY epoch; the reference captures it
  *    once at startup (`src/etl.py:53`) so every follower epoch re-syncs a
  *    growing range;
  *  - progress is checkpointed durably (atomic rename), so a restarted
  *    driver resumes from the high-water mark instead of re-backfilling.
  *
  * Idempotence comes from the sinks, not the driver: dynamic collections
  * append through keyed upsert with content-hash keys (re-processing a
  * chunk is a no-op), snapshots are full-refresh merges (T3,
  * `src/etl.py:77-109`). Late/duplicate data is therefore handled exactly
  * like the reference (T6) but deterministically.
  */
object Incremental {

  /** Durable scalar checkpoint via Hadoop FileSystem. Storage-agnostic
    * (posix/HDFS). Hadoop `rename` does NOT overwrite an existing
    * destination, so every write after the first swaps through a
    * rename-aside: mark → `.old`, tmp → mark, delete `.old` — and
    * [[read]] falls back to `.old`, so a crash between the renames
    * degrades to the PREVIOUS durable mark (the epoch replays,
    * idempotent by T6), never to "no mark" and a full from-zero re-sync.
    * The pre-r19 delete-then-rename fallback had exactly that window.
    */
  final class Checkpoint(spark: SparkSession, dir: String) {
    private val fs: FileSystem =
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val file = new Path(dir, "high_water_mark")
    private val aside = new Path(dir, "high_water_mark.old")

    private def readOne(p: Path): Option[Long] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
        finally in.close()
      }

    def read(): Option[Long] = readOne(file).orElse(readOne(aside))

    def write(mark: Long): Unit = write(mark, _ => ())

    /** Crash-point seam: `probe` fires at each named step boundary; a
      * probe that throws simulates a crash AT that point. The spec's
      * property pin: after a crash at ANY point, [[read]] still returns
      * the previous or the new mark — never `None` once a mark has ever
      * been durable (the "no mark, full from-zero re-sync" state).
      */
    private[streaming] def write(mark: Long, probe: String => Unit): Unit = {
      fs.mkdirs(new Path(dir))
      val tmp = new Path(dir, s"high_water_mark.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(mark.toString.getBytes("UTF-8")) finally out.close()
      probe("tmp-written")
      // Only displace the aside when `file` exists to take its place: in
      // the recovered state (file absent after a prior crash between the
      // renames, aside holding the ONLY durable mark) deleting the aside
      // first would reopen the no-mark window this class exists to close
      // (ADVICE r19) — leave it until rename(tmp, file) lands the new mark.
      if (fs.exists(file)) {
        if (fs.exists(aside)) fs.delete(aside, false)
        probe("aside-deleted")
        fs.rename(file, aside)
        probe("file-displaced")
      }
      if (!fs.rename(tmp, file))
        throw new java.io.IOException(s"checkpoint rename failed: $file")
      probe("installed")
      fs.delete(aside, false)
      // sweep tmp orphans from crashed writes (uuid-named, never reused)
      fs.listStatus(new Path(dir))
        .filter(_.getPath.getName.startsWith("high_water_mark.tmp-"))
        .foreach(s => fs.delete(s.getPath, false))
      ()
    }
  }

  /** T1 chunk walk: inclusive-exclusive [lo, hi) ranges of at most `chunk`. */
  def chunkRanges(lo: Long, hi: Long, chunk: Long): Seq[(Long, Long)] = {
    require(chunk > 0, "chunk must be positive")
    (lo until hi by chunk).map(s => (s, math.min(s + chunk, hi)))
  }

  /** One dynamic (append-by-range) collection: how to turn the source rows
    * of one chunk into keyed documents. Keys must be content-derived so
    * re-processing is a no-op (D1/T6).
    *
    * `heightBucket = Some(width)` opts the collection into the
    * STEADY-STATE sink ([[Merge.upsertPartitionedByHeight]]): the
    * extracted frame must RETAIN the driver's height column, and keys
    * must be height-local (content keys are). Per-chunk cost is then
    * O(chunk) with no epoch fold at all — partitions outside the chunk's
    * height range are never rewritten (MergeSpec pins untouched partitions'
    * part files unchanged across epochs).
    */
  case class DynamicCollection(name: String, extract: DataFrame => DataFrame,
                               key: String, tiebreak: String,
                               heightBucket: Option[Long] = None)

  /** One snapshot (full-refresh) collection (T3 "inventories"). */
  case class SnapshotCollection(name: String, build: SparkSession => DataFrame,
                                key: String, tiebreak: String)

  /** What one [[Driver.runEpoch]] did. `collectionMs` is each
    * collection's own wall in ms, dynamics then snapshots in declaration
    * order: a dynamic's covers its whole chunk chain and fold. The slowest
    * dynamic plus the slowest snapshot is the epoch's critical path. Empty
    * when the epoch gated out.
    */
  case class EpochReport(ran: Boolean, from: Long, to: Long, chunks: Int,
                         collectionMs: Map[String, Long] = Map.empty)

  /** The one maintainer loop: every streaming maintainer in this file is
    * a per-micro-batch `fold(spark, batch, batchId)` started through
    * here. `foreachBatch` delivers each micro-batch at least once (a
    * crash before the offset commit replays it under the same
    * `batchId`), so exactly-once SINK STATE is the fold's job: content
    * keys + `Merge.Ignore` upserts, anti-joined registry appends, or
    * snapshot swaps recomputed from the registry — each maintainer
    * states which (T6). A fold that reads a registry it also writes heals
    * a torn swap of it at batch entry: through [[Merge.readRegistry]], or
    * by calling [[Merge.healSwap]] first where it reads the whole
    * registry. `outputMode`/`trigger` default to the `writeStream`
    * defaults.
    */
  private[streaming] def foldBatches(stream: DataFrame, checkpointDir: String,
                                     outputMode: OutputMode = OutputMode.Append(),
                                     trigger: Trigger = Trigger.ProcessingTime(0L))(
      fold: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch.sparkSession, batch, batchId)
      }
      .start()

  /** The STREAMING follower: a Structured Streaming source drives the
    * same keyed first-write-wins sink the batch [[Driver]] walks in
    * height chunks — `foreachBatch` IS the chunk loop, with the trigger
    * deciding chunk boundaries instead of height ranges, and the stream's
    * own checkpoint (offset log) replacing the [[Checkpoint]] high-water
    * mark. Idempotence is unchanged and comes from the sink (T6):
    * content-derived keys + `Merge.Ignore` make a replayed micro-batch a
    * no-op, so the at-least-once delivery foreachBatch guarantees becomes
    * exactly-once SINK STATE — the equivalence
    * StreamBatchEquivalence/IncrementalSpec pin for the batch driver
    * holds for the stream too (asserted in IncrementalSpec).
    *
    * Scale note: per micro-batch this pays an O(sink) parquet rewrite
    * (`Merge.upsertParquet` reads and swap-rewrites the whole sink). The
    * batch driver no longer does: each chunk appends an O(chunk) delta
    * or rewrites only its own height buckets. [[streamingUpsertDelta]]
    * is this stream's delta-log form; production swaps the upsert for a
    * table-format MERGE inside the same foreachBatch (see SCALE.md's
    * sink section), the driver shape is unchanged.
    */
  def streamingUpsert(stream: DataFrame, checkpointDir: String, sinkPath: String,
                      key: String, tiebreak: String): StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      Merge.upsertParquet(spark, sinkPath, batch, key, Merge.Ignore, tiebreak)
    }

  /** The streaming follower on the DELTA LOG: each micro-batch appends an
    * O(batch) delta (never reading the growing sink) and the whole-sink
    * fold runs only every `compactEvery` batches — the same LSM shape the
    * batch [[Driver]] uses per epoch, driven by the trigger instead of
    * height ranges. Between folds the sink's logical state is served by
    * [[Merge.readMerged]] (base + pending deltas under the same
    * precedence — the transaction-log read path); a single append is
    * atomic (tmp+rename), but long reads must not overlap a compaction —
    * see readMerged's consistency contract (plain parquet has no
    * snapshot isolation; that is the documented Delta/Iceberg swap
    * point). Idempotence (T6) is unchanged: a
    * replayed micro-batch appends a duplicate delta and first-write-wins
    * resolves it away, exactly the crashed-epoch story MergeSpec pins.
    * Compared to [[streamingUpsert]] (per-batch O(sink) rewrite — fine
    * for bootstrap-scale sinks), this is the steady-state form for
    * long-running followers whose sink dwarfs a trigger interval's rows.
    */
  def streamingUpsertDelta(stream: DataFrame, checkpointDir: String,
                           sinkPath: String, key: String, tiebreak: String,
                           compactEvery: Int = 8)
      : StreamingQuery = {
    require(compactEvery > 0, s"compactEvery must be positive, got $compactEvery")
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      Merge.appendDelta(spark, sinkPath, batch)
      if (Merge.pendingDeltas(spark, sinkPath).size >= compactEvery)
        Merge.finalizeDeltas(spark, sinkPath, key, Merge.Ignore, tiebreak)
    }
  }

  /** The streaming follower on the HEIGHT-BUCKETED sink — the third sink
    * regime, completing the set: [[streamingUpsert]] rewrites O(sink) per
    * batch (bootstrap scale), [[streamingUpsertDelta]] appends O(batch)
    * with a periodic O(sink) fold (LSM), and THIS form merges only the
    * micro-batch's own height buckets ([[Merge.upsertPartitionedByHeight]])
    * — per-batch cost O(batch + touched buckets), NEVER the sink size, no
    * fold ever. Exactly the q91 batch driver's steady-state path with
    * `foreachBatch` as the chunk loop and the stream's offset log as the
    * checkpoint; requires the same height-locality contract on keys
    * (content keys qualify) and a `heightCol` on every row. Idempotence
    * (T6) is unchanged: a replayed micro-batch finds its own rows in the
    * merged buckets and first-write-wins keeps them —
    * StreamBatchEquivalenceSpec pins stream ≡ batch end state.
    */
  def streamingUpsertPartitioned(stream: DataFrame, checkpointDir: String,
                                 sinkPath: String, key: String,
                                 tiebreak: String, heightCol: String,
                                 bucketWidth: Long): StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      Merge.upsertPartitionedByHeight(spark, sinkPath, batch,
        key, Merge.Ignore, tiebreak, heightCol, bucketWidth)
    }

  /** The flat "dedup against a registry" fold shared by
    * [[streamingSpanDedup]], [[streamingSubstringExcise]],
    * [[streamingImageDedup]] and [[streamingCdcDedup]]. Per micro-batch:
    * read the persistent one-column `key` registry, let
    * `dedup(spark, batch, registry)` return the deduped documents and
    * the batch's key rows, land the documents in `outPath` via a KEYED
    * first-write-wins upsert on `docKey`, then append the batch's
    * distinct keys anti-joined on the registry to `registryPath`.
    *
    * Replay safety (T6) hangs on the WRITE ORDER: documents first,
    * registry second. A batch replayed after a crash between the two
    * writes recomputes the same dedup (registry unchanged), the keyed
    * upsert ignores the already-present doc rows, and the registry
    * append retries. The reverse order would be wrong: with its keys
    * already registered, a replayed batch would dedup to empty documents
    * and first-write-wins would keep THOSE. The registry delta is the
    * batch's distinct keys anti-joined on the registry — by construction
    * exactly the surviving key set, and empty on replay, so the registry
    * never accumulates duplicates.
    */
  private def dedupAgainstRegistry(stream: DataFrame, checkpointDir: String,
                                   outPath: String, registryPath: String,
                                   key: StructField, docKey: String,
                                   tiebreak: String)(
      dedup: (SparkSession, DataFrame, DataFrame) => (DataFrame, DataFrame))
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val reg = Merge.readRegistry(spark, registryPath, key)
      val (docs, keys) = dedup(spark, batch, reg)
      Merge.upsertParquet(spark, outPath, docs, docKey, Merge.Ignore, tiebreak)
      keys.distinct()
        .join(reg, Seq(key.name), "left_anti")
        .write.mode("append").parquet(registryPath)
    }

  /** Streaming incremental exact span dedup — the q102 chaining contract
    * (`registry' = registry ∪ new distinct blocks`) driven by
    * `foreachBatch`: each micro-batch is deduped against the persistent
    * block registry ([[graft.operators.TextDedup.spanDedupAgainst]]),
    * the rebuilt documents land in `outPath`, and only the batch's
    * genuinely-new distinct blocks append to `registryPath`
    * ([[dedupAgainstRegistry]]).
    */
  def streamingSpanDedup(stream: DataFrame, checkpointDir: String,
                         outPath: String, registryPath: String,
                         id: String, text: String, k: Int): StreamingQuery =
    dedupAgainstRegistry(stream, checkpointDir, outPath, registryPath,
        StructField("blk", StringType), "doc_id", "n_blocks") { (_, batch, reg) =>
      (graft.operators.TextDedup.spanDedupAgainst(batch, reg, id, text, k),
        batch.select(explode(graft.functions.Text.blocks(
          graft.functions.Text.tokens(col(text)), k)).as("blk")))
    }

  /** Streaming substring excision — [[streamingSpanDedup]]'s twin at the
    * q113/q114 granularity: each micro-batch is excised against the
    * persistent GRAM registry
    * ([[graft.operators.TextDedup.substringExciseAgainst]]), excised
    * docs land via keyed first-write-wins upsert, and the batch's novel
    * distinct grams append to the registry ([[dedupAgainstRegistry]]).
    */
  def streamingSubstringExcise(stream: DataFrame, checkpointDir: String,
                               outPath: String, registryPath: String,
                               id: String, text: String, minLen: Int)
      : StreamingQuery =
    dedupAgainstRegistry(stream, checkpointDir, outPath, registryPath,
        StructField("gram", StringType), "doc_id", "n_tokens") { (_, batch, reg) =>
      (graft.operators.TextDedup.substringExciseAgainst(batch, reg, id, text,
          minLen),
        batch.select(explode(graft.functions.Text.shingles(
          graft.functions.Text.tokens(col(text)), minLen)).as("gram")))
    }

  /** [[streamingSubstringExcise]] with a BUCKETED gram registry — the
    * scale form for the registry that actually gets huge at 100 TB. The
    * image twin's literal-pushdown trick ([[bucketedDhashLookup]]) dies
    * here: a batch's distinct L-grams track its TOKEN count (far past
    * any IN-list), so bucket PRUNING cannot apply — the right tool is
    * the storage-partitioned JOIN. The registry lives as a catalog
    * table bucketed by `gram`; the excision's registry join and the
    * novel-gram anti-join then satisfy their ClusteredDistribution
    * straight off the bucketed scan, so per batch the registry
    * contributes ZERO shuffle rows — only the batch side exchanges
    * (plan-asserted in StreamBatchEquivalenceSpec, gramreg probe in
    * SCALE.md). The flat twin shuffles the ENTIRE registry every
    * micro-batch; at a billions-of-grams registry that exchange IS the
    * batch cost.
    *
    * `withForcedBucketedScan` spans the actions because Spark's
    * `DisableUnnecessaryBucketedScan` rule does not credit one-side
    * bucketed joins whose other side it plans to shuffle anyway —
    * measured, same as the image twin; foreachBatch serializes batches,
    * so the session-level flip cannot race this stream's own queries.
    * Same write order as [[dedupAgainstRegistry]]; results ≡ the flat
    * twin ≡ the batch q114 rule over ordered arrival
    * (StreamBatchEquivalenceSpec).
    */
  def streamingSubstringExciseBucketed(stream: DataFrame, checkpointDir: String,
                                       outPath: String, registryTable: String,
                                       id: String, text: String, minLen: Int,
                                       buckets: Int = 64)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      graft.sources.Bucketing.withForcedBucketedScan(spark) {
        val reg =
          if (spark.catalog.tableExists(registryTable))
            spark.table(registryTable).select(col("gram"))
          else Merge.emptyFrame(spark, StructField("gram", StringType))
        val excised = graft.operators.TextDedup.substringExciseAgainst(
          batch, reg, id, text, minLen)
        Merge.upsertParquet(spark, outPath, excised,
          "doc_id", Merge.Ignore, "n_tokens")
        val novel = batch.select(explode(graft.functions.Text.shingles(
            graft.functions.Text.tokens(col(text)), minLen)).as("gram"))
          .distinct()
          .join(reg, Seq("gram"), "left_anti")
        if (spark.catalog.tableExists(registryTable))
          graft.sources.Bucketing.appendBucketed(novel, registryTable,
            buckets, "gram")
        else
          graft.sources.Bucketing.writeBucketed(novel, registryTable,
            buckets, "gram")
      }
    }

  /** Streaming perceptual image dedup — [[streamingSpanDedup]]'s twin in
    * the multimodal domain: each micro-batch of (id, ppm-binary) rows is
    * dHashed (REAL decode,
    * [[graft.operators.Multimodal.dHashPpm]]), deduped against the
    * persistent FINGERPRINT registry
    * ([[graft.operators.Multimodal.dHashDedupAgainst]] — batch-keyed
    * anti-join, corpus never re-scanned), surviving representatives land
    * via keyed first-write-wins upsert, and the batch's novel distinct
    * fingerprints append to the registry ([[dedupAgainstRegistry]]). The
    * codec is a SEAM, not a fork: dHashPpm / dHashPng / dHashJpeg all
    * emit the same 56-bit fingerprint schema, so a compressed-image
    * stream runs this twin unchanged (pinned in
    * StreamBatchEquivalenceSpec — PNG batches reproduce the PPM path's
    * kept set on the same pixel definitions).
    */
  def streamingImageDedup(stream: DataFrame, checkpointDir: String,
                          outPath: String, registryPath: String,
                          id: String, bin: String,
                          hasher: (SparkSession, DataFrame, String, String) => DataFrame =
                            graft.operators.Multimodal.dHashPpm)
      : StreamingQuery =
    dedupAgainstRegistry(stream, checkpointDir, outPath, registryPath,
        StructField("dhash", LongType), "id", "dhash") { (spark, batch, reg) =>
      val hashes = hasher(spark, batch, id, bin)
      (graft.operators.Multimodal.dHashDedupAgainst(hashes, reg),
        hashes.select(col("dhash")))
    }

  /** [[streamingImageDedup]] with a BUCKETED registry — the scale form
    * of the per-batch registry read. The flat twin re-scans the WHOLE
    * fingerprint registry every micro-batch (at 100 TB the registry is
    * billions of rows and the scan dwarfs the batch); here the registry
    * is a catalog table bucketed by `dhash`, and each batch's lookup
    * pushes its OWN fingerprint values into the scan as literals
    * ([[bucketedDhashLookup]]), so Spark's bucket pruning reads only
    * the ≤ |batch-distinct| buckets the batch can possibly touch —
    * per-batch scan cost tracks the BATCH, not the corpus. Measured
    * (SCALE.md bucketreg probe): a 32-value batch against a 12.8M-row
    * registry reads 136k records where the flat scan reads all 12.8M
    * (94×), and the fraction tracks |batch|/buckets at every factor —
    * which is also the SIZING RULE: pruning only prunes when buckets ≫
    * per-batch distinct values (the probe's first cut, 500 values on
    * 64 buckets, touched every bucket and pruned nothing). Default 64
    * suits small batches; size buckets to ≥ 10× the expected per-batch
    * distinct fingerprint count at deployment.
    *
    * The driver-side collect of the batch's distinct fingerprints is
    * bounded by the micro-batch size (the bounded-collect rule) — that
    * bound is what BUYS the pruning: values must be literals to reach
    * the scan. Lookup equivalence is exact, not approximate: both the
    * dedup anti-join and the novelty anti-join compare on `dhash`
    * membership, and pruning keeps precisely the registry rows whose
    * `dhash` is in the batch — rows outside the batch's value set
    * cannot influence either join (StreamBatchEquivalenceSpec pins
    * stream ≡ batch ≡ the flat twin, bucketed scan asserted).
    * Same write order as [[dedupAgainstRegistry]].
    */
  def streamingImageDedupBucketed(stream: DataFrame, checkpointDir: String,
                                  outPath: String, registryTable: String,
                                  id: String, bin: String, buckets: Int = 64)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val hashes = graft.operators.Multimodal.dHashPpm(spark, batch, id, bin)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the forced-bucketed-scan scope must span the ACTIONS (planning
      // reads the conf then); foreachBatch serializes batches, so the
      // session-level flip cannot race this stream's own queries
      try graft.sources.Bucketing.withForcedBucketedScan(spark) {
        val batchValues = hashes.select(col("dhash")).distinct()
          .collect().map(_.getLong(0)) // bounded by the micro-batch
        val reg = bucketedDhashLookup(spark, registryTable, batchValues)
        val kept = graft.operators.Multimodal.dHashDedupAgainst(hashes, reg)
        Merge.upsertParquet(spark, outPath, kept, "id", Merge.Ignore, "dhash")
        val novel = hashes.select(col("dhash")).distinct()
          .join(reg.select(col("dhash")), Seq("dhash"), "left_anti")
        if (spark.catalog.tableExists(registryTable))
          graft.sources.Bucketing.appendBucketed(novel, registryTable,
            buckets, "dhash")
        else
          graft.sources.Bucketing.writeBucketed(novel, registryTable,
            buckets, "dhash")
      } finally { hashes.unpersist(); () }
    }

  /** The batch-valued registry lookup behind
    * [[streamingImageDedupBucketed]]: registry rows whose `dhash` is in
    * `values`, as a bucket-PRUNED scan (the values arrive as literals,
    * so the bucketed file source skips every bucket no value hashes
    * into). Empty-safe before the table exists. Public at test scope so
    * the spec can assert `usedBucketedScan` on the exact frame the
    * twin runs.
    */
  private[graft] def bucketedDhashLookup(spark: SparkSession,
                                         registryTable: String,
                                         values: Array[Long]): DataFrame =
    if (spark.catalog.tableExists(registryTable))
      spark.table(registryTable)
        .filter(col("dhash").isin(values.map(Long.box).toIndexedSeq: _*))
        .select(col("dhash"))
    else Merge.emptyFrame(spark, StructField("dhash", LongType))

  /** Streaming video novelty — q142's deployment shape: each micro-batch
    * of (id, P6-stream) videos is walked → per-frame dHashed → scene-
    * contracted to keyframes ([[graft.operators.Multimodal.keyframes]]),
    * each keyframe is tested for visual novelty against the persistent
    * FINGERPRINT registry (the same `dhash` registry schema the image
    * twin uses — fingerprints are fingerprints) AND against earlier
    * keyframes of the same batch (first-wins by (id, scene), q142's
    * global window restricted to the batch), the per-video novelty row
    * lands via keyed first-write-wins upsert, and the batch's novel
    * fingerprints append to the registry. Replay-safe by the standard
    * write order: a replayed batch recomputes novelty 0 (its
    * fingerprints are registered) but the Ignore upsert keeps the first
    * row.
    *
    * Stream ≡ batch: over ordered arrival the chained first-wins equals
    * q142's one global (id, scene)-ordered window
    * (StreamBatchEquivalenceSpec).
    *
    * Registry maintenance is wired to the stream's OWN cadence: every
    * `compactEvery` batches the append-only registry is folded to one
    * file ([[compactRegistry]] — serial with the appends by foreachBatch
    * construction, idempotent on replay). IncrementalSpec pins that
    * appends continue across a compaction with no key lost or duplicated.
    */
  def streamingVideoNovelty(stream: DataFrame, checkpointDir: String,
                            outPath: String, registryPath: String,
                            id: String, bin: String, minHamming: Int,
                            compactEvery: Int = 32)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, batchId) =>
      val kf = graft.operators.Multimodal.keyframes(spark, batch, id, bin,
          minHamming)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val reg = Merge.readRegistry(spark, registryPath,
          StructField("dhash", LongType))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("keyframe_dhash"))
          .orderBy(col("id").asc, col("scene").asc)
        val flagged = kf
          .withColumn("__rn", row_number().over(w))
          .join(reg.select(col("dhash").as("keyframe_dhash"),
            lit(true).as("__seen")), Seq("keyframe_dhash"), "left_outer")
        val novelty = flagged.groupBy(col("id"))
          .agg(count(lit(1)).as("n_scenes"),
            sum(when(col("__rn") === 1 && col("__seen").isNull, 1L)
              .otherwise(0L)).as("novel_scenes"),
            expr("(1000000 * sum(CASE WHEN __rn = 1 AND __seen IS NULL" +
              " THEN 1 ELSE 0 END)) div count(1)").as("novelty_pm"))
        Merge.upsertParquet(spark, outPath, novelty, "id", Merge.Ignore,
          "n_scenes")
        kf.select(col("keyframe_dhash").as("dhash")).distinct()
          .join(reg, Seq("dhash"), "left_anti")
          .write.mode("append").parquet(registryPath)
        // registry maintenance on the owning stream's own cadence
        // (batches are serial, so compaction can never race an
        // append; batchId is deterministic on replay and compaction
        // is a distinct+rewrite — idempotent). Without this a
        // long-running stream accumulates one KB-sized file per
        // batch and registry scan cost starts tracking FILE COUNT.
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          compactRegistry(spark, registryPath)
      } finally { kf.unpersist(); () }
    }

  /** Streaming SFT rendering — q127's deployment shape. A conversation
    * MUTATES as turns arrive (every new turn changes its `rendered`
    * string and can shift nothing before it but extends the masks), so
    * the twin keeps a TURN REGISTRY (append-only, first-wins per
    * (conversation, turn id) — replays land nothing) and re-renders
    * ONLY the conversations the batch touched, upserting their rows
    * UPDATE-mode (newest render wins — the one twin family where the
    * sink row legitimately changes; `n_turns` is the monotone tiebreak,
    * so even a reordered refresh converges to the fullest render).
    * Per-batch cost ∝ touched conversations' history, never the corpus.
    *
    * `keyCols`/`turnCols` contract: `turns` carries
    * (convKey, turnId, ts, role, content); re-rendering is a pure
    * function of the registry, so stream ≡ batch over any chunking
    * (StreamBatchEquivalenceSpec, including a replayed chunk).
    *
    * Scan cost note: the registry READ here is a full-file scan per
    * batch (the join prunes rows, not files). At production registry
    * sizes, write the registry bucketed/partitioned by a conv-hash so
    * the touched-conversation lookup prunes partitions — the
    * bucketed-registry pattern SCALE.md records for the block registry;
    * the operator shape is unchanged.
    */
  def streamingSftRender(stream: DataFrame, checkpointDir: String,
                         outPath: String, registryPath: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      // 0. one-time upgrade: a registry written by the pre-tuple-key
      //    code carries the concat `__tk` column; Merge.upsert requires
      //    identical column sets, so the first micro-batch against it
      //    would throw and kill the stream (ADVICE r19). Project the
      //    legacy registry to the batch schema once; subsequent batches
      //    see a clean registry and skip this branch on a footer read.
      if (Merge.hasParquet(spark, registryPath)) {
        val existing = spark.read.parquet(registryPath)
        if (existing.columns.contains("__tk")) {
          graft.Log.warn(s"streamingSftRender: migrating legacy __tk " +
            s"registry at $registryPath to the tuple-key schema")
          Merge.replaceParquet(spark, registryPath, existing.drop("__tk"))
        }
      }
      // 1. land the batch's turns (first-wins on the TUPLE key —
      //    a replayed or duplicated turn cannot double-render). Never
      //    a concat key: conv="c:1"/turn="2" and conv="c"/turn="1:2"
      //    would alias and silently drop a turn — the trap this file's
      //    own partial-key comments ban elsewhere.
      Merge.upsertParquet(spark, registryPath, batch,
        Seq("conv", "turn_id"), Merge.Ignore, "ts")
      // 2. re-render the touched conversations from the registry
      val touched = batch.select(col("conv")).distinct()
      val history = spark.read.parquet(registryPath)
        .join(touched, Seq("conv"))
      val rendered = graft.operators.Sft.renderChat(history,
        Seq(col("conv")), col("ts"), col("turn_id"),
        col("role"), col("content"))
      Merge.upsertParquet(spark, outPath, rendered,
        "conv", Merge.Update, "n_turns")
    }

  /** Streaming dataset card — q132 maintained LIVE over an arriving
    * corpus, and the repo's third state idiom. The first two:
    * keyed first-write-wins upsert (idempotent per-ROW results —
    * [[streamingSpanDedup]] and family) and tmp+swap snapshot (MUTATING
    * state — [[streamingComponents]]). Additive counters fit neither: a
    * replayed batch must not double-count, but its rows carry no
    * identity of their own. The exactly-once-ADDITIVE pattern: write
    * per-(source, batchId) PARTIALS under first-wins on that composite
    * key — `batchId` is deterministic on replay, so the recomputed
    * partial (whose dup flags WOULD differ, the registry having already
    * absorbed the batch) is dropped and the first landing stays
    * authoritative — and serve the card by SUMMING partials
    * ([[datasetCardFromPartials]]), every ratio derived from summed
    * counters exactly as the batch card derives them from one
    * aggregate's.
    *
    * Dup accounting matches the batch card's global first-wins when
    * batches arrive in `doc_id` order (the chaining convention all
    * registry twins share): a doc is a duplicate iff its normalized
    * fingerprint was seen in an earlier batch (registry hit) or earlier
    * in its own batch (batch-internal window).
    *
    * Maintenance notes: the partials store grows one row per (source,
    * batch) — [[compactRegistry]]-style folding of partials older than
    * the stream's replayable horizon (sum them into a base row) bounds
    * it; compacting batches the checkpoint can still replay would
    * un-dedupe them, so fold strictly behind the committed offset. The
    * fingerprint registry read is a full scan per batch (bucket it by
    * fp-hash at production sizes, as above).
    */
  def streamingDatasetCard(stream: DataFrame, checkpointDir: String,
                           partialsPath: String, registryPath: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, batchId) =>
      import org.apache.spark.sql.expressions.Window
      val reg = Merge.readRegistry(spark, registryPath,
        StructField("fp", StringType))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
      val flagged = graft.queries.Curation.cardSignals(batch)
        .join(reg.withColumn("__seen", lit(true)), Seq("fp"), "left")
        .withColumn("__rn", row_number().over(w))
        .withColumn("__dup", col("__seen").isNotNull || col("__rn") > 1)
      val partial = flagged.groupBy(col("source"))
        .agg(graft.queries.Curation.cardCounters.head, graft.queries.Curation.cardCounters.tail: _*)
        .withColumn("batch_id", lit(batchId))
      // tuple key, never concat: a source name containing the delimiter
      // would alias two distinct partials and silently drop one
      Merge.upsertParquet(spark, partialsPath, partial,
        Seq("source", "batch_id"), Merge.Ignore, "n_docs")
      flagged.filter(col("__rn") === 1 && col("__seen").isNull)
        .select(col("fp"))
        .write.mode("append").parquet(registryPath)
    }

  /** Serve the live card: sum the partials per source, derive the same
    * ratios the batch card derives — identical output schema to q132.
    */
  def datasetCardFromPartials(spark: SparkSession,
                              partialsPath: String): DataFrame =
    spark.read.parquet(partialsPath)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_dup_docs")).as("n_dup_docs"),
        sum(col("n_lang_match")).as("n_lang_match"),
        sum(col("stop_pm_sum")).as("stop_pm_sum"))
      .select(col("source") +: graft.queries.Curation.cardRatios: _*)

  /** Streaming term-association registries — the q175/q177 count tables
    * maintained LIVE over an arriving corpus, the exactly-once-ADDITIVE
    * partials idiom ([[streamingDatasetCard]]'s third state pattern):
    * each micro-batch lands its own windowed pair counts and unigram
    * counts as per-(key, batchId) PARTIAL rows under first-wins upsert —
    * batchId is deterministic on checkpoint replay, so a recomputed
    * partial is dropped and nothing double-counts. Windows never cross
    * documents, so ANY doc-batching yields partials that sum to the
    * global tables exactly (the q177 additivity, no arrival contract).
    * Per-batch cost: the batch's own row-local pair generation plus two
    * keyed upserts, and each upsert is O(store): `Merge.upsertParquet`
    * reads and swap-rewrites the whole partials store, every earlier
    * batch's rows included. At production sizes the partials stores are
    * pair-/term-bucketed catalog tables and [[compactRegistry]]-style
    * folding behind the committed offset bounds their row count.
    */
  def streamingTermAssociations(stream: DataFrame, checkpointDir: String,
                                pairPartialsPath: String,
                                termPartialsPath: String, window: Int)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, batchId) =>
      import graft.operators.Cooccurrence
      // tuple keys, never concat: tokens come from whitespace-only
      // splitting, so they can legitimately contain any delimiter —
      // concat'd keys would alias distinct pairs like ("x","y|z") and
      // ("x|y","z") and first-wins would silently undercount (r15
      // advice). The multi-column upsert partitions by the columns
      // themselves.
      val pairs = Cooccurrence.termPairCounts(batch, "text", window)
        .withColumn("batch_id", lit(batchId))
      Merge.upsertParquet(spark, pairPartialsPath, pairs,
        Seq("a", "b", "batch_id"), Merge.Ignore, "c_ab")
      val terms = Cooccurrence.termOccurrences(batch, "text")
        .withColumn("batch_id", lit(batchId))
      Merge.upsertParquet(spark, termPartialsPath, terms,
        Seq("w", "batch_id"), Merge.Ignore, "c_w")
    }

  /** Serve the q175 association view from [[streamingTermAssociations]]
    * partials: sum partials per key (exact, counts are associative),
    * then the same PMI-lift scoring as the batch path.
    */
  def associationsFromPartials(spark: SparkSession, pairPartialsPath: String,
                               termPartialsPath: String,
                               minPairCount: Long): DataFrame =
    graft.operators.Cooccurrence.associationScores(
      spark.read.parquet(pairPartialsPath)
        .groupBy(col("a"), col("b")).agg(sum(col("c_ab")).as("c_ab")),
      spark.read.parquet(termPartialsPath)
        .groupBy(col("w")).agg(sum(col("c_w")).as("c_w")),
      minPairCount)

  /** Streaming drift-monitor partials ([[graft.operators.Drift]] family
    * — the q158 registry form run continuously): each micro-batch folds
    * its binned-feature counts into an upserted partials table keyed
    * (groupCols…, bin, batch_id), idempotent under checkpoint replay
    * (Ignore mode — a replayed batch's partial already holds the same
    * counts). Counts are associative, so summing partials reproduces
    * the global histogram exactly; [[driftFromPartials]] serves the
    * live TVD against a frozen reference registry from those sums.
    * Per-batch cost is the batch's own rows plus an O(store) upsert:
    * `Merge.upsertParquet` reads and swap-rewrites the whole partials
    * store, every earlier batch's rows included. The reference corpus is
    * never re-read.
    */
  def streamingDriftPartials(stream: DataFrame, checkpointDir: String,
                             partialsPath: String, groupCols: Seq[String],
                             binCol: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, batchId) =>
      // tuple key, never concat_ws: group values from data can contain
      // the delimiter (the same silent-undercount class as the
      // association partials)
      val partial = graft.operators.Drift
        .binnedCounts(batch, groupCols, binCol)
        .withColumn("batch_id", lit(batchId))
      Merge.upsertParquet(spark, partialsPath, partial,
        groupCols :+ binCol :+ "batch_id", Merge.Ignore, "c")
    }

  /** Serve the live drift: sum partials into the global per-(group, bin)
    * histogram and TVD it against the frozen reference registry —
    * identical output schema and values to the batch
    * [[graft.operators.Drift.tvdAgainstRegistry]] over the union of all
    * streamed rows (stream ≡ batch pinned in
    * StreamBatchEquivalenceSpec).
    */
  def driftFromPartials(spark: SparkSession, partialsPath: String,
                        registry: DataFrame, groupCols: Seq[String],
                        binCol: String): DataFrame = {
    val counts = spark.read.parquet(partialsPath)
      .groupBy((groupCols :+ binCol).map(col): _*)
      .agg(sum(col("c")).as("c"))
    graft.operators.Drift.tvdBetweenCounts(registry, counts, groupCols,
      binCol)
  }

  /** Compact an append-only streaming registry in place. Every
    * [[streamingSpanDedup]]-family micro-batch appends one small parquet
    * file of novel keys; a long-running stream accumulates tens of
    * thousands of KB-sized files and registry SCAN cost starts tracking
    * file count, not data (the small-file problem the tiered sink solves
    * for documents — registries need the same maintenance). One
    * distinct + coalesce snapshot through the [[Merge.replaceParquet]]
    * commitSwap discipline (the new state materializes fully before the
    * old files move — safe even though the lineage reads the current
    * dir). Call it from the owning stream's own foreachBatch cadence
    * (every N batches): batches are serial, so the compaction can never
    * race an append from the same query. A torn earlier compaction is
    * healed first; no-op if the registry doesn't exist yet.
    */
  def compactRegistry(spark: SparkSession, registryPath: String): Unit = {
    Merge.healSwap(spark, registryPath)
    if (Merge.hasParquet(spark, registryPath))
      Merge.replaceParquet(spark, registryPath,
        spark.read.parquet(registryPath).distinct().coalesce(1))
  }

  /** Streaming LM quality scoring — the CCNet deployment shape of q107:
    * the stupid-backoff count tables are trained ONCE
    * ([[graft.operators.TermStats.lmCounts]], captured by the closure
    * and persisted, so every micro-batch reuses the same materialized
    * artifact), and each arriving batch of documents is scored against
    * them ([[graft.operators.TermStats.lmScoreAgainst]]) and landed in
    * `outPath` via a KEYED first-write-wins upsert.
    *
    * Replay safety (T6) is free here: scoring is a pure function of
    * (batch, frozen counts), so a replayed batch recomputes identical
    * rows and the Ignore-mode upsert drops them — no write-order
    * subtlety, unlike [[streamingSpanDedup]] whose registry mutates.
    */
  def streamingLmScore(stream: DataFrame, train: DataFrame,
                       checkpointDir: String, outPath: String,
                       id: String, text: String)
      : StreamingQuery = {
    val counts = graft.operators.TermStats.lmCounts(train, id, text)
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val scored = graft.operators.TermStats.lmScoreAgainst(
        batch, counts, id, text)
      Merge.upsertParquet(spark, outPath, scored,
        "doc_id", Merge.Ignore, "n_trigrams")
    }
  }

  /** Streaming DSIR scoring — the data-selection deployment shape of
    * q110: the hashed-ngram bucket models are trained ONCE
    * ([[graft.operators.Dsir.bucketStats]], persisted so every
    * micro-batch reuses the materialized ≤buckets-row artifact) and each
    * arriving batch of documents is scored against them
    * ([[graft.operators.Dsir.scoreAgainst]] — broadcast join, exact
    * integer ratio) and landed via a keyed first-write-wins upsert.
    * Replay safety is free: scoring is pure in (batch, frozen stats) —
    * the [[streamingLmScore]] reasoning. A threshold gate (or a
    * downstream periodic top-N over the sink) turns scores into the
    * selected corpus.
    *
    * Lifecycle: the persisted stats frame is released automatically when
    * THIS query terminates (a self-removing `StreamingQueryListener` —
    * callers own nothing). A [[graft.Caches.clearAll]] in the same
    * session while the query is live drops the cached blocks AND the
    * cache registration, silently degrading every later micro-batch to a
    * model refit (correct results, train-once contract lost) — run
    * long-lived scoring queries in their own session, or re-start them
    * after a cache sweep.
    */
  def streamingDsirScore(stream: DataFrame, raw: DataFrame,
                         target: DataFrame, checkpointDir: String,
                         outPath: String, id: String, text: String,
                         buckets: Int)
      : StreamingQuery = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val stats = graft.operators.Dsir.bucketStats(raw, target, id, text, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Listener registered BEFORE start(): a query that dies immediately
    // can post its QueryTerminatedEvent before a post-start addListener
    // runs, leaking the persisted stats and the dead listener forever.
    // The id is only known after start, so match through a volatile and
    // close the remaining pre-assignment window with the isActive check
    // below (double-unpersist/removeListener are harmless no-ops).
    val streams = stream.sparkSession.streams
    @volatile var qid: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (qid != null && e.id == qid) {
          stats.unpersist(blocking = false)
          streams.removeListener(this)
        }
    }
    streams.addListener(listener)
    val query =
      try foldBatches(stream, checkpointDir) { (spark, batch, _) =>
        val scored = graft.operators.Dsir.scoreAgainst(
          batch, stats, id, text, buckets)
        Merge.upsertParquet(spark, outPath, scored, id, Merge.Ignore, "n_feats")
      }
      catch { case t: Throwable =>
        streams.removeListener(listener)
        stats.unpersist(blocking = false)
        throw t
      }
    qid = query.id
    if (!query.isActive) { // terminated before qid was visible to the listener
      stats.unpersist(blocking = false)
      streams.removeListener(listener)
    }
    query
  }

  /** Streaming cohort retention — the dashboard deployment of q116: each
    * micro-batch folds into a persistent (user, week) ACTIVITY registry
    * (keyed first-write-wins upsert on the pair — replay-safe and
    * idempotent under any chunking), and the retention matrix is served
    * on demand by [[cohortRetentionFromRegistry]] over the registry
    * alone. Unlike the pure-function twins, cohort state is genuinely
    * CROSS-BATCH (a user's first-seen week moves if an earlier week
    * arrives later) — keeping the registry at (user, week) granularity
    * (calendar-bounded per user) rather than materializing cohorts makes
    * the fold order-independent, so stream ≡ batch holds under ANY
    * arrival order, not just time-ordered chunks.
    */
  def streamingCohortActivity(stream: DataFrame, checkpointDir: String,
                              registryPath: String, user: String,
                              tsUs: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val pairs = batch.select(col(user).as("user_key"),
          expr(graft.operators.Cohorts.weekFloorSql(tsUs)).as("wk"))
        .distinct()
        .withColumn("_key", concat(col("user_key"), lit(":"), col("wk")))
      Merge.upsertParquet(spark, registryPath, pairs, "_key", Merge.Ignore, "wk")
    }

  /** Streaming incremental connected components — the deployment shape
    * of q120: each micro-batch of edges folds into a persistent
    * (node → label) registry via
    * [[graft.operators.Components.updateRegistry]] (contract to
    * component representatives, CC the batch-bounded contracted graph,
    * broadcast-relabel), and the q118 component view is served on demand
    * by [[componentsFromRegistry]]. Unlike the append-only gram/block
    * registries, CC labels MUTATE on merge, so the commit is a snapshot
    * [[Merge.replaceParquet]] tmp+swap, not an upsert. Replay safety: an
    * already-folded batch contracts to self-loops and relabels nothing
    * (the [[graft.operators.Components]] idempotence contract), so a
    * crash-replayed micro-batch converges to the same registry (T6).
    * Each micro-batch runs through
    * [[graft.operators.Components.foldIntoParquet]], which releases the
    * fold's own checkpoint blocks after the commit — a stream folding
    * thousands of batches holds steady storage memory.
    */
  def streamingComponents(stream: DataFrame, checkpointDir: String,
                          registryPath: String, a: String, b: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      graft.operators.Components.foldIntoParquet(spark, registryPath, batch, a, b)
    }

  /** The q118/q120 component view served from a [[streamingComponents]]
    * registry. */
  def componentsFromRegistry(spark: SparkSession,
                             registryPath: String): DataFrame =
    graft.operators.Components.components(spark.read.parquet(registryPath))

  /** Streaming N-step funnel — the live deployment of
    * [[graft.operators.Funnel.funnelN]] (q119/q122). Spark cannot chain
    * multiple `flatMapGroupsWithState` stages in one query, so the
    * multi-hop state lives in the registry pattern instead: per funnel
    * LEVEL i < N, a (user → latest step-i event + its carried chain)
    * registry, newest-wins per user. Each micro-batch enriches hop by
    * hop — the hop's right side is `registry ∪ this batch's enriched
    * step-i rows`, so intra-batch ordering is exact (the as-of handles
    * it) and cross-batch matches need only the latest prior row per
    * user, which is precisely what the registry keeps. Final-step rows
    * land in `outPath` via keyed first-write-wins upsert.
    *
    * Arrival contract: event-time-ordered chunks, rights before lefts
    * at equal timestamps across batch boundaries (the documented
    * [[Streams.asofEnrichState]] contract) — within it, the sink is
    * EXACTLY the batch fold's output (stream ≡ batch pinned). Replay
    * safety: re-running a batch re-reads registries that may already
    * hold its rows; the union then carries duplicates that resolve to
    * the same as-of winners (greatest-tiebreak rule), the newest-wins
    * registry refold is idempotent, and the keyed upsert ignores rows
    * already landed.
    *
    * @param stepValues step i matches `typeCol === stepValues(i)`
    * @param windows    windows(i) = max age of a step-i+1 match for
    *                   step i+2 (the funnelN contract)
    */
  def streamingFunnel(stream: DataFrame, checkpointDir: String,
                      statePath: String, outPath: String, user: String,
                      time: String, id: String, typeCol: String,
                      stepValues: Seq[String], windows: Seq[Long])
      : StreamingQuery = {
    require(stepValues.size >= 2, "a funnel needs >= 2 steps")
    require(windows.size == stepValues.size - 1,
      s"need one window per hop: ${stepValues.size - 1} hops, ${windows.size} windows")
    val n = stepValues.size
    def stepCol(i: Int) = s"step${i + 1}_id"
    val hopPrefix = "__hop_"
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      // owned block lifecycle (the Components.foldIntoParquet rule):
      // the per-level unions checkpoint eagerly; release exactly what
      // this batch added once everything has materialized
      graft.Caches.releasingAdded(spark) {
        var rightRows: DataFrame = null
        for (i <- 0 until n) {
          val stepEvents = batch.filter(col(typeCol) === stepValues(i))
            .select(col(user), col(time).cast("long").as(time),
              col(id).cast("long").as(stepCol(i)))
          val enriched =
            if (i == 0) stepEvents
            else {
              val carryCols = (0 until i).map(stepCol)
              carryCols.foldLeft(
                graft.operators.AsOf.backward(stepEvents, rightRows,
                    Seq(user), time, tiebreak = stepCol(i - 1),
                    carry = carryCols, prefix = hopPrefix,
                    maxAge = Some(windows(i - 1)))
                  .drop(s"${hopPrefix}age"))(
                (df, c) => df.withColumnRenamed(hopPrefix + c, c))
            }
          if (i < n - 1) {
            // Next hop's right side = prior registry (latest per user,
            // enough for cross-batch matches under ordered arrival)
            // ∪ ALL of this batch's step-i rows (an intra-batch left
            // may need an OLDER same-batch right — the collapsed
            // registry alone would lose it). Checkpointed EAGERLY so
            // its lineage detaches from the parquet files the swap
            // below replaces; the registry fold then collapses the
            // same union newest-wins per user (ties to the greatest
            // id — the as-of's duplicate-right rule).
            val lvlPath = s"$statePath/level$i"
            val union = Merge.readRegistry(spark, lvlPath,
                enriched.schema.fields.toIndexedSeq: _*)
              .unionByName(enriched)
              .localCheckpoint(true)
            Merge.replaceParquet(spark, lvlPath,
              graft.operators.Dedup.newestWins(union, Seq(col(user)),
                col(time), col(stepCol(i))))
            rightRows = union
          } else {
            Merge.upsertParquet(spark, outPath, enriched, stepCol(n - 1),
              Merge.Ignore, stepCol(n - 1))
          }
        }
      }
    }
  }

  /** The q116 retention matrix served from a
    * [[streamingCohortActivity]] registry. */
  def cohortRetentionFromRegistry(spark: SparkSession,
                                  registryPath: String): DataFrame =
    graft.operators.Cohorts.retention(
      spark.read.parquet(registryPath)
        .select(col("user_key").as("user_id"),
          (col("wk") * graft.operators.Cohorts.WeekUs).as("ts_us")),
      "user_id", "ts_us")

  /** Streaming span-corruption example construction — the example-prep
    * deployment shape of q111: each arriving micro-batch of documents is
    * rendered to (inputs, targets) denoising examples
    * ([[graft.operators.SpanCorrupt.examples]] — the mask is a pure
    * hash of (doc, pos), so no cross-batch state exists at all) and
    * landed via keyed first-write-wins upsert. Replay-safe for free
    * (the [[streamingLmScore]] reasoning: pure function + Ignore
    * upsert).
    */
  def streamingSpanCorrupt(stream: DataFrame, checkpointDir: String,
                           outPath: String, id: String, text: String,
                           ratePm: Int): StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val ex = graft.operators.SpanCorrupt.examples(batch, id, text, ratePm)
      Merge.upsertParquet(spark, outPath, ex, id, Merge.Ignore, "n_tokens")
    }

  /** Streaming BPE segmentation — the tokenizer-ENCODE deployment shape
    * of q106 (verdict r10 item 7): the merge table is trained ONCE (the
    * q105 contract — rules frozen, captured by the closure) and each
    * micro-batch segments only its PREVIOUSLY-UNSEEN words: the batch's
    * distinct vocabulary anti-joins the sink (the [[streamingSpanDedup]]
    * registry pattern) and [[graft.operators.Bpe.applyMerges]] runs over
    * the fresh words alone, appending (w, pieces, n_pieces). Per-batch
    * cost is therefore ∝ NEW vocabulary, not batch size — at 100 TB the
    * arriving token stream is huge but its unseen-word tail is the
    * Zipf remainder, exactly what an online tokenizer wants to pay for.
    *
    * Replay safety (T6): segmentation is a pure function of
    * (word, rules), so a replayed batch anti-joins to an empty fresh set
    * (its words are already in the sink) and appends nothing; any
    * chunking of the vocabulary lands the same rows as one batch
    * (StreamBatchEquivalenceSpec pins stream ≡ Bpe.applyMerges over the
    * full distinct vocabulary).
    */
  def streamingBpeSegment(stream: DataFrame, checkpointDir: String,
                          outPath: String, word: String,
                          merges: Seq[(String, String)]): StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val fresh = batch.select(col(word).as("w")).distinct()
        .join(Merge.readRegistry(spark, outPath, StructField("w", StringType)),
          Seq("w"), "left_anti")
      // skip the empty append (the saturated-vocabulary steady state —
      // nearly every batch once the Zipf head is seen): it would still
      // commit one schema-only part file per batch, the small-file
      // decay the curriculum stream learned the hard way
      if (!fresh.isEmpty)
        graft.operators.Bpe.applyMerges(fresh, "w", merges)
          .write.mode("append").parquet(outPath)
    }

  /** Streaming CDC dedup — [[streamingSpanDedup]]'s twin at
    * content-defined granularity (q131): each micro-batch of documents
    * is CDC-chunked and checked against the persistent chunk-hash
    * registry ([[graft.operators.Chunk.cdcDedupAgainst]]), per-doc
    * contributions land via keyed first-write-wins upsert, and the
    * batch's novel distinct chunk hashes append to the registry
    * ([[dedupAgainstRegistry]]). The shift-invariant boundaries are what
    * make this the RE-CRAWL dedup: an edited document re-contributes
    * only its edited chunks, where the fixed-block registry would see
    * every block as new.
    */
  def streamingCdcDedup(stream: DataFrame, checkpointDir: String,
                        outPath: String, registryPath: String,
                        id: String, text: String, divisor: Int)
      : StreamingQuery =
    dedupAgainstRegistry(stream, checkpointDir, outPath, registryPath,
        StructField("chunk_hash", StringType), id, "n_chunks") { (_, batch, reg) =>
      (graft.operators.Chunk.cdcDedupAgainst(batch, reg, id, text, divisor),
        graft.operators.Chunk.contentDefined(batch, id, text, divisor)
          .select(col("chunk_hash")))
    }

  /** Streaming IVF-PQ index ingest — the missing ONLINE half of the
    * q92/q97 production ANN stack: coarse centroids and codebooks are
    * trained once (frozen in the closure, the q97 fixed-sample
    * contract), and each arriving vector micro-batch is cell-assigned +
    * PQ-encoded against them and APPENDED to the materialized (cell,
    * code) index — previously-indexed ids are dropped by an index
    * anti-join, so replays (T6) and re-crawled vectors land exactly
    * once. Per-batch cost ∝ batch size (assignment is |batch|·|cells|
    * dots, encoding |batch|·PqSub·PqK); the index grows append-only and
    * [[graft.operators.Similarity.ivfPqTopKIndexed]] serves searches
    * against any committed prefix — ingest never blocks search, the
    * standard ANN-serving split.
    */
  def streamingIndexIngest(stream: DataFrame, checkpointDir: String,
                           indexPath: String, centroids: DataFrame,
                           id: String, vec: String,
                           codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
                             graft.operators.Similarity.pqCodebook)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val seen = Merge.readRegistry(spark, indexPath, StructField("cid", LongType))
      val fresh = batch
        .join(seen.withColumnRenamed("cid", id), Seq(id), "left_anti")
      graft.operators.Similarity
        .buildIvfPqIndex(fresh, centroids, id, vec, codebook)
        .write.mode("append").parquet(indexPath)
    }

  /** Streaming lexical-index ingest — [[streamingIndexIngest]]'s twin
    * for the BM25 postings registry (the q157/q162 serve family): each
    * arriving doc micro-batch is tokenized ONCE into its postings
    * aggregate ([[graft.operators.TermStats.bm25Postings]]) and appended
    * to the materialized (doc, term, tf) registry; already-indexed doc
    * ids are dropped by a registry anti-join, so replays (T6) land
    * exactly once. Every BM25 statistic is additive over the registry,
    * so [[graft.operators.TermStats.bm25TopKFromPostings]] serves ranked
    * retrieval against any committed prefix without re-tokenizing a
    * single standing doc — ingest cost ∝ batch tokens, and ingest never
    * blocks serve (the same split the dense twin makes).
    */
  def streamingPostingsIngest(stream: DataFrame, checkpointDir: String,
                              registryPath: String, id: String, text: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val seen = Merge.readRegistry(spark, registryPath, StructField("doc", LongType))
        .withColumnRenamed("doc", id).distinct()
      graft.operators.TermStats
        .bm25Postings(batch.join(seen, Seq(id), "left_anti"),
          id, text)
        .write.mode("append").parquet(registryPath)
    }

  /** Streaming split assignment — q164's deployment shape with a GROWING
    * registry: the registry directories hold minhash signatures
    * (`sigsPath`: doc, sig) and split keys (`labelsPath`: edoc, cluster)
    * — seed them from the standing corpus (its sigs + its q43 cluster
    * labels). Each arriving doc micro-batch is signature-matched against
    * the registry ([[graft.operators.TextDedup.lshCandidatePairsAgainst]]
    * — registry×registry pairs never form); a match INHERITS the min
    * matched split key, an unmatched doc hash-assigns by its own id, and
    * the batch then JOINS the registry (its sigs appended, each doc's
    * final `skey` its label) so a later arrival that near-dups it
    * inherits too — the property the frozen-standing batch form (q164)
    * cannot give. Replays (T6) are dropped by the assignment anti-join
    * before any registry write. Honest scope, matching q164's scaladoc:
    * near-dups WITHIN one micro-batch assign independently (incoming
    * pairs never form), and inheritance never merges registry clusters a
    * new doc bridges.
    */
  def streamingSplitAssign(stream: DataFrame, checkpointDir: String,
                           outPath: String, sigsPath: String,
                           labelsPath: String, id: String, text: String,
                           shingleK: Int, numHashes: Int, bands: Int,
                           minSigEqual: Int,
                           splits: Seq[(String, Int)], salt: String)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val assigned = Merge.readRegistry(spark, outPath, StructField(id, LongType))
        .distinct()
      val fresh = batch.join(assigned, Seq(id), "left_anti")
        .localCheckpoint(true) // two registry writes + the assignment read it
      val bSigs = graft.operators.TextDedup.minhashSignatures(
          fresh, id, text, shingleK, numHashes)
        .localCheckpoint(true)
      val out = splitAssignAgainst(fresh, bSigs,
          spark.read.parquet(sigsPath), spark.read.parquet(labelsPath),
          id, numHashes, bands, minSigEqual, splits, salt)
        .localCheckpoint(true) // two sink writes read it; don't re-run the LSH join
      // REGISTRIES FIRST, assignment sink LAST — the dl-last pattern:
      // outPath is the replay guard (the anti-join above), so a crash
      // after it but before the registry appends would permanently omit
      // the batch from the inheritance registry and later near-dups of
      // those docs would hash-assign independently — the exact leakage
      // this operator exists to prevent. With the guard last, a crash
      // replays the whole batch: the deterministic recompute re-appends
      // byte-identical sigs/labels rows, and the inherit path collapses
      // duplicates harmlessly (candidate pairs dedupe through the
      // groupBy-min; label fanout can't move a min).
      bSigs.write.mode("append").parquet(sigsPath)
      out.select(col(id).as("edoc"), col("skey").as("cluster"))
        .write.mode("append").parquet(labelsPath)
      out.select(col(id), col("inherited"), col("skey"), col("split"))
        .write.mode("append").parquet(outPath)
    }

  /** [[streamingSplitAssign]]'s per-batch core, shared with the splitreg
    * scale probe: match a batch (rows + precomputed signatures) against
    * the registry's signature and split-key tables and assign every
    * batch row a split (inherit min matched key, else own-id hash).
    */
  private[graft] def splitAssignAgainst(fresh: DataFrame, bSigs: DataFrame,
                                        standingSigs: DataFrame,
                                        labels: DataFrame, id: String,
                                        numHashes: Int, bands: Int,
                                        minSigEqual: Int,
                                        splits: Seq[(String, Int)],
                                        salt: String): DataFrame = {
    val pairs = graft.operators.TextDedup.lshCandidatePairsAgainst(
        bSigs, standingSigs, numHashes, bands)
      .filter(col("n_sig_equal") >= minSigEqual)
    // the Against form canonicalizes (min, max); batch membership
    // recovers the sides
    val sided = pairs
      .join(bSigs.select(col("doc").as("doc_a"), lit(true).as("a_is_batch")),
        Seq("doc_a"), "left_outer")
      .select(
        when(col("a_is_batch"), col("doc_a")).otherwise(col("doc_b")).as(id),
        when(col("a_is_batch"), col("doc_b")).otherwise(col("doc_a")).as("edoc"))
    val inherit = sided
      .join(labels, Seq("edoc"), "left_outer")
      .withColumn("ekey", coalesce(col("cluster"), col("edoc")))
      .groupBy(col(id)).agg(min(col("ekey")).as("ckey"))
    graft.operators.Sampling.hashSplit(
      fresh.join(inherit, Seq(id), "left_outer")
        .withColumn("inherited", col("ckey").isNotNull)
        .withColumn("skey", coalesce(col("ckey"), col(id))),
      "skey", salt, splits)
  }

  /** Streaming chunker — q125's deployment shape: each micro-batch of
    * documents fans out to its token windows
    * ([[graft.operators.Chunk.tokenWindows]], stateless — the one
    * pipeline stage that needs NO registry) and upserts the sink on the
    * composite (doc, chunk_idx) key with first-wins semantics, so a
    * replayed batch (T6) rewrites identical rows instead of duplicating
    * them. A re-ingested doc whose text CHANGED keeps its old chunks
    * under Ignore — matching the exactly-once contract of the other
    * twins, where a key's first landing is authoritative.
    */
  def streamingChunk(stream: DataFrame, checkpointDir: String,
                     outPath: String, id: String, text: String,
                     size: Int, overlap: Int): StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val ch = graft.operators.Chunk.tokenWindows(batch, id, text, size, overlap)
        .withColumn("chunk_id", concat(col(id), lit(":"), col("chunk_idx")))
      Merge.upsertParquet(spark, outPath, ch, "chunk_id", Merge.Ignore, "n_tok")
    }

  /** Streaming unigram segmentation — [[streamingBpeSegment]]'s twin for
    * the OTHER tokenizer family (q128): the scored vocabulary is trained
    * once ([[graft.operators.Unigram.trainVocab]], frozen in the
    * closure) and each micro-batch Viterbi-segments only its
    * previously-unseen words (sink anti-join), appending
    * (w, n_pieces, score, pieces). Same deployment economics: per-batch
    * cost ∝ new vocabulary (the Zipf tail), not the token stream; same
    * T6 replay safety (segmentation is a pure function of (word, vocab),
    * a replayed batch appends nothing; StreamBatchEquivalenceSpec pins
    * stream ≡ [[graft.operators.Unigram.segment]] over the full distinct
    * vocabulary).
    */
  def streamingUnigramSegment(stream: DataFrame, checkpointDir: String,
                              outPath: String, word: String,
                              vocab: Seq[(String, Long)], maxLen: Int)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val fresh = batch.select(col(word).as("w")).distinct()
        .join(Merge.readRegistry(spark, outPath, StructField("w", StringType)),
          Seq("w"), "left_anti")
      // saturated-vocabulary steady state: skip the schema-only append
      // (same rationale as streamingBpeSegment)
      if (!fresh.isEmpty)
        graft.operators.Unigram.segment(fresh, "w", vocab, maxLen)
          .write.mode("append").parquet(outPath)
    }

  /** The follower/backfill driver. `source` must yield rows with a
    * monotonically increasing `heightCol`; `currentHeight` is re-read per
    * epoch.
    *
    * An epoch runs in two phases around one barrier:
    *  1. dynamics: one chain per [[DynamicCollection]] walks the epoch's
    *     chunks in height order into its sink, then folds it if it is a
    *     delta log. The chains run concurrently.
    *  2. snapshots: once every chain has finished, the
    *     [[SnapshotCollection]] refreshes run concurrently. The barrier
    *     stays because a snapshot may read a dynamic sink.
    * The mark advances only after both phases committed. Each sink path
    * has exactly one writer, its own chain, which keeps the single-writer
    * contract of [[Merge.healSwap]], the swaps and the delta numbering —
    * so collection names must be unique. A failed phase rethrows only
    * once all of its tasks have stopped, so no writer outlives the failed
    * epoch; the re-run replays it idempotently (T6).
    *
    * Threads: `source`, every `extract` and every snapshot `build` run on
    * worker threads, never on the caller's, and concurrently with one
    * another within a phase. They must not share unsynchronised state.
    * Each worker inherits the caller's Spark local properties.
    *
    * Scale note: each chunk is one bounded filter over the source (at
    * production scale a partition-pruned scan: height/time IS the partition
    * key, X1) feeding keyed-upsert sinks — the driver holds no data, only
    * the two longs of the range.
    */
  final class Driver(spark: SparkSession, source: () => DataFrame,
                     heightCol: String, stateDir: String, sinkDir: String,
                     chunkSize: Long, minDiff: Long,
                     dynamics: Seq[DynamicCollection],
                     snapshots: Seq[SnapshotCollection]) {

    private val names = dynamics.map(_.name) ++ snapshots.map(_.name)
    require(names.distinct.size == names.size,
      "Driver: duplicate collection name(s) " +
        names.diff(names.distinct).distinct.mkString(", ") +
        " — each sink path takes exactly one writer")

    val checkpoint = new Checkpoint(spark, stateDir)

    /** Max height, or None on an EMPTY source (bootstrap-before-data, or
      * a source truncated between epochs) — `max` over zero rows is a
      * null cell, and the old `.getLong(0)` NPE'd the polling loop
      * instead of letting the epoch report itself as a gated no-op.
      */
    def currentHeight(): Option[Long] = {
      val r = source().agg(max(col(heightCol))).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }

    def sinkPath(name: String): String = s"$sinkDir/$name"

    /** One epoch: gate on minDiff (T2), chunked dynamic sync (T1/E2),
      * snapshot refresh (T3), then advance the mark.
      */
    def runEpoch(): EpochReport = {
      val cur = currentHeight() match {
        case Some(h) => h + 1 // exclusive upper bound
        case None => // empty source: nothing to sync, report a no-op
          val from0 = checkpoint.read().getOrElse(0L)
          return EpochReport(ran = false, from0, from0, 0)
      }
      val from = checkpoint.read().getOrElse(0L)
      if (cur - from < minDiff) return EpochReport(ran = false, from, cur, 0)
      val ranges = chunkRanges(from, cur, chunkSize)
      // LSM shape (see Merge's delta-log section): each chunk APPENDS a
      // delta — O(chunk), no read of the growing sink — and the whole-sink
      // first-write-wins fold runs ONCE per epoch instead of once per
      // chunk. Sequential per-chunk upserts paid O(chunks · sink) per
      // epoch; the fold's precedence (earliest delta wins under Ignore)
      // reproduces that sequence's end state exactly (MergeSpec-pinned).
      // A crashed epoch leaves orphan deltas + an unadvanced checkpoint;
      // the re-run re-appends the same chunks and the fold resolves the
      // duplicates identically (T6 idempotence, unchanged).
      val dynMs = concurrently(dynamics.map { d => () =>
        ranges.foreach { case (lo, hi) =>
          val chunk = source().filter(col(heightCol) >= lo && col(heightCol) < hi)
          d.heightBucket match {
            case Some(width) =>
              // steady-state path: the chunk rewrites ONLY its own height
              // partitions — no delta log, no epoch fold
              Merge.upsertPartitionedByHeight(spark, sinkPath(d.name),
                d.extract(chunk), d.key, Merge.Ignore, d.tiebreak,
                heightCol, width)
            case None =>
              Merge.appendDelta(spark, sinkPath(d.name), d.extract(chunk))
          }
        }
        if (d.heightBucket.isEmpty)
          Merge.finalizeDeltas(spark, sinkPath(d.name), d.key, Merge.Ignore,
            d.tiebreak)
      })
      val snapMs = concurrently(snapshots.map { s => () =>
        Merge.upsertParquet(spark, sinkPath(s.name), s.build(spark),
          s.key, Merge.Update, s.tiebreak) // full refresh: incoming wins
      })
      checkpoint.write(cur)
      EpochReport(ran = true, from, cur, ranges.size,
        scala.collection.immutable.ListMap(names.zip(dynMs ++ snapMs): _*))
    }

    /** Runs `tasks` at once and returns each one's wall ms, in order. The
      * pool is made per call with `min(tasks, defaultParallelism)`
      * threads, so its threads inherit the caller's Spark local
      * properties (job group, scheduler pool, trace tags). Every task
      * finishes before the first failure (in task order) is rethrown,
      * carrying the others as suppressed.
      */
    private def concurrently(tasks: Seq[() => Unit]): Seq[Long] =
      if (tasks.isEmpty) Nil // a pool of zero threads is refused
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(tasks.size, spark.sparkContext.defaultParallelism))
        try {
          val outcomes = tasks.toVector
            .map(t => pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = {
                val t0 = System.nanoTime()
                t()
                (System.nanoTime() - t0) / 1000000L
              }
            }))
            .map(f => scala.util.Try(f.get()).recoverWith {
              case e: java.util.concurrent.ExecutionException =>
                scala.util.Failure(e.getCause)
            })
          outcomes.collect { case scala.util.Failure(e) => e } match {
            case first +: rest =>
              rest.foreach(first.addSuppressed)
              throw first
            case _ => outcomes.map(_.get)
          }
        } finally pool.shutdown()
      }
  }

  /** Streaming curriculum (the q188 registry fold driven by a stream):
    * each micro-batch extends the materialized training order —
    * watermark from the CURRENT registry size via `servedOf` (the
    * serving process's progress policy), arrivals appended to each
    * source's key ladder, only the unserved tail re-ranked
    * ([[graft.operators.Ranks.extendRegistry]]). The registry mutates
    * wholesale (tail POSITIONS move — an upsert can't express that), so
    * the write is [[Merge.replaceParquet]]'s snapshot swap, never an
    * append. Replay-safe (T6): already-registered ids anti-join away, and
    * an empty fresh set re-derives the identical order — a replayed
    * micro-batch swaps in the same bytes. A torn swap is healed at batch
    * entry, before the fresh-vs-extend decision.
    */
  def streamingCurriculum(stream: DataFrame, checkpointDir: String,
                          registryPath: String, group: String, id: String,
                          salt: String, weights: Map[String, Int],
                          servedOf: Long => Long, nBuckets: Int = 64)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      Merge.healSwap(spark, registryPath)
      val next =
        if (!Merge.hasParquet(spark, registryPath))
          graft.operators.Ranks.orderRegistry(batch, group, id, salt,
              weights, nBuckets)
            .withColumn("frozen", lit(false))
        else {
          val reg = spark.read.parquet(registryPath)
          val fresh = batch.join(reg.select(col(id)), Seq(id), "left_anti")
          graft.operators.Ranks.extendRegistry(reg, fresh, group, id, salt,
            weights, servedOf(reg.count()), nBuckets)
        }
      // replaceParquet materializes into a temp dir before any rename,
      // so next's lineage reading registryPath is safe by contract
      Merge.replaceParquet(spark, registryPath, next)
    }

  /** Reader for [[streamingCurriculumSegmented]]'s layout: the logical
    * registry is `frozen/` (append-only graduated segments) ∪ `tail/`
    * (the live unserved remainder), with the tail read SHADOWED behind
    * the frozen high-water position. The shadow is the crash-safety
    * device: a failure between the frozen append and the tail swap
    * leaves the freshly graduated prefix duplicated in the stale tail,
    * but graduated positions are FINAL by the extendRegistry contract,
    * so the duplicates carry identical `pos` values and the
    * `pos > hwm` filter drops exactly them — the layout self-heals on
    * the next read instead of tripping the ladder-contiguity validation.
    */
  def curriculumRegistry(spark: SparkSession, registryPath: String)
      : DataFrame = {
    val frozenPath = s"$registryPath/frozen"
    val tailPath = s"$registryPath/tail"
    val frozen = if (Merge.hasParquet(spark, frozenPath))
      Some(spark.read.parquet(frozenPath)) else None
    val tail = if (Merge.hasParquet(spark, tailPath))
      Some(spark.read.parquet(tailPath)) else None
    (frozen, tail) match {
      case (Some(f), Some(t)) =>
        // one column-pruned scan of the frozen segments for the hwm. A
        // zero-row frozen/ is reachable (an append of an empty frame
        // leaves a schema-only part file; guarded at the writer now, but
        // directories written before that guard — or by a crash mid-
        // append — must still read): NULL max ⇒ degrade to tail-only
        // instead of NPE-wedging every subsequent batch AND its replay.
        val hwmRow = f.agg(max(col("pos"))).head
        if (hwmRow.isNullAt(0)) t
        else f.unionByName(t.filter(col("pos") > hwmRow.getLong(0)))
      case (Some(f), None) => f
      case (None, Some(t)) => t
      case (None, None) => throw new IllegalStateException(
        s"no curriculum registry at $registryPath (neither frozen/ nor tail/)")
    }
  }

  /** [[streamingCurriculum]] with the write amplification fixed — the
    * curriculum analog of the other registry families' on-cadence
    * compaction. The monolithic form snapshot-swaps the WHOLE registry
    * every micro-batch (O(registry) writes for an O(tail) change); here
    * rows graduate into `frozen/` exactly once when the watermark passes
    * them (their positions are final — extendRegistry passes the served
    * prefix through verbatim) and only `tail/` is swap-replaced, so
    * per-batch write cost is O(newly-served + unserved tail + batch),
    * independent of how much history has accumulated. Read cost per
    * batch stays O(registry) in the stats aggregate — column-pruned over
    * append-only segments — matching the curreg probe's flat per-step
    * curve. Write ORDER is graduation append first, tail swap second: a
    * crash in between duplicates the graduated prefix in the stale tail,
    * which [[curriculumRegistry]] shadows out (see there); the reverse
    * order would LOSE rows. Replay-safe like the monolithic form:
    * already-registered ids anti-join away and re-derive identical
    * positions. A torn `tail/` swap is healed at batch entry (the
    * public [[curriculumRegistry]] reader must not heal).
    */
  def streamingCurriculumSegmented(stream: DataFrame, checkpointDir: String,
                                   registryPath: String, group: String,
                                   id: String, salt: String,
                                   weights: Map[String, Int],
                                   servedOf: Long => Long, nBuckets: Int = 64)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val frozenPath = s"$registryPath/frozen"
      val tailPath = s"$registryPath/tail"
      Merge.healSwap(spark, tailPath)
      if (!Merge.hasParquet(spark, frozenPath) &&
          !Merge.hasParquet(spark, tailPath)) {
        Merge.replaceParquet(spark, tailPath,
          graft.operators.Ranks.orderRegistry(batch, group, id, salt,
            weights, nBuckets))
      } else {
        val reg = curriculumRegistry(spark, registryPath)
        val fresh = batch.join(reg.select(col(id)), Seq(id), "left_anti")
        // two consumers (graduation append, tail swap) — persist so the
        // re-rank runs once; lineage is already cut from tail/ by
        // extendRegistry's eager checkpoint
        val next = graft.operators.Ranks.extendRegistry(reg, fresh, group,
            id, salt, weights, servedOf(reg.count()), nBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // NULL max = schema-only frozen/ (see curriculumRegistry):
          // treat as "nothing graduated yet", not an NPE
          val gradFloor = if (Merge.hasParquet(spark, frozenPath)) {
            val r = spark.read.parquet(frozenPath).agg(max(col("pos"))).head
            if (r.isNullAt(0)) 0L else r.getLong(0)
          } else 0L
          val grads = next.filter(col("frozen") && col("pos") > gradFloor)
            .drop("frozen")
          // skip the append when NOTHING graduated this batch (e.g. the
          // watermark hasn't passed pos 1 on a tiny first batch): an
          // empty append still writes a schema-only .parquet part, which
          // flips hasParquet(frozen) to true with 0 rows — the exact
          // shape the NULL-max guards above exist for. Don't create it
          // in the first place.
          if (!grads.isEmpty)
            grads.write.mode("append").parquet(frozenPath)
          Merge.replaceParquet(spark, tailPath,
            next.filter(!col("frozen")).drop("frozen"))
        } finally { next.unpersist(); () }
      }
    }

  // -------------------------------------------------------------------
  // The impact-index REGISTRY — the on-disk, incrementally maintained
  // form of the impact-truncated BM25 serve index
  // ([[graft.operators.TermStats.bm25ImpactIndex]]). One layout,
  // segmented by INGEST EPOCH (the reference's T4 cadence is per
  // follower epoch, src/etl.py:94-97, so an epoch is both the unit a
  // fold appends to and the unit retention retires):
  //
  //   postings/epoch=E/  (doc, term, tf) — append-only, Hive-partitioned
  //   dl/epoch=E/        (doc, dl) — append-only; the seen-doc set the
  //                      replay anti-join reads, and the durability mark
  //   stats/             (term, df, dkey, epoch) — ADDITIVE per-batch df
  //                      deltas (BM25's stats are additive over disjoint
  //                      doc ids)
  //   corpus/            (n_docs, a_tok, dkey, epoch) — one additive row
  //                      per batch
  //   stats_serve/       the epoch-blind df rollup of every SEALED epoch
  //                      (see [[compactImpactRegistry]])
  //   impact/            the truncated index, carrying `dl` so per-term
  //                      re-ranking never rejoins
  //   meta/              (m_built, n_docs, n_retired): the depth the
  //                      standing index was built at, the doc count it
  //                      was calibrated against, and the retired docs
  //                      whose entries it may still hold
  //
  // The materialized stats/corpus rollups are the only flat serve curve
  // (re-deriving them from the full postings/dl registries per serve
  // call converges to rebuild cost, SCALE.md zipfreg). A registry that is
  // never retired is simply one epoch.
  //
  // Crash contract (write order postings → stats → corpus → dl → impact
  // swap → meta swap): a batch is DURABLE once its dl append committed —
  // a crash any earlier replays the whole batch, under its own epoch. A
  // replayed batch can re-append rows its crashed predecessor already
  // committed; those are EXACT duplicates — postings rows are per-(doc,
  // term) aggregates of a deterministic tokenizer, and every stats/corpus
  // delta carries `dkey` = min fresh doc id, which discriminates batches
  // (durable fresh sets are disjoint, and a min is a member) while a
  // replay re-derives the identical key. Every reader collapses them
  // where its OWN volume lives: the serve on the query footprint
  // (`TermStats.rescoreCandidates`' post-join distinct — never a
  // full-registry pass), the stats/corpus sums on the O(batches) delta
  // logs ([[impactIndexStats]]), and [[compactImpactRegistry]] folds them
  // out of the raw files on the fold cadence, the Merge delta-log
  // convention. The impact/meta swaps are atomic ([[Merge.replaceParquet]])
  // and recomputed idempotently from the registries.
  //
  // Retention ([[retainImpactRegistry]]) is an epoch cut:
  //
  //   - drop retired segment DIRECTORIES       — O(retired) fs deletes
  //   - filter retired rows out of stats/corpus — O(delta-log) rows,
  //     EXACT because per-epoch folds are additive by construction
  //   - rebuild impact/ from surviving segments ONLY when the retired
  //     share crosses a threshold — the compaction-cadence rule
  //
  // A cut can resurrect postings below the truncation cut that were
  // never kept, so the standing index cannot be patched; between
  // rebuilds it may still carry retired docs' entries. The serve stays
  // CORRECT (the rescore joins dl INNER, so a retired candidate can never
  // be returned — the same inner-join argument as the crash-window
  // staleness contract) but each retired entry wastes one top-m slot in
  // its term's window, so effective depth degrades by at most the
  // retired share — exactly what the threshold bounds, and a rebuild
  // restores. Recall floor between rebuilds: ≥ recall(m·(1−share)).
  // -------------------------------------------------------------------

  /** The truncated serve index: `(doc, term, tf, dl)`, read with
    * [[impactIndexStats]]' frames by `TermStats.bm25TopKImpact`.
    */
  def impactIndexRegistry(spark: SparkSession, registryPath: String)
      : DataFrame = spark.read.parquet(s"$registryPath/impact")

  /** Epoch ids of the segment directories under `base` (committed or
    * not — torn-swap siblings like `epoch=5.old-…` count toward their
    * core epoch so [[healRegistry]] can repair a target that is wholly
    * absent).
    */
  private[streaming] def segmentEpochs(spark: SparkSession, base: String): Seq[Long] = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .map { n =>
        val t = n.indexOf(".tmp-"); val o = n.indexOf(".old-")
        if (t >= 0) n.substring(0, t)
        else if (o >= 0) n.substring(0, o) else n
      }
      .filter(_.startsWith("epoch="))
      .flatMap(n => scala.util.Try(n.stripPrefix("epoch=").toLong).toOption)
      .distinct.sorted
  }

  /** The maintainer-entry torn-swap repair ([[Merge.healSwap]]): every
    * postings/dl segment directory (the swap targets of
    * [[compactImpactRegistry]] are the segment dirs, so their torn
    * siblings live INSIDE the base dir) plus the named flat artifacts. A
    * crash between commitSwap's two renames leaves an artifact absent
    * with a recoverable sibling — for the ACCUMULATING stats/corpus logs
    * that absence would otherwise be silently recreated batch-only and
    * every later serve would undercount (ADVICE r18).
    */
  private def healRegistry(spark: SparkSession, registryPath: String,
                           flat: String*): Unit = {
    for (base <- Seq(s"$registryPath/postings", s"$registryPath/dl");
         e <- segmentEpochs(spark, base))
      Merge.healSwap(spark, s"$base/epoch=$e")
    flat.foreach(sub => Merge.healSwap(spark, s"$registryPath/$sub"))
  }

  /** True when at least one committed segment exists under `base`. */
  private def hasSegments(spark: SparkSession, base: String): Boolean =
    segmentEpochs(spark, base)
      .exists(e => Merge.hasParquet(spark, s"$base/epoch=$e"))

  /** All live segments of a segmented artifact, projected to the
    * canonical columns (the Hive partition column `epoch` exists for
    * retention's directory drops and partition pruning; every consumer
    * of the ROWS is epoch-blind, and no published table may carry it).
    */
  private def readSegments(spark: SparkSession, base: String,
                           cols: String*): DataFrame =
    spark.read.parquet(base).select(cols.map(col).toSeq: _*)

  private def postingsOf(spark: SparkSession, registryPath: String)
      : DataFrame =
    readSegments(spark, s"$registryPath/postings", "doc", "term", "tf")

  private def dlOf(spark: SparkSession, registryPath: String): DataFrame =
    readSegments(spark, s"$registryPath/dl", "doc", "dl")

  /** (n_docs, a_tok) summed over the corpus delta log — O(batches) rows,
    * never a dl recount; a_tok bounds the registry's postings rows (the
    * shuffle-sizing operand of every registry-shaped rewrite).
    */
  private def corpusTotals(spark: SparkSession, registryPath: String)
      : (Long, Long) = {
    val r = spark.read.parquet(s"$registryPath/corpus").distinct()
      .agg(sum(col("n_docs")), sum(col("a_tok"))).head
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The calibrated depth m(n) ([[graft.operators.TermStats.impactM]]),
    * with `quantize` rounded up to the next power of two (saturating
    * past 2^30, where the shift would wrap) — see [[impactBatchIngest]]
    * step 3 for why.
    */
  private def depthFor(nDocs: Long, docsPerSlot: Long, mMin: Int,
                       quantize: Boolean): Int = {
    val mCal = graft.operators.TermStats.impactM(nDocs, docsPerSlot, mMin)
    if (!quantize || mCal >= (1 << 30)) mCal
    else if (mCal <= 1) 1
    else Integer.highestOneBit(mCal - 1) << 1
  }

  /** Rebuild the truncated index at depth `m` from the LIVE segments —
    * which also evicts any retired docs' stale entries. Replay
    * duplicates are healed ON the window's own term partitioning
    * (r20), not by two upstream full-registry distinct exchanges: the
    * one O(registry) read of the family, amortized by the pow2 depth
    * policy and the retention threshold.
    */
  private def rebuildIndex(spark: SparkSession, registryPath: String,
                           m: Int): Unit =
    Merge.replaceParquet(spark, s"$registryPath/impact",
      graft.operators.TermStats.bm25ImpactIndexWithDlHealed(
        postingsOf(spark, registryPath), dlOf(spark, registryPath), m))

  private def writeMeta(spark: SparkSession, registryPath: String,
                        mBuilt: Int, nDocs: Long, nRetired: Long): Unit = {
    import spark.implicits._
    Merge.replaceParquet(spark, s"$registryPath/meta",
      Seq((mBuilt, nDocs, nRetired)).toDF("m_built", "n_docs", "n_retired"))
  }

  /** The text of a small marker file, if present. */
  private def readMarker(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }

  private def writeMarker(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The registry-derived serve inputs for
    * [[graft.operators.TermStats.bm25TopKImpact]]: `(postings, dfreq,
    * dl, corpus)`. postings/dl come back as RAW LAZY frames over the
    * live segments, the partition column projected away (they may carry
    * byte-identical crash-replay duplicates until the next compaction;
    * the impact serve touches them only through keyed candidate joins
    * and heals them on the query footprint — a full-registry
    * `distinct()` here would be an all-columns HashAggregate + Exchange
    * over the ENTIRE postings registry upstream of the doc-keyed join
    * that shrinks it, VERDICT r18 #1. A consumer that needs healed RAW
    * frames for something other than the keyed serve runs
    * [[compactImpactRegistry]] first or distincts its own read).
    * dfreq/corpus read the MATERIALIZED delta logs, never re-derived
    * from the postings registry.
    *
    * df assembly is O(vocab + recent), not O(vocab × live epochs): the
    * per-(term, epoch) fold the retention cut needs makes the stats log
    * vocab×epochs rows, so the serve unions `stats_serve` (the rollup of
    * every SEALED epoch, its `folded_through` column recording the seal
    * line) with only the log rows ABOVE that line. With no
    * `stats_serve` (never compacted, or deleted by a retention cut — its
    * pre-aggregated rows can't be epoch-filtered), the serve falls back
    * to the full log: always correct, one compaction from cheap.
    *
    * Crash-window staleness contract: a serve issued BETWEEN a batch's
    * crash and its replay may see that batch's postings/stats/corpus
    * deltas without its dl rows (dl is the last append) — candidates
    * rescore only against docs present in dl (the score join is inner),
    * so no phantom doc can be returned, while df/corpus read at most
    * one partial batch ahead; the replay converges them. A serve issued
    * between a retention crash and its re-run can additionally read
    * retired docs' stale deltas — that state is MARKED on disk and
    * warned about here; see [[retainImpactRegistry]]'s intent marker.
    * NO torn-swap heal here: this is the READ path, and serves may run
    * concurrently with a maintainer's commitSwap.
    */
  def impactIndexStats(spark: SparkSession, registryPath: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    if (retentionPending(spark, registryPath))
      graft.Log.warn(s"impactIndexStats: $registryPath has an " +
        "incomplete retention (intent marker present) — df/corpus may " +
        "still count retired docs until retainImpactRegistry is re-run")
    val statsLog = spark.read.parquet(s"$registryPath/stats").distinct()
    val servePath = s"$registryPath/stats_serve"
    val dfreq =
      if (Merge.hasParquet(spark, servePath)) {
        val srv = spark.read.parquet(servePath)
        // folded_through is constant across rows; one-row read
        val ft = srv.select(col("folded_through")).head.getLong(0)
        srv.select(col("term"), col("df"))
          .unionByName(statsLog.filter(col("epoch") > ft)
            .select(col("term"), col("df")))
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
      } else statsLog.groupBy(col("term")).agg(sum(col("df")).as("df"))
    val corpus = spark.read.parquet(s"$registryPath/corpus").distinct()
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("a_tok")).as("a_tok"))
    (postingsOf(spark, registryPath), dfreq, dlOf(spark, registryPath),
      corpus)
  }

  /** True while a [[retainImpactRegistry]] intent marker is on disk — a
    * retention started and has not yet completed (crash window). See
    * the marker contract there.
    */
  def retentionPending(spark: SparkSession, registryPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$registryPath/retain_intent")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A crashed publish (or a fresh catalog over a surviving warehouse
    * dir — the catalog is per-session, the directory is not) leaves an
    * ORPHANED table location that CTAS refuses; clear both halves so a
    * (re)publication is idempotent from any torn state.
    */
  private def clearStaleTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ()
  }

  /** `rows` repartitioned onto the bucket key FIRST, then
    * distinct-healed: one exchange (the same Murmur3 family as the
    * bucket assignment — the compactBucketed trick, r20) feeds both the
    * healing distinct (HashPartitioning(key) satisfies the all-columns
    * grouping distribution) and the bucketed write, and each bucket lands
    * in ONE task → ≤1 file per bucket, deterministic, instead of files ∝
    * whatever partitioning AQE left on the distinct. PlanSpec-pinned.
    */
  private[graft] def bucketHealed(rows: DataFrame, buckets: Int,
                                  key: String): DataFrame =
    rows.repartition(buckets, col(key)).distinct()

  /** Publish the impact registry's SERVE artifacts as bucketed catalog
    * tables — the 100 TB serving layout (SCALE.md zipfbucket): once the
    * candidate set of a serve batch outgrows the broadcast threshold
    * (deep calibrated m × many queries), the doc-keyed rescore joins
    * plan as sort-merge and shuffle BOTH sides, so a plain-parquet
    * registry re-shuffles its corpus-proportional postings/dl frames
    * per serve batch. Published doc-bucketed (postings, dl) and
    * term-bucketed (impact), the registry side arrives pre-partitioned
    * and only the candidate side (∝ query footprint) shuffles —
    * measured −2 exchanges / −37% wall at the probe's 64× rung.
    *
    * A SNAPSHOT republication, not a maintainer: O(registry) per call,
    * run on the compaction cadence (or per epoch) — the bucketed write
    * IS the shuffle the serve then never pays, amortized over every
    * serve batch until the next publish. Every live segment is folded
    * into the tables, projected to the canonical columns (the `epoch`
    * partition column never reaches a published table), and
    * distinct-healed on the way out ([[bucketHealed]]; the serve's
    * footprint heal stays correct but should have nothing to do). The
    * tiny `stats/`/`corpus/` delta logs are NOT published — serve them
    * from the registry as always ([[impactIndexStats]]).
    *
    * Serve: `bm25TopKImpact(spark.table(s"${prefix}_impact"),
    * spark.table(s"${prefix}_postings"), dfreq,
    * spark.table(s"${prefix}_dl"), corpus, …)` with dfreq/corpus from
    * [[impactIndexStats]]. BucketedServeSpec pins result equality and
    * that no shuffle feeds off a bare published-registry scan even
    * under a forced sort-merge plan.
    */
  def publishImpactServeTables(spark: SparkSession, registryPath: String,
                               prefix: String, buckets: Int = 32): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    healRegistry(spark, registryPath, "impact")
    for (suffix <- Seq("postings", "dl", "impact"))
      clearStaleTable(spark, s"${prefix}_$suffix")
    graft.sources.Bucketing.writeBucketed(
      bucketHealed(postingsOf(spark, registryPath), buckets, "doc"),
      s"${prefix}_postings", buckets, "doc")
    graft.sources.Bucketing.writeBucketed(
      bucketHealed(dlOf(spark, registryPath), buckets, "doc"),
      s"${prefix}_dl", buckets, "doc")
    graft.sources.Bucketing.writeBucketed(
      impactIndexRegistry(spark, registryPath)
        .repartition(buckets, col("term")),
      s"${prefix}_impact", buckets, "term")
  }

  /** The rows a fold LANDED (one `(doc, term, tf, dl)` row per fresh
    * posting, lineage-severed by an eager localCheckpoint) plus their
    * fresh-doc count — handed back to the caller so a same-process
    * publish step (e.g. [[streamingImpactServePublish]]) can append the
    * batch's rows O(batch) without re-scanning the registry. None when
    * the batch landed nothing (all docs already durable), or when nobody
    * could read it — the snapshot is materialized only when a reader
    * exists: the caller asked (`needLanded = true`, the serve-table
    * publisher) or the fold's merge arm is reachable (a standing impact/
    * artifact); a first build takes the rebuild arm unconditionally and
    * eagerly checkpointing rows nothing reads was one whole
    * materialization job per fold (r20). Valid only
    * within this process/session: a crash replays the whole batch (dl
    * is the durability mark), so nothing ever needs a crashed fold's
    * snapshot.
    *
    * LOOPING callers (the streaming twins) must [[Landed.release]] after
    * their last read: the checkpoint's blocks register in
    * `SparkContext.persistentRdds` outside the SQL CacheManager, so an
    * unreleased snapshot per micro-batch accumulates storage blocks for
    * the life of the stream (the [[graft.Caches]] lesson; the
    * StreamBatchEquivalenceSpec soak pins zero leaked blocks). One-shot
    * callers (the registered queries) may discard it — the bench/verify
    * loop clears per query.
    */
  final case class Landed(rows: DataFrame, nFresh: Long) {
    /** Unpersist the snapshot's checkpointed blocks. The rows are NOT
      * recomputable afterwards (lineage was truncated) — call only after
      * the last read.
      */
    def release(): Unit = Incremental.unpersistCheckpoint(rows)
  }

  /** Unpersist the storage blocks behind an eager `localCheckpoint`ed
    * frame (its plan is a LogicalRDD over the persisted internal RDD —
    * the one place `catalog.clearCache()` can't reach).
    */
  private[streaming] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** One ingest fold of the impact registry into epoch `epoch` — the
    * batch form of [[streamingImpactIndex]]'s per-micro-batch step,
    * public so a batch backfill (or a test/oracle twin) drives the
    * IDENTICAL write path the stream does. See the section comment for
    * the layout and crash contract; per call:
    *
    *  1. `postings/epoch=E/`, `stats/`, `corpus/` and `dl/epoch=E/`
    *     extend by the batch's rows, in that order — dl last, the
    *     durability mark (append-only; replayed doc ids anti-join away
    *     against the dl registry — the first-wins convention; empty
    *     appends are SKIPPED, the schema-only-part lesson from the
    *     segmented curriculum). The stats/corpus deltas are O(batch)
    *     aggregates of the batch's own postings, keyed by `dkey` = min
    *     fresh doc id so a crash replay appends byte-identical rows that
    *     distinct-heal, and tagged with `epoch` so a retention cut can
    *     filter them — the corpus rollups are ADDITIVE, maintained
    *     incrementally, never recounted (the zipfreg finding).
    *  2. `impact/` re-truncates per term over (standing index ∪ the
    *     batch docs' postings).distinct — EXACT by the monotone top-m
    *     property on an append-only corpus: a posting outside top-m(P)
    *     is dominated by ≥ m postings that all remain in P ∪ B, so
    *     top-m(P ∪ B) ⊆ top-m(P) ∪ B. An entirely-fresh batch (the
    *     steady state) merges the IN-FLIGHT snapshot ([[Landed]]) —
    *     byte-identical to the rows just appended, zero registry scan;
    *     only when some batch docs anti-joined away (a crash-window
    *     replay, or a source re-delivering ingested docs) does the
    *     recovery arm re-read those docs' rows from the registry with a
    *     batch-keyed join, so the replay still lands the crashed
    *     batch's rows in the swap — the merge's distinct de-dups
    *     re-merged rows instead of double-counting them toward m.
    *  3. The depth follows the calibrated
    *     [[graft.operators.TermStats.impactM]] m(n) with n read from
    *     the corpus delta log. With `quantizeDepth` (the streaming
    *     default) m is QUANTIZED to the next power of two: a depth
    *     increase invalidates the monotone merge (rows below the old cut
    *     were never kept), so it triggers a REBUILD from the live
    *     segments — pow2 quantization makes that a corpus-doubling
    *     event, amortized O(1) rebuilds per doubling, while the standing
    *     depth stays ≥ the calibration (so the serve contract's recall
    *     floor holds between rebuilds). A one-shot batch build passes
    *     `quantizeDepth = false` to land on the exact calibrated depth.
    *     A rebuild also resets `meta.n_retired` (it evicts any retired
    *     docs' stale entries — see [[retainImpactRegistry]]).
    *
    * `epoch` must be non-decreasing across folds (a replay re-passes its
    * own epoch): appending BELOW the newest segment would let a past
    * retention cut resurrect, and the reference's follower epochs are
    * monotone anyway (`src/etl.py:94-97`). Multiple batches may share
    * one epoch (micro-batches within a follower epoch). A doc
    * re-delivered AFTER its epoch was retired reads as fresh (its dl rows
    * are gone) and re-ingests into the CURRENT epoch: the registry
    * resumes append-only from the retained base.
    *
    * Write cost per batch: O(batch) appends + an O(m·|vocab|) index swap
    * (the index IS the registry's tail — m·V rows by construction, the
    * bounded artifact the truncation exists to produce; the raw postings
    * are never rewritten). Serve via [[impactIndexRegistry]] +
    * `bm25TopKImpact`, bit-identical to a from-scratch build (pinned in
    * StreamBatchEquivalenceSpec; the registry-SERVED path is pinned in
    * the oracle gate as q206).
    */
  def impactBatchIngest(spark: SparkSession, registryPath: String,
                        batch: DataFrame, id: String, text: String,
                        epoch: Long,
                        docsPerSlot: Long = graft.operators.TermStats.DocsPerSlot,
                        mMin: Int = 64,
                        quantizeDepth: Boolean = true,
                        needLanded: Boolean = false)
      : Option[Landed] = {
    import graft.operators.TermStats
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    val postBase = s"$registryPath/postings"
    val dlBase = s"$registryPath/dl"
    val statsPath = s"$registryPath/stats"
    val corpusPath = s"$registryPath/corpus"
    val impactPath = s"$registryPath/impact"
    val metaPath = s"$registryPath/meta"
    // flat files directly under postings/ are an older, unsegmented
    // layout this engine no longer reads — refuse loudly instead of
    // interleaving the two formats
    if (Merge.hasParquet(spark, postBase))
      throw new IllegalStateException(s"impactBatchIngest: $registryPath " +
        "holds a flat (unsegmented) impact registry — flat files under " +
        "postings/ are no longer a supported layout; rebuild the registry " +
        "from the source corpus")
    // torn-swap repair first, then the retention gate: a half-finished
    // retention must be completed by its owner before ingest resumes,
    // or retired docs' stale deltas survive as forever-pending rows
    healRegistry(spark, registryPath, "stats", "corpus", "impact", "meta")
    if (retentionPending(spark, registryPath))
      throw new IllegalStateException(s"impactBatchIngest: $registryPath " +
        "has an incomplete retention (intent marker present) — re-run " +
        "retainImpactRegistry to completion before ingesting")
    val lastEpoch = segmentEpochs(spark, dlBase).lastOption.getOrElse(-1L)
    require(epoch >= lastEpoch, s"impactBatchIngest: epoch $epoch is " +
      s"below the newest segment $lastEpoch — epochs are monotone (a " +
      "retention cut must never resurrect)")
    val docsIn = batch.select(col(id).as("doc"), col(text).as("__text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // replay safety: the dl registry is the seen-doc-id set
      val fresh =
        if (hasSegments(spark, dlBase))
          docsIn.join(readSegments(spark, dlBase, "doc"),
            Seq("doc"), "left_anti")
        else docsIn
      val newPost = TermStats.bm25Postings(
          fresh.select(col("doc").as(id), col("__text").as(text)),
          id, text)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val newDl = newPost.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // one action materializes both persists and reads the batch size,
        // token mass AND corpus dkey (a_tok bounds the batch's postings
        // rows — the in-fold shuffle sizing operand below; min(doc) is
        // the corpus delta row's replay key)
        val bstat =
          newDl.agg(count(lit(1)), sum(col("dl")), min(col("doc"))).head
        val nFresh = bstat.getLong(0)
        val batchATok = if (bstat.isNullAt(1)) 0L else bstat.getLong(1)
        // Whether the in-flight snapshot can have a reader: the caller
        // (needLanded — the serve-table publisher), or the merge arm —
        // which requires a standing impact/ artifact, whose readability
        // the appends below cannot change (impact/ is swap-replaced only
        // at the end of this fold).
        val snapNeeded = needLanded || Merge.hasParquet(spark, impactPath)
        // Batch-shaped work below runs under the loop-conf scope (the
        // q120/q174 convention): planned partitions ∝ the batch's token
        // mass instead of the session constant. The tokenize/rollup
        // shuffles above already ran at session conf (their size was
        // unknown until this point).
        val landed: Option[DataFrame] =
          if (nFresh == 0) None // empty append = schema-only part file
          else graft.functions.Cols.withLoopConf(spark,
            graft.functions.Cols.loopParts(newDl, batchATok)) {
            // lineage-severed landed snapshot FIRST: newPost's lineage
            // reads the dl registry (the freshness anti-join), and Spark
            // invalidates — then lazily RECOMPUTES — any cache whose
            // lineage touches a path being appended (refreshByPath fires
            // inside the insert command), so after the dl append below
            // the persisted newPost would silently re-evaluate EMPTY
            // (every batch doc now reads as seen). The EAGER
            // localCheckpoint materializes the O(batch) rows and
            // truncates lineage to a LogicalRDD scan refreshByPath
            // cannot touch; the merge arm reads it after the appends,
            // and the caller gets it back ([[Landed]]).
            val snap =
              if (!snapNeeded) None
              else Some(newPost.join(newDl, "doc")
                .select(col("doc"), col("term"), col("tf"), col("dl"))
                .localCheckpoint(true))
            // postings FIRST, dl LAST: dl is the durability mark; the
            // additive deltas land in between, all derived from the SAME
            // deterministic newPost so a replay re-appends
            // byte-identical rows
            newPost.write.mode("append").parquet(s"$postBase/epoch=$epoch")
            // the batch's corpus delta (n_docs, a_tok, dkey) is already
            // on the driver from the bstat action above; the literal
            // dkey and the local 1-row corpus frame keep the log schema
            // exactly (n_docs and epoch required, a_tok/dkey optional —
            // parquet append mixes footers)
            val dkeyType = newDl.schema("doc").dataType
            newPost.groupBy(col("term")).agg(count(lit(1)).as("df"))
              .withColumn("dkey", // when() keeps the column NULLABLE: the
              // stats log's folded rows carry null dkeys, and a
              // required-typed footer must never win schema inference
              // over them
              when(lit(true), lit(bstat.get(2)).cast(dkeyType)))
              .withColumn("epoch", lit(epoch))
              .write.mode("append").parquet(statsPath)
            spark.createDataFrame(
              java.util.Collections.singletonList(
                org.apache.spark.sql.Row(nFresh, batchATok, bstat.get(2),
                  epoch)),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("n_docs",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("a_tok",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("dkey", dkeyType),
                org.apache.spark.sql.types.StructField("epoch",
                  org.apache.spark.sql.types.LongType, nullable = false))))
              .write.mode("append").parquet(corpusPath)
            newDl.write.mode("append").parquet(s"$dlBase/epoch=$epoch")
            snap
          }
        if (hasSegments(spark, dlBase)) {
          val (nTotal, aTokTotal) = corpusTotals(spark, registryPath)
          val mQ = depthFor(nTotal, docsPerSlot, mMin, quantizeDepth)
          val (builtM, retiredPrev): (Int, Long) =
            if (Merge.hasParquet(spark, metaPath)) {
              val r = spark.read.parquet(metaPath).head
              (r.getInt(0), r.getLong(2))
            } else (-1, 0L)
          val rebuilt = mQ > builtM || !Merge.hasParquet(spark, impactPath)
          // registry-shaped maintenance (rebuild window / merge + the
          // two swaps) under a loop-conf scope sized by the REGISTRY's
          // token mass — the rebuild's per-term window is registry-
          // proportional where the batch scope above is not
          graft.functions.Cols.withLoopConf(spark,
            graft.functions.Cols.loopParts(docsIn,
              math.max(aTokTotal, batchATok))) {
            if (rebuilt) rebuildIndex(spark, registryPath, mQ)
            else {
              val nIn = docsIn.select(col("doc")).distinct().count()
              val batchRows =
                if (nFresh == nIn && nFresh > 0)
                  // entirely-fresh batch — the STEADY STATE: the rows
                  // the merge needs are exactly the landed snapshot
                  // (the merge arm implies a standing impact/ artifact,
                  // which implies snapNeeded — the snapshot exists)
                  landed.get
                else
                  // recovery arm: some batch docs' rows live only in the
                  // registry — a crash between the appends and this swap
                  // or a source that re-delivers ingested docs.
                  // Batch-keyed registry join; impactIndexMerge's
                  // distinct keeps re-merged or replay-duplicated rows
                  // from double-counting toward m, which also heals the
                  // duplicate dl rows this join can fan out
                  postingsOf(spark, registryPath)
                    .join(docsIn.select(col("doc")).distinct(), Seq("doc"))
                    .join(dlOf(spark, registryPath), "doc")
                    .select(col("doc"), col("term"), col("tf"), col("dl"))
              Merge.replaceParquet(spark, impactPath,
                TermStats.impactIndexMerge(
                  spark.read.parquet(impactPath), batchRows, builtM))
            }
            writeMeta(spark, registryPath, math.max(mQ, builtM), nTotal,
              if (rebuilt) 0L else retiredPrev)
          }
        }
        landed.map(Landed(_, nFresh))
      } finally { newPost.unpersist(); newDl.unpersist(); () }
    } finally { docsIn.unpersist(); () }
  }

  /** Retention for the impact registry — the T4-style sliding-window
    * story the serve contract needs when the corpus is NOT append-only
    * (the reference retires witness edges older than 5 days,
    * `src/arango_queries.py:90-99`). Retires every epoch `< minEpoch` in
    * O(retired + delta-log) (see the section comment for why an epoch
    * cut never has to rewrite surviving bytes):
    *
    *  1. The DECISION — the accumulated retired-debt TOTAL after this
    *     cut (docs summed from the retired epochs' corpus delta rows —
    *     O(batches), never a registry scan — plus the standing
    *     `meta.n_retired`) and therefore whether the truncated index
    *     rebuilds — is computed BEFORE any mutation and recorded IN the
    *     intent marker: the corpus-log rewrite destroys the rows the
    *     increment was computed from AND the meta swap updates the
    *     standing debt, so a crashed retention's re-run must READ the
    *     recorded total, not recompute it from half-mutated state (an
    *     increment re-ADDED to an already-swapped meta would
    *     double-count). A re-run with a DIFFERENT cutoff while the
    *     marker is pending refuses (complete the recorded cut first,
    *     then retire further).
    *  2. Retired segment directories are deleted — O(retired) data, no
    *     surviving byte rewritten.
    *  3. stats/corpus keep only rows with `epoch >= minEpoch` — exact,
    *     because per-epoch deltas are additive and disjoint by `dkey`
    *     construction; df/n_docs/a_tok over survivors are the retained
    *     corpus's true stats with NO re-derivation from postings.
    *  4. impact/ rebuilds from the surviving segments (depth
    *     recalibrated to the live count) only when the ACCUMULATED
    *     retired share crosses `rebuildSharePm` (ppm) — until then the
    *     standing index serves with ≤ share of its slots wasted on
    *     retired entries (correct, dl-inner-join argument; recall floor
    *     ≥ recall(m·(1−share))) and `meta.n_retired` carries the debt.
    *     Subsequent [[impactBatchIngest]] folds resume the monotone
    *     merge from the retained base.
    *
    * Enforced crash contract (ADVICE r18): the marker
    * (`retain_intent`) is written before the first mutation and removed
    * after the last swap; while present, [[impactBatchIngest]] refuses
    * (a half-retained registry's stale deltas would read as
    * forever-pending rows once new batches resume) and
    * [[impactIndexStats]] warns; the op is idempotent under re-run
    * (recorded decision + already-deleted dirs + filter no-ops).
    */
  def retainImpactRegistry(spark: SparkSession, registryPath: String,
                           minEpoch: Long, rebuildSharePm: Long = 250000L,
                           mMin: Int = 64,
                           quantizeDepth: Boolean = true): Unit = {
    require(rebuildSharePm >= 0 && rebuildSharePm <= 1000000L,
      s"rebuildSharePm must be in [0, 1e6], got $rebuildSharePm")
    val dlBase = s"$registryPath/dl"
    val corpusPath = s"$registryPath/corpus"
    val metaPath = s"$registryPath/meta"
    healRegistry(spark, registryPath,
      "stats", "corpus", "impact", "meta", "stats_serve")
    val marker = new Path(s"$registryPath/retain_intent")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resume-or-begin: parse a recorded decision if one is pending; an
    // empty/foreign marker falls through to a fresh decision — the
    // conservative arm below recomputes from the CURRENT state, which
    // can only under-count the retired debt, never corrupt
    val recorded: Option[(Long, Long)] = readMarker(fs, marker)
      .flatMap(_.split("\\s+") match {
        case Array(e, r) => scala.util.Try((e.toLong, r.toLong)).toOption
        case _ => None
      })
    recorded.filter(_._1 != minEpoch).foreach { case (e, _) =>
      throw new IllegalStateException(s"retainImpactRegistry: " +
        s"$registryPath has an incomplete retention at cutoff $e — " +
        s"re-run with minEpoch=$e to complete it before retiring to " +
        s"$minEpoch")
    }
    // the marker records the post-cut debt TOTAL (prev meta debt + this
    // cut's increment), both read pre-mutation: a re-run lands on the
    // same total no matter which mutation the crash interrupted —
    // re-adding an increment after the meta swap would double-count
    val retiredTotal = recorded.map(_._2).getOrElse {
      val retiredNew =
        if (!Merge.hasParquet(spark, corpusPath)) 0L
        else {
          val r = spark.read.parquet(corpusPath).distinct()
            .filter(col("epoch") < minEpoch).agg(sum(col("n_docs"))).head
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      val retiredPrev =
        if (Merge.hasParquet(spark, metaPath))
          spark.read.parquet(metaPath).head.getLong(2)
        else 0L
      retiredPrev + retiredNew
    }
    if (recorded.isEmpty) writeMarker(fs, marker, s"$minEpoch $retiredTotal")
    // mutations — each idempotent under re-run. stats_serve FIRST: its
    // pre-aggregated rows can't be epoch-filtered, so the rollup is
    // dropped (next compaction rebuilds it from the filtered log) —
    // deleted before the log filters so a crash between them leaves the
    // serve on the log alone, never on a stale retired-inclusive rollup
    fs.delete(new Path(s"$registryPath/stats_serve"), true)
    for (base <- Seq(s"$registryPath/postings", dlBase);
         e <- segmentEpochs(spark, base) if e < minEpoch)
      fs.delete(new Path(s"$base/epoch=$e"), true)
    for (p <- Seq(s"$registryPath/stats", corpusPath)
         if Merge.hasParquet(spark, p))
      Merge.replaceParquet(spark, p,
        spark.read.parquet(p).filter(col("epoch") >= minEpoch))
    if (!hasSegments(spark, dlBase)) {
      // everything retired: the registry is empty — drop the snapshot
      // artifacts so the next ingest starts a first build. compact_mark
      // goes too: a from-scratch restart may legally reuse low epoch
      // numbers, which a stale mark would make compaction skip forever
      for (sub <- Seq("impact", "meta", "compact_mark"))
        fs.delete(new Path(s"$registryPath/$sub"), true)
    } else {
      val (live, liveATok) = corpusTotals(spark, registryPath)
      val (mBuilt, nAtBuild): (Int, Long) =
        if (Merge.hasParquet(spark, metaPath)) {
          val r = spark.read.parquet(metaPath).head
          (r.getInt(0), r.getLong(1))
        } else (-1, 0L)
      val rebuild = mBuilt < 0 ||
        !Merge.hasParquet(spark, s"$registryPath/impact") ||
        retiredTotal * 1000000L >= rebuildSharePm * (retiredTotal + live)
      if (rebuild) {
        val mQ = depthFor(live, graft.operators.TermStats.DocsPerSlot, mMin,
          quantizeDepth)
        // registry-sized loop-conf scope: the per-term window is
        // proportional to the SURVIVING segments, and the mass is
        // already in hand
        graft.functions.Cols.withLoopConf(spark,
          graft.functions.Cols.loopParts(
            spark.range(1).toDF("i"), liveATok)) {
          rebuildIndex(spark, registryPath, mQ)
          writeMeta(spark, registryPath, mQ, live, 0L)
        }
      } else writeMeta(spark, registryPath, mBuilt, nAtBuild, retiredTotal)
    }
    // last: only a COMPLETED retention clears the marker
    fs.delete(marker, false)
    ()
  }

  /** The impact registry's COMPACTION — the LSM fold the crash contract
    * defers to: per-SEGMENT distinct rewrites of postings/dl (each
    * segment swaps independently — a compaction never merges epochs, or
    * retention's directory drops would stop being exact) and the
    * stats/corpus delta-log fold grouped PER EPOCH: durable deltas
    * (their `dkey` is in the dl doc set) and previously folded rows
    * (`dkey` null) collapse into one row per (term, epoch) / per epoch,
    * while deltas of a crashed not-yet-durable batch are kept verbatim
    * so their replay still distinct-heals. Folded rows stay droppable by
    * a later epoch cut. Run on the fold cadence
    * ([[streamingImpactIndex]]'s `compactEvery` wires exactly that), not
    * per batch; never concurrently with a crashed batch's replay (the
    * stream's own cadence satisfies this: a restart replays the wedged
    * batch before any later batch can trigger a fold). The impact/ and
    * meta/ artifacts are untouched (recomputed snapshots, never
    * accumulating logs).
    *
    * Cost is O(current segment + delta-log), NOT O(registry): epochs
    * strictly below the newest are SEALED (the ingest's monotone-epoch
    * require refuses any further append, and a crashed batch replays
    * under its own epoch — which is then still the newest), so a sealed
    * segment that has been distinct-rewritten once is immutable and
    * duplicate-free forever. `compact_mark` records the highest sealed
    * epoch already compacted and segments at or below it are skipped;
    * the durable/pending discrimination of the delta-log fold reads dl
    * only for the epochs that still carry un-folded (dkey-keyed) rows —
    * a partition-pruned read of the recent segments, not the corpus.
    * Crash contract: the marker advances only AFTER every swap landed
    * (a crash mid-compaction re-compacts everything above the OLD mark
    * — idempotent, distinct of distinct); a torn/unparseable marker
    * reads as "nothing compacted" and degrades to the full rewrite.
    */
  def compactImpactRegistry(spark: SparkSession, registryPath: String)
      : Unit = {
    val dlBase = s"$registryPath/dl"
    healRegistry(spark, registryPath, "stats", "corpus", "stats_serve")
    val markP = new Path(s"$registryPath/compact_mark")
    val mfs = markP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mark: Long = readMarker(mfs, markP)
      .flatMap(t => scala.util.Try(t.toLong).toOption)
      .getOrElse(Long.MinValue)
    for (base <- Seq(s"$registryPath/postings", dlBase);
         e <- segmentEpochs(spark, base) if e > mark) {
      val p = s"$base/epoch=$e"
      if (Merge.hasParquet(spark, p))
        Merge.replaceParquet(spark, p, spark.read.parquet(p).distinct())
    }
    if (hasSegments(spark, dlBase)) {
      // dl read pruned to the epochs that still carry dkey-keyed rows:
      // a pending row's doc can only ever land in dl under the row's OWN
      // epoch (the replay contract — same batchId, same epoch), so the
      // membership check never needs the older segments. The collect is
      // bounded by the number of epochs touched since the last fold.
      def keyedEpochs(path: String): Seq[Long] =
        if (!Merge.hasParquet(spark, path)) Seq.empty
        else spark.read.parquet(path).filter(col("dkey").isNotNull)
          .select(col("epoch").cast("long")).distinct()
          .collect().toSeq.map(_.getLong(0))
      val recent = (keyedEpochs(s"$registryPath/stats") ++
        keyedEpochs(s"$registryPath/corpus")).distinct
      val durableKeys = spark.read.parquet(dlBase)
        .filter(col("epoch").cast("long").isin(recent: _*))
        .select(col("doc").as("dkey")).distinct()
      def fold(path: String, combine: DataFrame => DataFrame): Unit =
        if (Merge.hasParquet(spark, path)) {
          val deltas = spark.read.parquet(path).distinct()
          val dkeyType = deltas.schema("dkey").dataType
          val durable = deltas.filter(col("dkey").isNull).unionByName(
            deltas.filter(col("dkey").isNotNull)
              .join(durableKeys, Seq("dkey"), "left_semi"))
          val pending = deltas.filter(col("dkey").isNotNull)
            .join(durableKeys, Seq("dkey"), "left_anti")
          val folded = combine(durable)
            .withColumn("dkey", lit(null).cast(dkeyType))
            .select(deltas.columns.map(col).toSeq: _*)
          Merge.replaceParquet(spark, path, folded.unionByName(pending))
        }
      fold(s"$registryPath/stats",
        _.groupBy(col("term"), col("epoch")).agg(sum(col("df")).as("df")))
      fold(s"$registryPath/corpus",
        _.groupBy(col("epoch")).agg(sum(col("n_docs")).as("n_docs"),
          sum(col("a_tok")).as("a_tok")))
    }
    // materialize the serve-side df rollup of every SEALED epoch
    // (frozen forever — sealed epochs gain no rows and never transition
    // durable/pending), so impactIndexStats reads O(vocab) rows plus
    // only the log rows above the seal line instead of the full
    // vocab×epochs fold per serve. Written BEFORE the mark (a crash
    // between them leaves an older-ft rollup — still exact).
    val sealedTopOpt = segmentEpochs(spark, dlBase).lastOption.map(_ - 1L)
    for (sealedTop <- sealedTopOpt if sealedTop >= 0 &&
           Merge.hasParquet(spark, s"$registryPath/stats")) {
      Merge.replaceParquet(spark, s"$registryPath/stats_serve",
        spark.read.parquet(s"$registryPath/stats").distinct()
          .filter(col("epoch") <= sealedTop)
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .withColumn("folded_through", lit(sealedTop)))
    }
    // LAST: everything above the old mark is now distinct, so every
    // SEALED epoch (strictly below the newest — only the newest may
    // still receive appends) is compacted-forever; advance the mark
    sealedTopOpt.filter(_ > mark)
      .foreach(sealedTop => writeMarker(mfs, markP, sealedTop.toString))
  }

  /** Streaming maintenance of the impact-truncated BM25 serve index —
    * the incremental path the q203/q204 pruned serves imply: a
    * production deployment ingests documents continuously and must not
    * re-tokenize the corpus per refresh. Each micro-batch is one
    * [[impactBatchIngest]] fold (see there for the step list, costs, and
    * the crash contract) into the epoch `epochOf(batchId)` (a follower
    * deployment maps its epoch clock here; monotone by the ingest
    * contract; `_ => 0L` for a registry that is never retired).
    *
    * `compactEvery` gives the fold-cadence compaction an OWNER (the
    * Merge delta-log convention): every N batches the stream itself
    * runs [[compactImpactRegistry]], so crash-replay duplicates and
    * delta-log length stay bounded by the cadence instead of growing
    * with replay history until an operator remembers to fold. 0 = off
    * (the caller owns compaction — e.g. one fold per epoch from the
    * backfill driver). Safe at any cadence: compaction runs strictly
    * between batch folds on the stream's own thread, and a restart
    * replays a wedged batch before any later batch can trigger a fold.
    */
  def streamingImpactIndex(stream: DataFrame, checkpointDir: String,
                           registryPath: String, id: String, text: String,
                           epochOf: Long => Long,
                           docsPerSlot: Long = graft.operators.TermStats.DocsPerSlot,
                           mMin: Int = 64, compactEvery: Int = 0)
      : StreamingQuery =
    foldBatches(stream, checkpointDir) { (spark, batch, batchId) =>
      impactBatchIngest(spark, registryPath, batch, id, text,
        epochOf(batchId), docsPerSlot, mMin)
        .foreach(_.release()) // per-batch snapshot blocks must not outlive the fold
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
        compactImpactRegistry(spark, registryPath)
    }

  /** Incremental maintenance of the bucketed SERVING tables — the
    * standing-deployment form of [[publishImpactServeTables]] (VERDICT
    * r19 #2): that call is an O(registry) snapshot republication per
    * cadence, where a live stream should pay O(batch) per batch. Each
    * micro-batch here (1) folds into the registry's epoch 0 via
    * [[impactBatchIngest]] (unchanged crash contract), (2) APPENDS the
    * batch's landed postings/dl rows into the doc-bucketed catalog
    * tables — [[graft.sources.Bucketing.appendBucketed]] with the
    * matching spec, so the write-side shuffle is O(batch) and the
    * serve-side co-location is preserved — and (3) republishes the
    * term-bucketed `impact` table, a snapshot by design (m·|vocab|
    * rows, the bounded artifact truncation exists to produce).
    *
    * Exactly-once on the tables WITHOUT a marker: the rows appended are
    * the batch's docs ANTI-JOINED against the published dl table (the
    * published-doc set — the same role the registry's dl plays for
    * ingest). In the steady state those are exactly the rows the fold
    * just landed, handed back by [[impactBatchIngest]] as the
    * lineage-severed [[Landed]] snapshot — appended O(batch) with NO
    * registry scan; when the published set lags further (a crash between
    * the registry fold and the table appends), the rows are fetched
    * doc-keyed from the registry's live segments and footprint-distinct'd.
    * A replayed batch (or a source re-delivering published
    * docs) anti-joins away; a crash between the postings and dl appends
    * re-appends byte-identical postings rows on replay, which the
    * serve's footprint heal collapses (`TermStats.rescoreCandidates`)
    * and [[graft.sources.Bucketing.compactBucketed]] folds out on the
    * owner's cadence — the registry family's duplicate contract,
    * verbatim. A crash after the dl append but before the impact
    * republication leaves the impact table one batch stale; the serve
    * stays correct (candidates rescore against the published postings)
    * and the next landing batch republishes. The membership anti-join
    * reads the dl table — the SLIM per-doc frame, never postings — and
    * shuffles only the batch side.
    */
  def streamingImpactServePublish(stream: DataFrame, checkpointDir: String,
                                  registryPath: String, prefix: String,
                                  id: String, text: String,
                                  buckets: Int = 32, mMin: Int = 64,
                                  quantizeDepth: Boolean = true)
      : StreamingQuery = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    foldBatches(stream, checkpointDir) { (spark, batch, _) =>
      val landed = impactBatchIngest(spark, registryPath, batch, id, text,
        0L, mMin = mMin, quantizeDepth = quantizeDepth, needLanded = true)
      val postT = s"${prefix}_postings"
      val dlT = s"${prefix}_dl"
      val impT = s"${prefix}_impact"
      for (t <- Seq(postT, dlT, impT) if !spark.catalog.tableExists(t))
        clearStaleTable(spark, t)
      // eager checkpoint: cuts the dl TABLE read out of the lineage of
      // what gets appended back into that same table below
      val newDocs = {
        val batchDocs = batch.select(col(id).as("doc")).distinct()
        if (spark.catalog.tableExists(dlT))
          batchDocs.join(spark.table(dlT).select(col("doc")),
            Seq("doc"), "left_anti")
        else batchDocs
      }.localCheckpoint(true)
      val nNew = newDocs.count()
      if (nNew > 0 || !spark.catalog.tableExists(impT)) {
        // STEADY STATE: the docs to publish are exactly the docs this
        // fold landed — the published dl set only ever lags the
        // registry dl set (rows are published strictly after their
        // registry fold), so fresh ⊆ newDocs always, and equal COUNTS
        // mean equal SETS. Then the rows to append are the fold's own
        // landed snapshot (byte-identical to what a registry
        // extraction would return, already duplicate-free), O(batch)
        // with no registry scan. RECOVERY (a crash between the
        // registry fold and the table appends left newDocs ⊋ fresh):
        // fetch doc-keyed from the registry, footprint-distinct'd.
        // bucketBy writes one file per (task × bucket): the landed
        // snapshot keeps its fold-join partitioning, so appending it
        // raw would fan out P×buckets tiny files per batch and every
        // later table read (the serve, the membership anti-join) pays
        // the per-file open cost — repartitioning on the bucket key
        // lands each bucket in ONE task → ≤1 file per bucket per batch.
        val (posts, dls) = landed match {
          case Some(l) if l.nFresh == nNew =>
            (l.rows.select(col("doc"), col("term"), col("tf"))
              .repartition(buckets, col("doc")),
              bucketHealed(l.rows.select(col("doc"), col("dl")),
                buckets, "doc"))
          case _ =>
            (postingsOf(spark, registryPath)
              .join(broadcast(newDocs), Seq("doc")).distinct(),
              dlOf(spark, registryPath)
                .join(broadcast(newDocs), Seq("doc")).distinct())
        }
        // postings first, dl LAST — dl is the published-doc mark the
        // anti-join reads, so a torn append replays instead of losing
        graft.sources.Bucketing.appendBucketed(posts, postT, buckets, "doc")
        graft.sources.Bucketing.appendBucketed(dls, dlT, buckets, "doc")
        graft.sources.Bucketing.writeBucketed(
          impactIndexRegistry(spark, registryPath), impT, buckets, "term")
      }
      // per-batch checkpoint blocks (the landed snapshot and the
      // newDocs membership set) must not outlive the batch — a
      // standing stream would otherwise accumulate storage blocks
      landed.foreach(_.release())
      unpersistCheckpoint(newDocs)
    }
  }
}
