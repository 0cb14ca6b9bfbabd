package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Keyed upsert — the engine's sink semantic (SURVEY.md §2.1 K1).
  *
  * The reference bulk-loads documents with
  * `importBulk(batch, onDuplicate='update'|'ignore')` (reference
  * `src/arango_queries.py:211-258`): `update` = incoming wins per `_key`,
  * `ignore` = existing wins. Expressed relationally this is
  * `MERGE INTO target USING incoming ON _key`; here it is a deterministic
  * union + precedence-window, which also subsumes the reference's
  * deprecated per-row AQL update path (`src/arango_queries.py:102-115` —
  * its own comments say "Faster to just import with onDuplicate").
  *
  * Scale note: one shuffle on `_key`. On a cluster against table storage
  * this maps 1:1 to Delta/Iceberg `MERGE` (which also shuffles on the merge
  * key); for an external KV sink it becomes `foreachPartition` with
  * per-partition connections (reference X3, `src/arango_queries.py:241-247`).
  */
object Merge {

  sealed trait OnDuplicate
  /** Incoming rows replace existing rows with the same key. */
  case object Update extends OnDuplicate
  /** Existing rows are kept; incoming rows only fill new keys. */
  case object Ignore extends OnDuplicate

  /** Merge `incoming` into `existing` on `key`. Both frames must share a
    * schema. Within `incoming`, later duplicates of the same key are
    * collapsed newest-wins by `tiebreak` before the merge (the reference
    * relies on load order for this; we make it explicit).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String,
             mode: OnDuplicate, tiebreak: String): DataFrame =
    upsert(existing, incoming, Seq(key), mode, tiebreak)

  /** Multi-column-key form of [[upsert]] — the merge key is the TUPLE
    * `keys`, never a string concatenation of it. Concat-built keys are a
    * silent-undercount trap: components drawn from free text can contain
    * the delimiter, so distinct tuples like ("x","y|z") and ("x|y","z")
    * collide and first-wins drops one row (the r15 advice finding against
    * the streaming association partials). The window partitions by the
    * columns themselves, which is also one fewer projection in the plan.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             mode: OnDuplicate, tiebreak: String): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val cols = existing.columns.toSeq
    require(incoming.columns.toSeq == cols, s"schema mismatch: $cols vs ${incoming.columns.toSeq}")
    val (pExisting, pIncoming) = mode match {
      case Update => (1, 0) // incoming wins
      case Ignore => (0, 1) // existing wins
    }
    // Collision-free precedence column (same rationale as Dedup.keepFirst).
    val pri = Iterator.from(0).map(i => s"__pri$i").find(!cols.contains(_)).get
    val unioned = existing.withColumn(pri, lit(pExisting))
      .unionByName(incoming.withColumn(pri, lit(pIncoming)))
    Dedup.keepFirst(unioned, keys.map(col),
        Seq(col(pri).asc, col(tiebreak).desc))
      .drop(pri)
  }

  /** K3 incremental array append — the reference's
    * `upsert … update {daily_balances: append(OLD.daily_balances, new)}`
    * (`src/arango_queries.py:77-87`), done set-correctly: union both sides,
    * newest-wins per (doc, element key) with incoming taking precedence (so
    * replaying a window never duplicates a day), series rebuilt ordered by
    * element key.
    *
    * Plan shape: explode each side with a (precedence, position) tag, ONE
    * explicit shuffle on the doc key; the per-(doc, elemKey) dedup window is
    * satisfied by that partitioning (clustering by a superset of the hash
    * key) and the re-collect groupBy reuses it too — exactly one exchange,
    * all row-local work linear and codegen'd. The previous form filtered
    * the concatenated array with an interpreted `filter(…, exists(slice))`
    * lambda pair — O(n²) per document, quadratic in years of daily history.
    *
    * Frames carry (key, series: array&lt;struct&gt;); `elemKey` names the
    * struct field that identifies an element (e.g. "date"). Null elements
    * inside a series are dropped (collect_list skips them).
    */
  def appendSeries(existing: DataFrame, incoming: DataFrame, key: String,
                   series: String, elemKey: String): DataFrame = {
    // catalogString ignores nullability flags — replaying this operator's
    // own output (containsNull=false) against fresh input must not trip it
    require(incoming.schema(series).dataType.catalogString ==
        existing.schema(series).dataType.catalogString,
      s"series type mismatch: ${existing.schema(series).dataType} vs ${incoming.schema(series).dataType}")
    // pri 0 = incoming (wins), 1 = existing; pos = position within the
    // array, so duplicates WITHIN a side resolve to the earliest entry —
    // the same winner the old (new ++ old) first-occurrence scan picked.
    def side(df: DataFrame, pri: Int) = df.select(col(key), lit(pri).as("__pri"),
      posexplode_outer(col(series)).as(Seq("__pos", "__elem")))
    val exploded = side(incoming, 0).unionByName(side(existing, 1))
      .repartition(col(key))
    // Window clustering (key, elemKey) is satisfied by the hash partitioning
    // on key alone — no second exchange. The explode_outer null-element row
    // (empty side) forms its own (key, null) group and is skipped by
    // collect_list, so empty-series docs still surface with [].
    Dedup.keepFirst(exploded, Seq(col(key), col("__elem").getField(elemKey)),
        Seq(col("__pri").asc, col("__pos").asc))
      .groupBy(col(key))
      // rebuild ordered BY THE ELEMENT KEY, not by the struct's field
      // declaration order: sort_array on the bare struct compares
      // field-by-field, which only matches the documented key order when
      // elemKey happens to be the first field — so sort keyed pairs and
      // strip the key (elemKey is unique per doc after the dedup above,
      // making the order total)
      .agg(transform(
        sort_array(collect_list(
          struct(col("__elem").getField(elemKey).as("k"),
            col("__elem").as("e")))),
        x => x.getField("e")).as(series))
  }

  /** Filtered delete (K2) — the witness retention window (reference
    * `src/arango_queries.py:90-99`): keep rows where `time >= cutoff`.
    * On table storage this is `DELETE WHERE`; as a transform it is a
    * filter-on-write.
    */
  def retain(df: DataFrame, time: String, cutoff: Long): DataFrame =
    df.filter(col(time) >= cutoff)

  /** Materialized upsert against a parquet path (stand-in for a Delta /
    * Iceberg MERGE, which is the production answer on a real cluster —
    * same shuffle-on-key cost class). Storage-agnostic: existence checks
    * and the commit go through Hadoop `FileSystem`, so HDFS/S3A paths work,
    * and the merged result is written to a temp path then swapped in — the
    * previous state is never destroyed before the new state is fully
    * written (rename is atomic on HDFS/posix; on S3A the window is the
    * rename, still strictly safer than overwrite-in-place).
    */
  def upsertParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                    incoming: DataFrame, key: String, mode: OnDuplicate,
                    tiebreak: String): Unit =
    upsertParquet(spark, path, incoming, Seq(key), mode, tiebreak)

  /** Multi-column-key form of [[upsertParquet]] (see the tuple-key
    * [[upsert]] rationale — never concat a composite key).
    */
  def upsertParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                    incoming: DataFrame, keys: Seq[String], mode: OnDuplicate,
                    tiebreak: String): Unit = {
    require(keys.nonEmpty, "upsertParquet needs at least one key column")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Heal BEFORE the fresh-vs-merge decision, not only inside commitSwap:
    // on a torn swap target (absent, with a restorable sibling) the exists
    // check below would otherwise pick the fresh branch, build
    // merged=incoming-only, and the late heal inside commitSwap would
    // restore the accumulated state only for the swap to rename it aside
    // and DELETE it — permanent loss for every upsertParquet-backed
    // registry (ADVICE r19). Same entry-heal pattern impactBatchIngest
    // and upsertPartitionedByHeight use.
    healSwapPath(fs, hPath)
    val merged =
      if (fs.exists(hPath))
        upsert(spark.read.parquet(path), incoming, keys, mode, tiebreak)
      else Dedup.keepFirst(incoming, keys.map(col), Seq(col(tiebreak).desc))
    commitSwap(fs, hPath, merged)
  }

  /** Replace the parquet at `path` with `df` wholesale via the
    * [[commitSwap]] discipline — for MUTATING registries (incremental CC
    * labels move on merge; an upsert can only add/replace keyed rows,
    * not express a snapshot whose rows all changed). Safe when `df`'s
    * lineage READS the current `path`: the new state materializes fully
    * into a temp dir before the old files move.
    */
  def replaceParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     df: DataFrame): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    commitSwap(hPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      hPath, df)
  }

  /** Write `merged` to a temp path and swap it into `target` — the
    * previous state is never destroyed before the new state is fully
    * written (rename is atomic on HDFS/posix; on S3A the window is the
    * rename, still strictly safer than overwrite-in-place).
    *
    * The two renames are NOT one atomic step: a crash between
    * `rename(target, old)` and `rename(tmp, target)` leaves the target
    * absent with both siblings on disk. For recomputed snapshots that
    * self-heals (the next swap rewrites them), but for ACCUMULATING
    * delta logs a vanished target is silently recreated batch-only by
    * the next append and every reader undercounts from then on (ADVICE
    * r18). So the torn state is REPAIRED, not tolerated: [[healSwap]]
    * runs at swap entry here, and registry maintainers/readers call it
    * on their artifacts at entry.
    */
  private def commitSwap(fs: org.apache.hadoop.fs.FileSystem,
                         target: org.apache.hadoop.fs.Path,
                         merged: DataFrame): Unit = {
    healSwapPath(fs, target)
    val tmp = new org.apache.hadoop.fs.Path(s"$target.tmp-" + java.util.UUID.randomUUID())
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    warnIfNoSuccessMarker(fs, tmp, target)
    val old = new org.apache.hadoop.fs.Path(s"$target.old-" + java.util.UUID.randomUUID())
    if (fs.exists(target)) fs.rename(target, old)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"commitSwap: rename failed for $target")
    fs.delete(old, true)
  }

  /** healSwap's complete-tmp detection keys on the `_SUCCESS` marker,
    * which the committer only writes when
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` (commonly
    * DISABLED with S3A/cloud committers). Verified at swap time: without
    * the marker a crash between the renames would make [[healSwap]]
    * treat the COMMITTED tmp as torn and restore the older `.old` state
    * — consistent but state-regressing (ADVICE r19). Package-visible so
    * the spec can pin the warning without mutating the shared session's
    * committer conf.
    */
  private[operators] def warnIfNoSuccessMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Unit =
    if (!fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      graft.Log.warn(s"commitSwap: committed tmp for $target carries no " +
        "_SUCCESS marker (mapreduce.fileoutputcommitter.marksuccessfuljobs " +
        "is off?) — a crash between the swap renames will heal to the " +
        "PRE-swap state instead of finishing this swap")

  /** Repair a torn [[commitSwap]]: if `path` is absent but a swap
    * sibling survives, restore the best one — a COMPLETE `.tmp-*`
    * (carrying the `_SUCCESS` marker the committed write leaves; its
    * presence means the crash hit between the two renames, so finishing
    * the swap lands the INTENDED new state) wins over the renamed-aside
    * `.old-*` (the pre-swap state — correct fallback when the tmp never
    * finished). Leftover siblings are then deleted. When the target is
    * intact, any surviving siblings are swept as crash garbage (returns
    * false — nothing was restored). Single-writer discipline assumed,
    * like every swap in this family: only MAINTAINERS call this (and
    * [[commitSwap]] itself at entry); the read path must not, or a
    * reader racing a writer's rename pair could steal its siblings.
    *
    * CONTRACT: complete-tmp detection requires the job-success marker
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=true`, the Hadoop
    * default — commonly DISABLED on S3A/cloud committers). Without it a
    * fully-committed tmp is indistinguishable from a torn one and the
    * heal falls back to the `.old` pre-swap state: consistent, never
    * corrupt, but the committed swap is silently lost. [[commitSwap]]
    * verifies the marker at swap time and warns through [[graft.Log]]
    * when a deployment has it off.
    */
  def healSwap(spark: org.apache.spark.sql.SparkSession,
               path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    healSwapPath(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
  }

  private def healSwapPath(fs: org.apache.hadoop.fs.FileSystem,
                           target: org.apache.hadoop.fs.Path): Boolean = {
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return false
    val name = target.getName
    val strays = fs.listStatus(parent).filter { s =>
      val n = s.getPath.getName
      n.startsWith(name + ".tmp-") || n.startsWith(name + ".old-")
    }
    if (fs.exists(target)) {
      // target intact: the strays are garbage from prior crashes (an
      // unfinished tmp, or an old whose delete never ran) — sweep them,
      // or each crash leaks a registry-sized directory forever AND a
      // stale complete tmp stays a candidate for a future heal to
      // wrongly resurrect. Safe under the single-writer discipline this
      // whole family assumes (no concurrent swap's live tmp can be here).
      strays.map(_.getPath).foreach(fs.delete(_, true))
      return false
    }
    if (strays.isEmpty) return false
    val completeTmps = strays.filter { s =>
      s.getPath.getName.startsWith(name + ".tmp-") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS"))
    }
    val olds = strays.filter(_.getPath.getName.startsWith(name + ".old-"))
    val pick =
      if (completeTmps.nonEmpty)
        Some(completeTmps.maxBy(_.getModificationTime).getPath)
      else if (olds.nonEmpty) Some(olds.maxBy(_.getModificationTime).getPath)
      else None
    pick match {
      case Some(p) =>
        if (!fs.rename(p, target))
          throw new java.io.IOException(s"healSwap: rename failed for $target")
        graft.Log.warn(s"healSwap: restored torn swap target $target from " +
          s"${p.getName} (crash between commitSwap renames)")
        strays.map(_.getPath).filter(_ != p).foreach(fs.delete(_, true))
        true
      case None => false
    }
  }

  /** True when `path` holds at least one parquet part file — the one
    * "has this registry committed anything" test. A bare directory, or
    * one holding only a `_SUCCESS` marker, reads as absent.
    */
  private[graft] def hasParquet(spark: org.apache.spark.sql.SparkSession,
                                path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
  }

  /** A zero-row frame of exactly `fields`. */
  private[graft] def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                                fields: StructField*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))

  /** The streaming maintainers' one registry reader: `path` projected to
    * `fields`, or an empty frame of that schema before the first commit.
    * It heals a torn swap FIRST — the [[upsertParquet]] entry-heal rule
    * (ADVICE r19) for every swap-backed or compacted registry. After a
    * crash between commitSwap's renames the target is absent; without
    * the heal the fold would run against an empty registry, and its own
    * swap would then restore the accumulated state only to delete it.
    * Maintainer-only, per [[healSwap]]'s single-writer contract: serve
    * readers read the path directly.
    */
  private[graft] def readRegistry(spark: org.apache.spark.sql.SparkSession,
                                  path: String, fields: StructField*): DataFrame = {
    healSwap(spark, path)
    if (hasParquet(spark, path))
      spark.read.parquet(path).select(fields.map(f => col(f.name)): _*)
    else emptyFrame(spark, fields: _*)
  }

  // -------------------------------------------------------------------
  // Delta-log upserts — the LSM answer to "every chunk rewrites the whole
  // sink". A chunked backfill calling [[upsertParquet]] per chunk pays
  // O(sink) per chunk (O(chunks · sink) per epoch — the quadratic wall
  // SCALE.md's sink section documents); appending each chunk as a DELTA
  // and folding ONCE per epoch pays O(chunk) per chunk + one O(sink)
  // fold. This is precisely the shape of a table-format transaction log
  // (Delta/Iceberg append + periodic compaction), expressed on plain
  // parquet; the fold's precedence rules reproduce sequential
  // [[upsertParquet]] applications EXACTLY (MergeSpec pins the
  // equivalence), so readers of the finalized sink see identical state.
  // -------------------------------------------------------------------

  /** Height-partitioned dynamic-overwrite sink — the STEADY-STATE form,
    * for collections whose keys are HEIGHT-LOCAL (each document derives
    * from rows of one source chunk, so a key can only ever live in its
    * own height range — true for every content-keyed dynamic collection:
    * the key embeds the row identity). Rows land in `__hb = height div
    * bucketWidth` partitions; the write first MERGES the buckets the
    * chunk touches (a partition-PRUNED read — chunk boundaries rarely
    * align with bucket boundaries, and a raw dynamic overwrite would
    * silently wipe a partially-covered bucket's earlier rows) and then
    * dynamically overwrites exactly those buckets. Per-chunk cost is
    * O(chunk + the ≤ chunk/bucketWidth + 2 touched buckets) — NEVER the
    * sink size, so the delta-log's one remaining O(sink) epoch fold
    * disappears; untouched partitions are not even read (IncrementalSpec
    * pins their files byte-for-byte across epochs). Replay idempotence:
    * re-processing a chunk finds its own rows in `existing` and
    * first-write-wins keeps them — same end state (T6).
    */
  def upsertPartitionedByHeight(spark: org.apache.spark.sql.SparkSession,
                                path: String, incoming: DataFrame,
                                key: String, mode: OnDuplicate,
                                tiebreak: String,
                                heightCol: String, bucketWidth: Long): Unit = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(!incoming.columns.contains("__hb"),
      "incoming already has a __hb column — alias it away first")
    // the incoming-side dedup happens inside upsert's precedence window
    // when a sink exists (doing it here too would be a redundant extra
    // shuffle — the upsertParquet rationale); only the fresh-sink branch
    // needs its own collapse. The pipeline feeds TWO actions (the
    // touched-bucket collect and the write), so it is persisted for the
    // duration of this call.
    val withB = incoming
      .withColumn("__hb", expr(s"$heightCol div ${bucketWidth}L"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the chunk's bucket ids: a bounded tiny set (≤ chunk/bucketWidth + 2)
      // — collected so the existing-side read is a STATIC partition-pruned
      // scan (an isin filter on the partition column), not a join
      val touched = withB.select("__hb").distinct()
        .collect().map(_.getLong(0)).sorted
      // the whole point is a HANDFUL of buckets per chunk (bucketWidth of
      // the same order as the chunk's height span). Thousands means the
      // width is mis-sized: the isin prune, the per-bucket renames, and
      // real-filesystem listing all degrade — fail loudly instead.
      require(touched.length <= 1024,
        s"chunk touches ${touched.length} height buckets — bucketWidth " +
          s"$bucketWidth is far below the chunk's height span; size it near " +
          s"the chunk size")
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Heal torn per-bucket swaps from a crashed predecessor BEFORE
      // reading the existing side: a missing `__hb=b` with a surviving
      // `.old-$b-*` sibling is the window between the two renames below —
      // without the restore, the replay's isin read finds no bucket-b
      // rows and the re-merge silently drops every earlier chunk's rows
      // in that bucket (the 'loses no earlier rows' claim would be a
      // lie). Stale `.old` siblings of intact buckets and torn `.tmp-*`
      // layouts are crash garbage, swept. Single-writer discipline, like
      // every swap in this family.
      val parentDir = hPath.getParent
      if (parentDir != null && fs.exists(parentDir)) {
        val name = hPath.getName
        val oldPat = (java.util.regex.Pattern.quote(name) +
          "\\.old-(\\d+)-.*").r
        fs.listStatus(parentDir)
          .filter { s =>
            val n = s.getPath.getName
            n.startsWith(name + ".old-") || n.startsWith(name + ".tmp-")
          }
          .foreach { s =>
            s.getPath.getName match {
              case oldPat(b) if fs.exists(hPath) &&
                  !fs.exists(new org.apache.hadoop.fs.Path(hPath, s"__hb=$b")) =>
                if (!fs.rename(s.getPath,
                    new org.apache.hadoop.fs.Path(hPath, s"__hb=$b")))
                  throw new java.io.IOException(
                    s"upsertPartitionedByHeight: heal rename failed for bucket $b")
                graft.Log.warn(s"upsertPartitionedByHeight: restored torn " +
                  s"bucket __hb=$b at $path from ${s.getPath.getName}")
              case _ => fs.delete(s.getPath, true); ()
            }
          }
      }
      // an empty base dir (a crash between mkdirs and the first rename)
      // must not count as an existing sink — parquet schema inference
      // would fail on it forever
      val baseExists = fs.exists(hPath) && fs.listStatus(hPath).nonEmpty
      val merged =
        if (baseExists) {
          // User-specified schema: partition-column TYPE INFERENCE would
          // read `__hb` back as IntegerType while the incoming side
          // computes LongType — the isin prune then compares through a
          // cast of the partition column and static pruning rests on
          // UnwrapCastInBinaryComparison firing (fragile across Spark
          // versions; a miss means a full-sink scan, defeating the
          // O(chunk) contract). Passing the incoming schema makes `__hb`
          // long at the source: the prune is a bare In on the partition
          // column (pinned in MergeSpec's plan test).
          val existing = spark.read.schema(withB.schema).parquet(path)
            .filter(col("__hb").isin(touched.toIndexedSeq: _*))
            .select(withB.columns.toIndexedSeq.map(col): _*) // align column order for union
          upsert(existing, withB, key, mode, tiebreak)
        } else Dedup.keepFirst(withB, Seq(col(key)), Seq(col(tiebreak).desc))
      // Write the merged buckets to a sibling temp layout, then swap ONLY
      // the touched partition dirs into place — Spark forbids overwriting
      // a path it is reading (self-overwrite), and a raw dynamic overwrite
      // would race the read anyway. Per bucket the swap follows
      // commitSwap's ordering (old renamed ASIDE first, deleted only once
      // the new state is in): a crash window loses no earlier rows —
      // BECAUSE the entry heal above restores a renamed-aside bucket
      // before the next epoch's read, not by the rename pair alone. A
      // touched bucket whose merged output vanished entirely means the
      // height-locality contract was violated (keys roamed buckets under
      // Update) — fail loudly rather than silently emptying it.
      val tmp = new org.apache.hadoop.fs.Path(path + ".tmp-" + java.util.UUID.randomUUID())
      merged.write.partitionBy("__hb").parquet(tmp.toString)
      fs.mkdirs(hPath)
      touched.foreach { b =>
        val target = new org.apache.hadoop.fs.Path(hPath, s"__hb=$b")
        val source = new org.apache.hadoop.fs.Path(tmp, s"__hb=$b")
        if (!fs.exists(source)) {
          if (fs.exists(target))
            throw new java.io.IOException(
              s"upsertPartitionedByHeight: merged output for bucket $b is " +
                s"empty but the bucket holds rows — height-locality violated")
          // else: an all-duplicate incoming slice produced nothing new
        } else {
          val old = new org.apache.hadoop.fs.Path(
            path + s".old-$b-" + java.util.UUID.randomUUID())
          if (fs.exists(target)) fs.rename(target, old)
          if (!fs.rename(source, target))
            throw new java.io.IOException(
              s"upsertPartitionedByHeight: rename failed for bucket $b")
          fs.delete(old, true)
        }
      }
      fs.delete(tmp, true)
    } finally withB.unpersist()
  }

  private def deltasDir(path: String) = new org.apache.hadoop.fs.Path(path + ".deltas")

  /** Sorted pending delta dirs for `path` (empty when finalized). Only
    * COMMITTED deltas count: names must match `delta-<digits>` exactly
    * (matched on the dir NAME, never the full path — a sink path that
    * itself contains "delta-1" must not corrupt numbering), so a torn
    * append's `.tmp-*` dir is invisible to both numbering and the fold.
    */
  def pendingDeltas(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[String] = {
    val dir = deltasDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(s => s.getPath.getName.matches("delta-\\d+"))
      // NUMERIC order on the parsed index, not lexicographic on the
      // path: the %06d padding overflows at delta-1000000, and a
      // lexicographic sort would then replay it BEFORE delta-999999 —
      // under Update (latest wins) the older delta's rows would beat
      // the newer one's
      .sortBy(_.getPath.getName.stripPrefix("delta-").toLong)
      .map(_.getPath.toString).toSeq
  }

  /** Append one chunk as the next delta — O(chunk) I/O, no read of the
    * existing sink. Write order IS the precedence order ([[finalizeDeltas]]
    * replays deltas in sequence), matching the sequential-upsert contract.
    * The driver's chunk loop is sequential by construction, so the
    * max+1 numbering never races. The write lands in a `.tmp-*` dir and
    * is RENAMED into its delta name: a crash mid-write leaves only the
    * ignored tmp dir, never a torn `delta-N` that would wedge every
    * subsequent [[finalizeDeltas]] on a corrupt footer.
    */
  def appendDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                  incoming: DataFrame): Unit = {
    val next = pendingDeltas(spark, path)
      .flatMap(p => "delta-(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toLong))
      .foldLeft(0L)(math.max) + 1
    val dir = deltasDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      ".tmp-" + java.util.UUID.randomUUID())
    incoming.write.mode(SaveMode.ErrorIfExists).parquet(tmp.toString)
    val target = new org.apache.hadoop.fs.Path(dir, f"delta-$next%06d")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"appendDelta: commit rename failed for $target")
  }

  /** Fold all pending deltas (and the existing base, if any) into the
    * base at `path`, then clear the delta dir. Precedence reproduces
    * applying [[upsertParquet]] per delta in append order:
    * `Ignore` → earliest write wins (base, then delta 1, 2, …);
    * `Update` → latest write wins. Within one delta, newest-wins by
    * `tiebreak` (the same collapse `upsert` applies to its incoming).
    * No-op when no deltas are pending. Crash-safety: a crash before the
    * final swap leaves base + deltas intact — re-running finalize (or the
    * epoch that feeds it) converges to the same state, because replayed
    * chunks resolve identically under the precedence rules.
    */
  def finalizeDeltas(spark: org.apache.spark.sql.SparkSession, path: String,
                     key: String, mode: OnDuplicate, tiebreak: String): Unit = {
    val deltas = pendingDeltas(spark, path)
    if (deltas.isEmpty) return
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    commitSwap(fs, hPath, mergedView(spark, path, deltas, key, mode, tiebreak))
    fs.delete(deltasDir(path), true)
  }

  /** The CURRENT logical state of a delta-log sink — base + pending
    * deltas resolved with [[finalizeDeltas]]'s exact precedence, WITHOUT
    * writing anything. This is the between-folds read view: a follower
    * that appends deltas and compacts on a threshold serves reads from
    * here (the transaction-log read path). Falls back to the plain base
    * read when no deltas are pending.
    *
    * Consistency contract: the returned frame is LAZY and references the
    * delta/base files it listed — a [[finalizeDeltas]] running while the
    * read executes deletes those paths out from under it (the same
    * non-transactional-parquet caveat as reading during
    * [[upsertParquet]]'s swap). Quiesce compaction around long reads, or
    * collect/checkpoint promptly; plain parquet has no snapshot
    * isolation to offer — that is Delta/Iceberg's job, and the swap
    * point SCALE.md documents. The sink must have at least one committed
    * write (append or fold).
    */
  def readMerged(spark: org.apache.spark.sql.SparkSession, path: String,
                 key: String, mode: OnDuplicate, tiebreak: String): DataFrame = {
    val deltas = pendingDeltas(spark, path)
    if (deltas.nonEmpty) mergedView(spark, path, deltas, key, mode, tiebreak)
    else {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hPath))
        throw new IllegalStateException(
          s"readMerged: $path has no base and no pending deltas — nothing " +
            s"has been committed to this sink yet")
      spark.read.parquet(path)
    }
  }

  private def mergedView(spark: org.apache.spark.sql.SparkSession,
                         path: String, deltas: Seq[String], key: String,
                         mode: OnDuplicate, tiebreak: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bare = (if (fs.exists(hPath)) Seq(spark.read.parquet(path)) else Nil) ++
      deltas.map(spark.read.parquet(_))
    // collision-free sequence column (same rationale as upsert's __pri):
    // a sink column literally named __delta_seq must not get clobbered.
    val seqName = Iterator.from(0).map(i => s"__delta_seq$i")
      .find(n => !bare.head.columns.contains(n)).get
    val frames = bare.zipWithIndex.map { case (df, i) =>
      // base (when present) is index 0 = oldest; deltas follow in order
      df.withColumn(seqName, lit(if (fs.exists(hPath)) i.toLong else i + 1L))
    }
    val seqOrder = mode match {
      case Ignore => col(seqName).asc  // earliest write wins
      case Update => col(seqName).desc // latest write wins
    }
    Dedup.keepFirst(frames.reduce(_ unionByName _),
        Seq(col(key)), Seq(seqOrder, col(tiebreak).desc))
      .drop(seqName)
  }
}
