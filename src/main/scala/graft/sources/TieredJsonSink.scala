package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The TIERED form of the jsonlines sink — the 100 TB answer to the
  * measured fact in SCALE.md's connector section: a text sink's scan
  * ceiling is the JSON parser (~1 µs/row, measured alike on a row and a
  * columnar reader), so the lever at scale is not a faster reader but MIGRATING
  * SETTLED DATA TO PARQUET while appends stay cheap. This is the
  * log-structured layout every production table format uses (a write-
  * optimized tail + a read-optimized base, Delta/Iceberg in miniature),
  * built here from the pieces the engine already has:
  *
  *  - TAIL: plain `*.jsonl` data files in `dir`, written through the
  *    [[JsonLinesSource]] V2 connector — atomic visibility via its
  *    two-phase commit, concurrent-append safe, tailable by the
  *    micro-batch stream.
  *  - BASE: parquet under `dir/_base-<n>/` (hidden from the jsonl scan:
  *    directories, and `_`-prefixed). A base is COMMITTED by the
  *    presence of `_MANIFEST.json` inside it, which names the tail
  *    files it absorbed; the manifest file appears atomically (tmp +
  *    rename), so a half-written base is invisible.
  *  - READ = newest committed base ∪ tail files not in its manifest.
  *  - [[compact]] absorbs the tail into a NEW base (next index), commits
  *    it, then GC-deletes older bases and absorbed tail files. Every
  *    crash window leaves a readable snapshot: before the manifest the
  *    new base does not exist to readers; after it, absorbed tail files
  *    are excluded by name whether or not GC got to them. GC is
  *    idempotent — re-running compact finishes the sweep.
  *
  * Concurrency contract (documented, spec-pinned where testable):
  * concurrent APPENDS during a compaction are safe — the compaction
  * input is pinned by an `include` file list at scan planning, so a
  * file that lands mid-job is neither absorbed, manifested, nor swept,
  * and stays readable as tail. Concurrent COMPACTIONS are not supported
  * (single maintainer, the follower-driver regime), and compaction
  * must not run under a live tailer — the micro-batch stream's rule
  * ([[JsonLinesMicroBatchStream]] fails loudly if it does). A reader
  * that resolved a base just before a compaction GC'd it can fail
  * mid-job; the single-maintainer regime (reads and compaction driven
  * by the sink's owner) is the retention policy, as in the rest of the
  * driver family ([[graft.streaming.Incremental]]).
  *
  * Reference seam: the reference's sink is an external DB that compacts
  * internally (`src/arango_queries.py:211-258` bulk-imports and lets
  * ArangoDB manage storage); engine-side, this is the storage
  * management a file-backed sink needs to stay scannable.
  *
  * Log note: Spark's V1 `DataSource` WARNs "All paths were ignored"
  * when an EXPLICIT root path is `_`-prefixed (`_base-<n>`), then reads
  * it anyway — explicit roots are honored, the hidden-name filter only
  * applies to children. Benign; the `_` prefix is kept because it is
  * the Hadoop "not a data file" convention that hides the base from
  * any naive scan of the sink directory.
  */
object TieredJsonSink {

  private val BasePrefix = "_base-"
  private val ManifestName = "_MANIFEST.json"

  private def fs(dir: String): FileSystem =
    new Path(dir).getFileSystem(new Configuration())

  /** All `_base-<n>` dirs under `dir`, committed or not, by index. */
  private def baseDirs(fs: FileSystem, dir: String): Seq[(Long, Path)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BasePrefix))
      .flatMap { s =>
        s.getPath.getName.stripPrefix(BasePrefix).toLongOption.map(_ -> s.getPath)
      }
      .sortBy(_._1)
  }

  /** The newest COMMITTED base: highest index whose manifest exists.
    * Returns (index, path, absorbed tail-file names).
    */
  private def currentBase(fs: FileSystem, dir: String): Option[(Long, Path, Set[String])] =
    baseDirs(fs, dir).reverse.collectFirst {
      case (n, p) if fs.exists(new Path(p, ManifestName)) =>
        (n, p, readManifest(fs, new Path(p, ManifestName)))
    }

  private def readManifest(fs: FileSystem, p: Path): Set[String] = {
    val in = fs.open(p)
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
    val node = new ObjectMapper().readTree(bytes)
    val arr = node.get("absorbed")
    require(arr != null && arr.isArray, s"tiered sink: malformed manifest at $p")
    (0 until arr.size()).map(arr.get(_).asText()).toSet
  }

  private def writeManifest(fs: FileSystem, base: Path, absorbed: Set[String]): Unit = {
    val tmp = new Path(base, s".$ManifestName.tmp")
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      out.write(absorbed.toSeq.sorted
        .map(n => "\"" + JsonLinesSource.escape(n) + "\"")
        .mkString("{\"absorbed\":[", ",", "]}"))
    } finally out.close()
    val target = new Path(base, ManifestName)
    if (fs.exists(target)) fs.delete(target, false)
    require(fs.rename(tmp, target),
      s"tiered sink: manifest rename $tmp -> $target failed")
  }

  /** Append through the V2 connector (two-phase commit, atomic
    * visibility). The write schema must stay consistent across appends —
    * the declared-schema convention (S1) holds for the whole sink.
    */
  def append(df: DataFrame, dir: String): Unit =
    df.write.format("jsonlines").mode("append").save(dir)

  /** The tiered snapshot: newest committed parquet base ∪ jsonl tail
    * minus the base's absorbed files. Filters/pruning push into BOTH
    * branches — parquet natively, jsonl via the connector's pushdown.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    currentBase(fs(dir), dir) match {
      case Some((_, basePath, absorbed)) =>
        val base = spark.read.schema(schema).parquet(basePath.toString)
        val tailReader = spark.read.format("jsonlines").schema(schema)
        val tail = (if (absorbed.nonEmpty)
          tailReader.option("exclude", absorbed.toSeq.sorted.mkString(","))
        else tailReader).load(dir)
        base.unionByName(tail)
      case None =>
        spark.read.format("jsonlines").schema(schema).load(dir)
    }
  }

  /** Absorb the current tail into a new parquet base and GC the absorbed
    * pieces. Returns the number of rows in the committed base. No-op
    * (returning the current base count, -1 for an empty sink) when there
    * is nothing new to absorb.
    */
  def compact(spark: SparkSession, dir: String, schema: StructType): Long = {
    val hfs = fs(dir)
    val tailNames = JsonLinesSource.listDataFiles(dir)
      .map { case (f, _) => new Path(f).getName }
    val cur = currentBase(hfs, dir)
    val absorbed = cur.map(_._3).getOrElse(Set.empty)
    val fresh = tailNames.filterNot(absorbed.contains)
    if (fresh.isEmpty && cur.isEmpty) return -1L
    if (fresh.isEmpty) {
      // Nothing new: finish any interrupted GC and report the base size.
      val (idx, basePath, abs) = cur.get
      gc(hfs, dir, idx, abs)
      return spark.read.schema(schema).parquet(basePath.toString).count()
    }

    val freshDf = spark.read.format("jsonlines").schema(schema)
      .option("include", fresh.sorted.mkString(",")) // pin the input set
      .load(dir)
    val input = cur match {
      case Some((_, basePath, _)) =>
        spark.read.schema(schema).parquet(basePath.toString).unionByName(freshDf)
      case None => freshDf
    }
    val nextIdx = baseDirs(hfs, dir).lastOption.map(_._1 + 1).getOrElse(0L)
    val newBase = new Path(dir, s"$BasePrefix$nextIdx")
    // Overwrite: a crashed prior attempt at this index left a manifest-
    // less partial dir that readers never saw.
    input.write.mode("overwrite").parquet(newBase.toString)
    // The COMMIT POINT. absorbed' covers every pinned-and-read tail file
    // plus the prior base's claims that still sit on disk (interrupted
    // GC) — NOT files that appended mid-job: those stay live tail.
    writeManifest(hfs, newBase,
      (absorbed.toSeq ++ fresh).filter(tailNames.toSet.contains).toSet)
    gc(hfs, dir, nextIdx, readManifest(hfs, new Path(newBase, ManifestName)))
    spark.read.schema(schema).parquet(newBase.toString).count()
  }

  /** Idempotent sweep: older base dirs (committed or partial) and the
    * current base's absorbed tail files. Safe to re-run after any crash.
    */
  private def gc(fs: FileSystem, dir: String, currentIdx: Long,
                 absorbed: Set[String]): Unit = {
    baseDirs(fs, dir).foreach { case (n, p) =>
      if (n < currentIdx) fs.delete(p, true)
    }
    absorbed.foreach { name =>
      val p = new Path(dir, name)
      if (fs.exists(p)) fs.delete(p, false)
    }
  }
}
