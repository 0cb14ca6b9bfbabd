package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference scans Postgres via ORM (reference
  * `src/blockchain_queries.py:74,93,137-139,197,235,293-296`); here the
  * source is parquet and the analog of its hand-rolled OFFSET/LIMIT and
  * keyset pagination (`src/blockchain_queries.py:53-69,195-216`) is simply
  * Spark's partitioned columnar scan — filters and projections declared on
  * the DataFrame reach the scan via Catalyst pushdown, so none of the
  * client-side pagination machinery is reproduced.
  *
  * Schema memo. The reference declares its table schemas once
  * (`src/blockchain_tables.py`); a bare `spark.read.parquet` instead
  * infers the schema from the footers on every open, one Spark job each
  * time. Every reader here goes through [[read]], which keeps one entry
  * per qualified table path: the table's recursive file listing (path,
  * length, modification time of each file), the session confs that steer
  * parquet schema inference ([[inferenceConfs]]), and the schema inferred
  * under them. An open whose listing and confs equal the entry's passes
  * the schema in and runs no job; any other open infers as Spark does and
  * replaces the entry. A rewrite at the same path writes new part files,
  * so the listing changes and a stale schema is never served. The memo
  * holds no data, only catalog metadata (like Spark's codegen cache), so
  * [[graft.Caches.clearAll]] leaves it alone.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // Older driver generations store events.ts as parquet
      // TIMESTAMP(NANOS); read those as long (ns since epoch).
      // Runtime-settable; also set in GraftSession for sessions we build.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeEventTs(read(spark, s"$sfDir/$name.parquet"))
    } else read(spark, s"$sfDir/$name.parquet")
  }

  /** The session confs whose values change the schema parquet inference
    * returns for the same files.
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class Memo(files: Seq[(String, Long, Long)],
                                confs: Seq[Option[String]], schema: StructType)

  /** Qualified table path → [[Memo]]. Concurrent: `Driver` opens tables
    * from `source`/`extract` closures on worker threads.
    */
  private val memo = new ConcurrentHashMap[String, Memo]()

  /** The one parquet reader: `spark.read.parquet(path)` with the schema
    * from [[memo]] when the table's files and the inference confs are
    * unchanged since it was inferred (see the object doc).
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    // a missing path lists as empty and misses, so the read fails as Spark's does
    val files = if (!fs.exists(p)) Seq.empty else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
    }
    val confs = inferenceConfs.map(spark.conf.getOption)
    val hit = Option(memo.get(key)).filter(m => m.files == files && m.confs == confs)
    val reader = spark.read
    val df = hit.fold(reader)(m => reader.schema(m.schema)).parquet(path)
    if (hit.isEmpty) memo.put(key, Memo(files, confs, df.schema))
    df
  }

  /** Normalize `events.ts` to long ns-since-epoch across driver testdata
    * generations: rounds 1-9 wrote parquet TIMESTAMP(NANOS) (long ns via
    * the `nanosAsLong` legacy read), round 10 writes TIMESTAMP(MICROS)
    * (arrives as TIMESTAMP_NTZ). Everything downstream keeps the long-ns
    * contract (`ts div 1000` → µs, the precision DuckDB compares at).
    * NTZ wall time is UTC by the driver's contract (DuckDB's naive
    * `epoch_us`); the offset is computed with pure NTZ arithmetic
    * (`timestampdiff` against the epoch NTZ literal), so the result is
    * INDEPENDENT of `spark.sql.session.timeZone` — a cast to
    * TimestampType would interpret the wall time in the session zone and
    * silently shift under any non-UTC session. TimestampType is an
    * instant, so `unix_micros` is zone-independent already. Works on
    * batch and streaming frames alike (pure column ops).
    *
    * Pushdown note: the replaced `ts` is a COMPUTED column, so predicates
    * on it cannot reach the parquet scan for timestamp-encoded data — use
    * [[eventsExclusiveRangeUs]] for time-range scans; it pushes the range
    * in the column's native type first.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * 1000L)
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case t => sys.error(s"events.ts: unsupported type $t")
    }
  }

  /** Events scan with the P1 strictly-exclusive µs time range pushed down
    * to the parquet scan in the column's NATIVE type, then normalized like
    * [[apply]]. `normalizeEventTs` replaces `ts` with a computed column,
    * which defeats parquet row-group/page pruning for timestamp-encoded
    * data (a time-range scan over 100 TB of history would read every row
    * group); this reader filters the RAW column first — a native-typed
    * predicate the scan can evaluate against footer min/max stats — and
    * keeps the exact `ts div 1000` predicate on top, so callers see
    * precisely the rows they'd get by filtering after normalization.
    * Native literals: Instant for TIMESTAMP (zone-independent),
    * LocalDateTime for TIMESTAMP_NTZ (wall-UTC contract), widened ns
    * bounds for legacy long-ns data.
    */
  def eventsExclusiveRangeUs(spark: SparkSession, sfDir: String,
                             loUs: Long, hiUs: Long): DataFrame = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$sfDir/events.parquet")
    def secNanos(us: Long) =
      (Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    val native = raw.schema("ts").dataType match {
      case LongType =>
        // ns storage: (ts div 1000) ∈ (loUs, hiUs) ⟹ ts ∈ (loUs·1000, hiUs·1000)
        raw.filter(col("ts") > loUs * 1000L && col("ts") < hiUs * 1000L)
      case TimestampNTZType =>
        def l(us: Long) = { val (s, n) = secNanos(us)
          lit(java.time.LocalDateTime.ofEpochSecond(s, n.toInt, java.time.ZoneOffset.UTC)) }
        raw.filter(col("ts") > l(loUs) && col("ts") < l(hiUs))
      case TimestampType =>
        def l(us: Long) = { val (s, n) = secNanos(us)
          lit(java.time.Instant.ofEpochSecond(s, n)) }
        raw.filter(col("ts") > l(loUs) && col("ts") < l(hiUs))
      case t => sys.error(s"events.ts: unsupported type $t")
    }
    normalizeEventTs(native)
      .filter(expr("ts div 1000") > loUs && expr("ts div 1000") < hiUs)
  }

  /** `ts` (long, ns) reduced to microseconds — the precision DuckDB (and
    * most engines) use for timestamps, so cross-engine comparisons agree.
    */
  def eventsWithUs(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "events").withColumn("ts_us", expr("ts div 1000"))

  /** Scan rebalanced to the session's parallelism. The driver test tables
    * are single-row-group parquet files, which Spark cannot split — one
    * task per scan, so every row-local derivation (JSON render/parse,
    * hashing, shingling, vector folds) runs single-threaded without this.
    * On a real cluster the source arrives in many splits and this
    * round-robin exchange is cheap insurance against the same pathology
    * (few huge files); use for CPU-bound pipelines, plain [[apply]] for
    * cheap scans and broadcast dims.
    */
  def balanced(spark: SparkSession, sfDir: String, name: String): DataFrame =
    apply(spark, sfDir, name).repartition(spark.sparkContext.defaultParallelism)
}
