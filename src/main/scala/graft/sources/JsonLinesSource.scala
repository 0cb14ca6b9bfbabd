package graft.sources

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A REAL DataSource V2 connector for the JSON-lines sink format that
  * [[graft.operators.BulkSink.JsonLinesWriter]] emits — the engine-side
  * half of the reference's external connector seam
  * (`src/arango_queries.py:211-258` bulk-imports JSON document arrays;
  * `src/etl.py:42-51` wires the endpoints). The sandbox has no network,
  * so the directory stands in for the endpoint, but every part of the
  * CONNECTOR PROTOCOL is the real Spark surface a JDBC/HTTP connector
  * would implement:
  *
  *  - declared schema (S1 convention — no inference; `inferSchema`
  *    refuses loudly),
  *  - one [[InputPartition]] per sink file → parallel scan,
  *  - COLUMN PRUNING pushed into the parser (unrequested fields are
  *    never materialized — [[SupportsPushDownRequiredColumns]]),
  *  - FILTER pushdown with faithful SQL null semantics, evaluated
  *    pre-emit so pruned-out filter columns still work
  *    ([[SupportsPushDownFilters]]; unsupported predicates are handed
  *    back to Spark untouched),
  *  - per-partition LIMIT pushdown (partial — Spark keeps the global
  *    limit; [[SupportsPushDownLimit]]),
  *  - a two-phase WRITE commit: tasks stage `.stage-*` files, the
  *    driver's [[BatchWrite.commit]] promotes exactly one winner per
  *    partition and sweeps speculative losers, so retried/speculative
  *    attempts never double-appear ([[SupportsTruncate]] gives
  *    overwrite mode).
  *
  * Cluster note: readers/writers rebuild a default Hadoop
  * `Configuration` executor-side, which resolves local and `file://`
  * paths; a cluster deployment against `hdfs://`/`s3a://` would thread
  * the driver conf through the factories (the one seam left open, same
  * as [[graft.operators.BulkSink]]'s endpoint).
  */
class JsonLinesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "jsonlines"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "jsonlines is a declared-schema source (S1 convention): pass " +
        ".schema(...) on read — schema inference over an external sink " +
        "is a silent-drift risk this engine refuses")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "jsonlines requires a path: .load(dir) / .save(dir)")
    new JsonLinesTable(path, schema)
  }
}

object JsonLinesSource {
  /** Scalar types the parser/serializer handles — the sink format is flat
    * JSON documents (the BulkSink payload shape).
    */
  private[sources] def supportedType(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | DoubleType | BooleanType => true
    case _ => false
  }

  /** A data file: not hidden (no '.'/'_' prefix — Hadoop convention, and
    * exactly what keeps half-written `.stage-*` files invisible to
    * concurrent readers).
    */
  private[sources] def isDataFile(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  /** Parse the `include`/`exclude` scan options: comma-separated file
    * NAMES (not paths — the writer's `part-<id>-<query>.jsonl` names are
    * comma-free by construction). Empty/absent → None.
    */
  private[sources] def nameList(opt: String): Option[Set[String]] =
    Option(opt).map(_.trim).filter(_.nonEmpty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  private[sources] def listDataFiles(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && isDataFile(s.getPath.getName))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1) // deterministic partition order
  }

  /** Small-file COMPACTION for an append-mode sink directory — the
    * maintenance job every append sink needs (each append job leaves its
    * own part files; a follower appending small batches degrades readers
    * toward one-file-per-batch). One Spark job: scan through the
    * connector, coalesce to ONE file, write back through the same
    * two-phase commit — which is what makes this CRASH-SAFE: the scan's
    * input files are pinned at planning, new data stages as hidden
    * files, and the originals are deleted only in the driver commit
    * after every read task has finished (a crash mid-job leaves the
    * original files untouched plus sweepable stage litter).
    *
    * Returns the row count compacted. `coalesce` (not `repartition`):
    * compaction must not pay a shuffle, only a read+write.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              schema: StructType): Long = {
    val df = spark.read.format("jsonlines").schema(schema).load(dir)
      .coalesce(1)
    df.write.format("jsonlines").mode("overwrite").save(dir)
    spark.read.format("jsonlines").schema(schema).load(dir).count()
  }

  /** JSON string escaping per RFC 8259 (the only characters that MUST be
    * escaped: quote, backslash, control chars).
    */
  private[sources] def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }
}

final class JsonLinesTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  tableSchema.fields.foreach { f =>
    require(JsonLinesSource.supportedType(f.dataType),
      s"jsonlines: unsupported column type ${f.dataType.sql} for '${f.name}' " +
        "(flat string/long/int/double/boolean documents only — the BulkSink payload shape)")
  }

  override def name(): String = s"jsonlines:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonLinesScanBuilder(path, tableSchema,
      include = JsonLinesSource.nameList(options.get("include")),
      exclude = JsonLinesSource.nameList(options.get("exclude")))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new JsonLinesWriteBuilder(path, info.schema(), info.queryId())
}

// ---------------------------------------------------------------- read

final class JsonLinesScanBuilder(path: String, tableSchema: StructType,
                                 include: Option[Set[String]],
                                 exclude: Option[Set[String]])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  /** A filter is pushable when every referenced column is a supported
    * top-level field and the predicate shape is one we evaluate with
    * faithful SQL semantics. Everything else is returned to Spark.
    */
  private def pushable(f: Filter): Boolean = {
    def known(c: String) = tableSchema.fieldNames.contains(c)
    f match {
      case EqualTo(c, _) => known(c)
      case EqualNullSafe(c, _) => known(c)
      case GreaterThan(c, _) => known(c)
      case GreaterThanOrEqual(c, _) => known(c)
      case LessThan(c, _) => known(c)
      case LessThanOrEqual(c, _) => known(c)
      case In(c, _) => known(c)
      case IsNull(c) => known(c)
      case IsNotNull(c) => known(c)
      // And/Or stay pushable because the null→drop collapse is monotone
      // under both; NOT is not (NOT of a NULL child must still drop), so
      // Not(...) is handed back to Spark.
      case And(l, r) => pushable(l) && pushable(r)
      case Or(l, r) => pushable(l) && pushable(r)
      case StringStartsWith(c, _) => known(c)
      case StringEndsWith(c, _) => known(c)
      case StringContains(c, _) => known(c)
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(pushable)
    pushed = sup
    unsup // Spark keeps evaluating these
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // default isPartiallyPushed() = true: Spark keeps the global limit.

  override def build(): Scan =
    new JsonLinesScan(path, tableSchema, required, pushed, limit, include,
      exclude)
}

final class JsonLinesScan(path: String, tableSchema: StructType,
                          required: StructType, filters: Array[Filter],
                          limit: Int, include: Option[Set[String]],
                          exclude: Option[Set[String]])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"jsonlines path=$path, PushedFilters: ${filters.mkString("[", ", ", "]")}" +
      (if (limit >= 0) s", PushedLimit: $limit" else "")

  /** The scanned file set, pinned AT PLANNING (the snapshot contract an
    * append-while-scanning sink needs). `include` reads exactly the named
    * files and fails loudly on a missing one (a compaction's input pin —
    * a name that vanished means a concurrent rewrite, and silently
    * absorbing a different row set would corrupt the manifest);
    * `exclude` drops named files (a tiered read skipping tail files a
    * crashed compaction already absorbed into its parquet base but did
    * not yet GC — [[TieredJsonSink]]).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val listed = JsonLinesSource.listDataFiles(path)
    val files = include match {
      case Some(names) =>
        val byName = listed.map { case (f, len) => new Path(f).getName -> (f, len) }.toMap
        val missing = names.filterNot(byName.contains)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"jsonlines scan at $path: include names ${missing.size} file(s) " +
            s"not on disk (e.g. ${missing.head}) — the sink was rewritten " +
            "under a pinned scan")
        names.toSeq.sorted.map(byName)
      case None => exclude match {
        case Some(names) => listed.filterNot { case (f, _) => names.contains(new Path(f).getName) }
        case None => listed
      }
    }
    files.map { case (f, len) => JsonLinesInputPartition(f, len): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Filter columns may be pruned OUT of `required` (a fully-pushed
    // predicate needs no output column) — parse the union.
    val filterCols = filters.flatMap(_.references).distinct
    val evalSchema = StructType(required.fields ++
      filterCols.filterNot(required.fieldNames.contains)
        .map(c => tableSchema(tableSchema.fieldIndex(c))))
    JsonLinesReaderFactory(evalSchema, required, filters, limit)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new JsonLinesMicroBatchStream(path, createReaderFactory())
}

/** MICRO-BATCH STREAMING over a jsonlines sink directory — the tailing
  * follower seam the reference runs as a polling daemon
  * (`src/etl.py:42-51` re-queries the chain on a timer). The write
  * side's two-phase commit is what makes this sound: a data file becomes
  * visible ATOMICALLY (stage-file rename at driver commit) and is never
  * modified afterwards, so "the sorted set of visible file names" is a
  * monotone, replayable offset — each micro-batch reads exactly the
  * files that appeared since the previous offset. No per-row watermark
  * state: the contract is the same as Spark's own FileStreamSource,
  * minus its compaction log (the offset carries the file list — fine at
  * sink-directory scale; `compact()` must not run while a tailer is
  * live, also the FileStreamSource rule).
  *
  * Pushdown carries over: the reader factory is the SAME one the batch
  * scan built, so pruning, filters and the vectorized read apply per
  * micro-batch.
  */
final class JsonLinesMicroBatchStream(path: String,
                                      factory: PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def currentFiles(): Seq[(String, Long)] =
    JsonLinesSource.listDataFiles(path)

  override def initialOffset(): Offset = JsonLinesOffset(Seq.empty)

  override def latestOffset(): Offset =
    JsonLinesOffset(currentFiles().map(_._1))

  override def deserializeOffset(json: String): Offset =
    JsonLinesOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[JsonLinesOffset].files.toSet
    val lens = currentFiles().toMap
    val batch = end.asInstanceOf[JsonLinesOffset].files.filterNot(seen)
    // A file named by a committed offset but no longer on disk means the
    // sink was compacted/overwritten while a tailer was live — rows were
    // rewritten into files this stream cannot distinguish from new data.
    // Fail loudly rather than silently re-reading or skipping.
    val gone = batch.filterNot(lens.contains)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"jsonlines stream at $path: offset names ${gone.size} file(s) that " +
        s"no longer exist (e.g. ${gone.head}); the sink was compacted or " +
        "overwritten while being tailed — restart the stream from a fresh " +
        "checkpoint (compact() must not run under a live tailer, the " +
        "FileStreamSource rule)")
    batch.map(f => JsonLinesInputPartition(f, lens(f)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The offset: the sorted list of visible data files. JSON form is a
  * plain array so the checkpoint offset log stays human-readable.
  */
final case class JsonLinesOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.sorted.map(f => "\"" + JsonLinesSource.escape(f) + "\"")
      .mkString("[", ",", "]")
}

object JsonLinesOffset {
  def fromJson(json: String): JsonLinesOffset = {
    val mapper = new ObjectMapper()
    val node = mapper.readTree(json)
    require(node.isArray, s"jsonlines offset must be a JSON array, got: $json")
    JsonLinesOffset((0 until node.size()).map(node.get(_).asText()))
  }
}

final case class JsonLinesInputPartition(file: String, length: Long)
    extends InputPartition

final case class JsonLinesReaderFactory(evalSchema: StructType,
                                        required: StructType,
                                        filters: Array[Filter], limit: Int)
    extends PartitionReaderFactory {
  // Reads are VECTORIZED only: the decoder's rows are batched into
  // ColumnarBatches, so the downstream plan enters via codegen'd
  // ColumnarToRow — the structure of Spark's own parquet reader. A row
  // reader measured at parity on wide and narrow scans (SCALE.md) and
  // was retired; Spark never asks for one while columnar reads are on.
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "jsonlines reads are columnar only")

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new JsonLinesColumnarReader(
      new JsonLineDecoder(
        partition.asInstanceOf[JsonLinesInputPartition].file,
        evalSchema, required, filters),
      limit)
}

/** Per-file decode kernel for [[JsonLinesColumnarReader]]:
  * stream lines, parse, evaluate pushed filters, surface only surviving
  * rows as a boxed `evalSchema`-ordered value array. Unrequested fields
  * are never converted (pruning reaches the parser, the DSv2 analog of
  * `ReadSchema` on a parquet scan).
  */
private[sources] final class JsonLineDecoder(file: String,
                                             val evalSchema: StructType,
                                             val required: StructType,
                                             filters: Array[Filter]) {
  import com.fasterxml.jackson.core.{JsonParser, JsonToken}

  private val mapper = new ObjectMapper()
  private val in = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  val requiredIdx: Array[Int] = required.fields.map(f => evalSchema.fieldIndex(f.name))
  private val fieldIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    evalSchema.fields.zipWithIndex.foreach { case (f, i) => m.put(f.name, i) }
    m
  }
  private val dts = evalSchema.fields.map(_.dataType)

  /** STREAMING decode: one pass over the line's tokens, no JsonNode tree
    * (the probe showed parse, not row dispatch, dominating scan cost —
    * `readTree` allocated a node per field including the unrequested
    * ones). Token → JVM value per declared type; null for JSON null, a
    * missing field, or a token the type can't represent (declared-schema
    * reads are null-tolerant, the P8 convention). Unrequested fields are
    * `skipChildren()`-ed without materializing anything; duplicate keys
    * keep the LAST occurrence (the readTree behavior).
    */
  private def convertToken(p: JsonParser, t: JsonToken, dt: DataType): Any =
    t match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        // nested value: only a string column can hold it (as its JSON
        // text, the readTree `toString` behavior) — rare path, tree-based
        if (dt == StringType) {
          val node = mapper.readTree[JsonNode](p); node.toString
        } else { p.skipChildren(); null }
      case _ => dt match {
        case StringType => t match {
          // Canonicalize non-string scalars the way readTree's
          // node.toString did ({"name": 1.50} -> "1.5", 1e3 -> "1000.0")
          // rather than echoing raw source text — parity with the
          // pre-streaming decoder on foreign-written files.
          case JsonToken.VALUE_NUMBER_INT => p.getNumberValue.toString
          case JsonToken.VALUE_NUMBER_FLOAT => String.valueOf(p.getDoubleValue)
          case _ => p.getText
        }
        case LongType =>
          if (t == JsonToken.VALUE_NUMBER_INT) {
            p.getNumberType match {
              case JsonParser.NumberType.INT | JsonParser.NumberType.LONG =>
                p.getLongValue
              case _ => null // BigInteger overflow
            }
          } else if (t == JsonToken.VALUE_NUMBER_FLOAT) {
            val d = p.getDoubleValue // canConvertToLong: integral + in range
            if (d == Math.rint(d) && d >= Long.MinValue.toDouble &&
              d <= Long.MaxValue.toDouble) d.toLong else null
          } else null
        case IntegerType =>
          if (t == JsonToken.VALUE_NUMBER_INT) {
            p.getNumberType match {
              case JsonParser.NumberType.INT => p.getIntValue
              case JsonParser.NumberType.LONG =>
                val l = p.getLongValue
                if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt else null
              case _ => null
            }
          } else if (t == JsonToken.VALUE_NUMBER_FLOAT) {
            val d = p.getDoubleValue
            if (d == Math.rint(d) && d >= Int.MinValue.toDouble &&
              d <= Int.MaxValue.toDouble) d.toInt else null
          } else null
        case DoubleType =>
          if (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT)
            p.getDoubleValue
          else null
        case BooleanType =>
          if (t == JsonToken.VALUE_TRUE) true
          else if (t == JsonToken.VALUE_FALSE) false
          else null
        case _ => null
      }
    }

  private def parseLine(line: String): Array[Any] = {
    val vals = new Array[Any](dts.length)
    val p = mapper.getFactory.createParser(line)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) {
        var t = p.nextToken()
        while (t == JsonToken.FIELD_NAME) {
          val i = fieldIdx.get(p.currentName())
          val vt = p.nextToken()
          if (i == null) {
            if (vt == JsonToken.START_OBJECT || vt == JsonToken.START_ARRAY)
              p.skipChildren()
          } else vals(i.intValue()) = convertToken(p, vt, dts(i.intValue()))
          t = p.nextToken()
        }
      }
      vals
    } finally p.close()
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x: Number, y: Number) => (x, y) match {
      case (_: java.lang.Double, _) | (_, _: java.lang.Double) =>
        Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
      case _ => Some(java.lang.Long.compare(x.longValue(), y.longValue()))
    }
    case _ => None
  }

  /** SQL three-valued logic collapsed to keep/drop: a NULL predicate
    * result drops the row, exactly what a post-scan Filter would do.
    */
  private def eval(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(c, v) => cmp(get(c), v).contains(0)
    case EqualNullSafe(c, v) =>
      val x = get(c); if (x == null || v == null) x == null && v == null
      else cmp(x, v).contains(0)
    case GreaterThan(c, v) => cmp(get(c), v).exists(_ > 0)
    case GreaterThanOrEqual(c, v) => cmp(get(c), v).exists(_ >= 0)
    case LessThan(c, v) => cmp(get(c), v).exists(_ < 0)
    case LessThanOrEqual(c, v) => cmp(get(c), v).exists(_ <= 0)
    case In(c, vs) => val x = get(c); x != null && vs.exists(v => cmp(x, v).contains(0))
    case IsNull(c) => get(c) == null
    case IsNotNull(c) => get(c) != null
    case And(l, r) => eval(l, get) && eval(r, get)
    case Or(l, r) => eval(l, get) || eval(r, get)
    case StringStartsWith(c, v) =>
      get(c) match { case s: String => s.startsWith(v); case _ => false }
    case StringEndsWith(c, v) =>
      get(c) match { case s: String => s.endsWith(v); case _ => false }
    case StringContains(c, v) =>
      get(c) match { case s: String => s.contains(v); case _ => false }
    case _ => true // unreachable: pushable() gates what lands here
  }

  /** The next filter-surviving row's `evalSchema` values, or null at EOF. */
  def nextVals(): Array[Any] = {
    var line = in.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val vals = parseLine(line)
        val byName: String => Any = c => vals(evalSchema.fieldIndex(c))
        if (filters.forall(eval(_, byName))) return vals
      }
      line = in.readLine()
    }
    null
  }

  def close(): Unit = in.close()
}

/** Vectorized reader: fills reusable on-heap column vectors in
  * [[JsonLinesColumnarReader.BatchSize]]-row batches. The vectors are
  * allocated once and `reset()` per batch (the parquet-reader lifecycle —
  * downstream consumes each batch fully before requesting the next, so
  * reuse is safe).
  */
final class JsonLinesColumnarReader(dec: JsonLineDecoder, limit: Int)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val BatchSize = 4096
  private val vectors = OnHeapColumnVector.allocateColumns(BatchSize, dec.required)
  private val batch = new ColumnarBatch(vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector), 0)
  private val dts = dec.required.fields.map(_.dataType)
  private var emitted = 0

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    var n = 0
    var more = true
    while (n < BatchSize && more && (limit < 0 || emitted < limit)) {
      val vals = dec.nextVals()
      if (vals == null) more = false
      else {
        var i = 0
        while (i < dts.length) {
          val v = vals(dec.requiredIdx(i))
          if (v == null) vectors(i).putNull(n)
          else dts(i) match {
            case StringType => vectors(i).putByteArray(n,
              v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case LongType => vectors(i).putLong(n, v.asInstanceOf[Long])
            case IntegerType => vectors(i).putInt(n, v.asInstanceOf[Int])
            case DoubleType => vectors(i).putDouble(n, v.asInstanceOf[Double])
            case BooleanType => vectors(i).putBoolean(n, v.asInstanceOf[Boolean])
            case dt => throw new IllegalStateException(
              s"jsonlines columnar: unreachable type $dt") // gated in JsonLinesTable
          }
          i += 1
        }
        n += 1
        emitted += 1
      }
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    batch.close()
    dec.close()
  }
}

// --------------------------------------------------------------- write

/** Append and Overwrite (via truncate) are supported; note
  * `DataFrameWriter.save`'s DEFAULT mode is ErrorIfExists, which Spark
  * rejects for path-based V2 providers — callers write with an explicit
  * `.mode("append")` or `.mode("overwrite")`.
  */
final class JsonLinesWriteBuilder(path: String, schema: StructType,
                                  queryId: String)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new JsonLinesWrite(path, schema, queryId, overwrite)
}

final class JsonLinesWrite(path: String, schema: StructType, queryId: String,
                           overwrite: Boolean) extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    JsonLinesWriterFactory(path, schema, queryId)

  // Stage files are scoped by queryId so CONCURRENT append jobs never
  // sweep each other's in-flight files (commit and abort below only touch
  // `.stage-<this queryId>-*`).
  private def stagePrefix = s".stage-$queryId-"

  /** Two-phase commit, driver side: exactly one staged file per partition
    * is promoted to its final name (Spark hands the driver ONE commit
    * message per partition — the winner among retried / speculative
    * attempts); every other leftover of THIS job's stage prefix is a
    * loser and is swept (other jobs' in-flight stage files are untouched
    * — concurrent appends are safe). Overwrite deletes prior data files
    * first, after the new stage files are all safely on disk.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    if (overwrite && fs.exists(dir)) {
      fs.listStatus(dir).foreach { s =>
        if (s.isFile && JsonLinesSource.isDataFile(s.getPath.getName))
          fs.delete(s.getPath, false)
      }
    }
    val winners = mutable.Set.empty[String]
    messages.foreach { case JsonLinesCommitMessage(staged, partitionId) =>
      winners += staged
      // queryId in the final name keeps APPEND writes collision-free
      // across jobs (two appends never fight over part-00000).
      val target = new Path(dir, f"part-$partitionId%05d-$queryId.jsonl")
      if (fs.exists(target)) fs.delete(target, false)
      require(fs.rename(new Path(staged), target),
        s"jsonlines commit: rename $staged -> $target failed")
    }
    if (fs.exists(dir)) fs.listStatus(dir).foreach { s => // sweep THIS job's losers
      val n = s.getPath.getName
      if (n.startsWith(stagePrefix) && !winners.contains(s.getPath.toString))
        fs.delete(s.getPath, false)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(new Configuration())
    if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
      if (s.getPath.getName.startsWith(stagePrefix)) fs.delete(s.getPath, false)
    }
  }
}

final case class JsonLinesCommitMessage(stagedPath: String, partitionId: Int)
    extends WriterCommitMessage

final case class JsonLinesWriterFactory(path: String, schema: StructType,
                                        queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonLinesDataWriter(path, schema, queryId, partitionId, taskId)
}

/** Task-side writer: serializes rows to a hidden `.stage-<query>-p-t.jsonl`
  * file (taskId makes retried/speculative attempts collision-free, the
  * queryId scopes concurrent jobs); `commit` hands the staged path to the
  * driver, `abort` deletes it. Non-finite doubles serialize as JSON null
  * (RFC 8259 has no NaN/Infinity).
  */
final class JsonLinesDataWriter(path: String, schema: StructType,
                                queryId: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val staged = new Path(path, f".stage-$queryId-$partitionId%05d-$taskId.jsonl")
  private val fs = staged.getFileSystem(new Configuration())
  private val out = {
    fs.mkdirs(staged.getParent)
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(staged, true), java.nio.charset.StandardCharsets.UTF_8))
  }

  override def write(record: InternalRow): Unit = {
    val b = new StringBuilder(64)
    b.append('{')
    var i = 0
    while (i < schema.fields.length) {
      if (i > 0) b.append(',')
      val f = schema.fields(i)
      b.append('"').append(JsonLinesSource.escape(f.name)).append("\":")
      if (record.isNullAt(i)) b.append("null")
      else f.dataType match {
        case StringType =>
          b.append('"').append(JsonLinesSource.escape(record.getUTF8String(i).toString)).append('"')
        case LongType => b.append(record.getLong(i))
        case IntegerType => b.append(record.getInt(i))
        case DoubleType =>
          val v = record.getDouble(i)
          if (java.lang.Double.isFinite(v)) b.append(v) else b.append("null")
        case BooleanType => b.append(record.getBoolean(i))
        case dt => throw new IllegalArgumentException(
          s"jsonlines: unsupported write type ${dt.sql}") // gated in JsonLinesTable
      }
      i += 1
    }
    b.append('}')
    out.write(b.result()); out.newLine()
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    JsonLinesCommitMessage(staged.toString, partitionId)
  }

  override def abort(): Unit = {
    out.close()
    if (fs.exists(staged)) fs.delete(staged, false)
  }

  override def close(): Unit = ()
}
