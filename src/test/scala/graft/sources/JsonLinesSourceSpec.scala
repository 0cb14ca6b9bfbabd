package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class JsonLinesSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("ok", BooleanType)))

  private def sample = Seq(
    (1L, "alpha", 1.5, true),
    (2L, "beta \"quoted\"\nline", 2.5, false),
    (3L, null.asInstanceOf[String], 3.5, true),
    (4L, "delta", Double.NaN, false) // non-finite → JSON null on write
  ).toDF("id", "name", "score", "ok")

  private def freshDir() = Files.createTempDirectory("graft_jsonlines").toString

  private def readBack(dir: String) =
    spark.read.format("jsonlines").schema(schema).load(dir)

  test("round-trip via short name: types, nulls, escaping, NaN→null") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    val back = readBack(dir).as[(Long, String, Option[Double], Boolean)]
      .collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      (1L, "alpha", Some(1.5), true),
      (2L, "beta \"quoted\"\nline", Some(2.5), false),
      (3L, null, Some(3.5), true),
      (4L, "delta", None, false)))
  }

  test("append keeps prior files; overwrite replaces them") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("append").save(dir)
    sample.write.format("jsonlines").mode("append").save(dir)
    assert(readBack(dir).count() == 8L)
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    assert(readBack(dir).count() == 4L)
    // no stage leftovers after commits
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".stage-")))
  }

  test("filter pushdown reaches the scan; Not stays Spark-side; columns prune") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    val q = readBack(dir).filter(col("id") > 1L && !col("name").startsWith("de"))
      .select("id", "ok")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[JsonLinesScan]
    }
    assert(scans.size == 1)
    val desc = scans.head.description()
    assert(desc.contains("GreaterThan(id,1)"))
    assert(!desc.contains("Not(")) // NOT is not pushable under 3VL collapse
    // name is needed only by the un-pushed NOT filter → stays in the scan
    // output; score is referenced nowhere and is pruned out.
    val read = scans.head.readSchema().fieldNames.toSet
    assert(!read.contains("score"))
    // row 3 has name = null: NOT startsWith(null, ..) is NULL → dropped
    assert(q.as[(Long, Boolean)].collect().sorted.toSeq == Seq((2L, false)))
  }

  test("pushed filters match Spark-side evaluation (null semantics)") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    val full = readBack(dir).cache()
    try {
      val preds = Seq(
        col("name") === "alpha",
        col("name").isNull,
        col("name").isNotNull && col("score") <= 2.5,
        col("id").isin(2L, 3L, 9L) || col("ok"),
        col("name").contains("line"),
        col("name") <=> null.asInstanceOf[String])
      preds.foreach { p =>
        val pushed = readBack(dir).filter(p).select("id").as[Long].collect().sorted
        val sparkSide = full.filter(p).select("id").as[Long].collect().sorted
        assert(pushed.toSeq == sparkSide.toSeq, s"predicate $p")
      }
    } finally full.unpersist()
  }

  test("per-partition limit pushdown is partial and correct") {
    val dir = freshDir()
    sample.repartition(2).write.format("jsonlines").mode("overwrite").save(dir)
    val q = readBack(dir).limit(3)
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[JsonLinesScan]
    }
    assert(scans.head.description().contains("PushedLimit: 3"))
    assert(q.count() == 3L)
  }

  test("reads BulkSink.JsonLinesWriter output (the connector seam)") {
    val dir = freshDir()
    val docs = sample.select(to_json(struct(col("id"), col("name"))).as("doc"))
    graft.operators.BulkSink.write(docs,
      new graft.operators.BulkSink.JsonLinesWriter(dir), batchSize = 2)
    val s = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val back = spark.read.format("jsonlines").schema(s).load(dir)
    assert(back.count() == 4L)
    assert(back.filter(col("name") === "alpha").select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("compact folds append litter into targetFiles without losing rows") {
    val dir = freshDir()
    (1 to 3).foreach { _ =>
      sample.repartition(2).write.format("jsonlines").mode("append").save(dir)
    }
    def dataFiles() = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(dataFiles().length == 6) // 3 appends × 2 partitions
    assert(JsonLinesSource.compact(spark, dir, schema) == 12L)
    assert(dataFiles().length == 1)
    assert(readBack(dir).count() == 12L)
    assert(readBack(dir).filter(col("id") === 1L).count() == 3L)
  }

  test("columnar read is the only physical path and matches the written frame") {
    val dir = freshDir()
    // > one batch (4096): make batching boundaries real, not theoretical.
    val big = spark.range(10000).select(col("id"),
      concat(lit("name_"), col("id")).as("name"),
      (col("id") * 1.5).as("score"), (col("id") % 3 === 0).as("ok"))
    big.write.format("jsonlines").mode("overwrite").save(dir)

    val colQ = readBack(dir)
    // plan shape: the scan enters through ColumnarToRow
    assert(colQ.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // semantics twin: full contents agree with the frame that was written
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(dump(colQ) == dump(big))
    assert(colQ.count() == 10000L)
  }

  test("columnar path honors pushdown, pruning, limit, and null semantics") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    // pushed filter over a pruned-out column + nulls (row 3 name=null)
    val q = readBack(dir).filter(col("name").isNotNull && col("score") <= 2.5)
      .select("id")
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(q.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(readBack(dir).limit(3).count() == 3L)
  }

  test("micro-batch streaming read tails the sink exactly-once as files commit") {
    val dir = freshDir()
    val outDir = freshDir()
    val ckpt = freshDir()
    sample.write.format("jsonlines").mode("append").save(dir)
    // pushdown carries into the stream: filter + projection reach the scan
    val stream = spark.readStream.format("jsonlines").schema(schema).load(dir)
      .filter(col("id") >= 2L).select("id", "name")
    val query = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .start()
    try {
      query.processAllAvailable()
      // second append AFTER the first batch committed: only the new
      // files may appear in the next micro-batch
      sample.write.format("jsonlines").mode("append").save(dir)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(outDir).as[(Long, String)].collect()
      .sortBy(_._1).toSeq // row 3's name is null — don't String-sort it
    // ids 2,3,4 from each of the two appends — exactly once each
    assert(got.map(_._1) == Seq(2L, 2L, 3L, 3L, 4L, 4L))
    assert(got.filter(_._1 == 4L).forall(_._2 == "delta"))
    // the offset log records file-list offsets (human-readable JSON array)
    val off = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => scala.io.Source.fromFile(f).mkString).mkString
    assert(off.contains("part-"))
  }

  test("declared-schema convention: inference refuses loudly") {
    val dir = freshDir()
    sample.write.format("jsonlines").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("jsonlines").load(dir).collect()
    }
    assert(e.getMessage.contains("declared-schema"))
  }
}
