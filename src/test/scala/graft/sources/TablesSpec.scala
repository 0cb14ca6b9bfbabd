package graft.sources

import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins [[Tables.normalizeEventTs]]'s three-way encoding dispatch (long-ns
  * legacy, TIMESTAMP_NTZ micros, TIMESTAMP micros) to identical long-ns
  * output, its independence from `spark.sql.session.timeZone`, and the
  * native-typed range pushdown of [[Tables.eventsExclusiveRangeUs]].
  * (Advice r10: the NTZ branch previously cast through the session zone —
  * correct only under UTC — and the computed `ts` column defeated parquet
  * pushdown on time-range scans.) Also pins the schema memo: a reopen of
  * unchanged files under unchanged confs runs no Spark job, and a
  * rewrite or a conf flip is re-inferred.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Three instants spanning the q02-style window, exact to the µs.
  private val usValues = Seq(
    1704672000000000L,           // 2024-01-08T00:00:00Z
    1705000000123456L,           // mid-window, sub-second µs
    1705881599999999L)           // 1 µs before 2024-01-22T00:00:00Z
  private val nsValues = usValues.map(_ * 1000L)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"tables-$tag").toString

  /** Write events.parquet under `dir` with the given ts encoding; returns
    * the dir (so [[Tables.apply]]/[[Tables.eventsExclusiveRangeUs]] can
    * read it like driver testdata).
    */
  private def writeEncoded(encoding: String): String = {
    val dir = tmpDir(encoding)
    val rows = usValues.zipWithIndex.map { case (us, i) =>
      val ts: Any = encoding match {
        case "long" => us * 1000L
        case "ntz" => LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
        case "tz" => Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      }
      Row(ts, s"e$i", i.toLong)
    }
    val tsType: DataType = encoding match {
      case "long" => LongType
      case "ntz" => TimestampNTZType
      case "tz" => TimestampType
    }
    val schema = StructType(Seq(
      StructField("ts", tsType), StructField("event_type", StringType),
      StructField("value", LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def readNormalized(dir: String): Seq[Long] =
    Tables(spark, dir, "events").select("ts").as[Long].collect().sorted.toSeq

  test("all three ts encodings normalize to identical long-ns values") {
    for (enc <- Seq("long", "ntz", "tz")) {
      val got = readNormalized(writeEncoded(enc))
      assert(got == nsValues, s"encoding $enc drifted: $got vs $nsValues")
    }
  }

  test("normalization is independent of spark.sql.session.timeZone") {
    val dirs = Seq("ntz", "tz").map(e => e -> writeEncoded(e))
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      for (tz <- Seq("America/New_York", "Asia/Tokyo")) {
        spark.conf.set(tzKey, tz)
        for ((enc, dir) <- dirs) {
          val got = readNormalized(dir)
          assert(got == nsValues,
            s"encoding $enc drifted under session zone $tz: $got vs $nsValues")
        }
      }
    } finally spark.conf.set(tzKey, saved)
  }

  test("eventsExclusiveRangeUs pushes a native ts predicate to the scan and bounds are exclusive") {
    // window excluding the first and last row exactly (exclusive ends)
    val lo = usValues.head
    val hi = usValues.last
    for (enc <- Seq("long", "ntz", "tz")) {
      val dir = writeEncoded(enc)
      val ranged = Tables.eventsExclusiveRangeUs(spark, dir, lo, hi)
      assert(ranged.select("ts").as[Long].collect().toSeq ==
        Seq(usValues(1) * 1000L), s"encoding $enc: wrong rows")
      // equivalent to filtering AFTER normalization
      val post = Tables(spark, dir, "events")
        .filter(expr("ts div 1000") > lo && expr("ts div 1000") < hi)
        .select("ts").as[Long].collect().toSeq
      assert(ranged.select("ts").as[Long].collect().toSeq == post)
      // and the raw-column predicate reached the parquet scan (timestamp
      // encodings; the legacy long-ns read of TIMESTAMP(NANOS) data has no
      // pushdown contract — the engine's own long write here does)
      val scan = ranged.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail(s"encoding $enc: no FileSourceScanExec"))
      val pushed = scan.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("ts"),
        s"encoding $enc: no pushed ts filter — PushedFilters=$pushed")
      assert(pushed != "[]", s"encoding $enc: empty PushedFilters")
    }
  }

  private val sc = spark.sparkContext

  /** `body`'s result and the Spark jobs it started on this thread. Jobs
    * are told apart by a local property; a sentinel job submitted after
    * `body` marks the end, since the bus delivers job starts in order.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val tag = "graft.tables.spec"
    val token = java.util.UUID.randomUUID.toString
    val flush = s"$token-flush"
    val seen = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(tag))).foreach(seen.put)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, token)
    try {
      val out = body
      sc.setLocalProperty(tag, flush)
      sc.parallelize(Seq(0), 1).count()
      val jobs = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map { t => assert(t != null, "sentinel job never reached the listener"); t }
        .takeWhile(_ != flush).size
      (out, jobs)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a second open of an unchanged table runs no Spark job and reads the same table") {
    val dir = tmpDir("memo")
    spark.range(50).selectExpr("id", "cast(id % 7 as int) as k", "cast(id as string) as s")
      .write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsOf(Tables(spark, dir, "t"))
    assert(inferJobs >= 1, "the first open did not infer the schema")
    val (second, jobs) = jobsOf(Tables(spark, dir, "t"))
    assert(jobs == 0, s"a reopen of unchanged files ran $jobs jobs")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first) && rows(second).size == 50)
  }

  test("a table overwritten at the same path with another schema is re-inferred") {
    val dir = tmpDir("rewrite")
    val path = s"$dir/t.parquet"
    spark.range(10).selectExpr("id", "cast(id as int) as v").write.parquet(path)
    assert(Tables(spark, dir, "t").schema.map(_.dataType) == Seq(LongType, IntegerType))
    // `v` changes type and `w` is added
    spark.range(10).selectExpr("id", "cast(id as string) as v", "id * 2 as w")
      .write.mode("overwrite").parquet(path)
    val (df, jobs) = jobsOf(Tables(spark, dir, "t"))
    assert(jobs >= 1, "the rewritten table was served from the memo")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "v" -> StringType, "w" -> LongType))
    assert(rows(df.filter("id = 3")) == Seq("[3,3,6]"))
  }

  test("flipping nanosAsLong over the same TIMESTAMP(NANOS) files re-infers") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir("nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/n.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try nsValues.foreach(ns => writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", ns)))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables(spark, dir, "n").schema("ts").dataType == LongType)
      assert(jobsOf(Tables(spark, dir, "n"))._2 == 0)
      spark.conf.set(key, "false")
      // re-inferred: Spark has no non-legacy reading of TIMESTAMP(NANOS),
      // so the open fails instead of returning the long schema
      val err = intercept[Exception](Tables(spark, dir, "n"))
      assert(err.getMessage.contains("NANOS"), err.getMessage)
      spark.conf.set(key, "true")
      val (df, jobs) = jobsOf(Tables(spark, dir, "n"))
      assert(jobs == 0 && df.schema("ts").dataType == LongType)
      assert(df.select("ts").as[Long].collect().sorted.toSeq == nsValues)
    } finally spark.conf.set(key, saved)
  }

  test("a reopen through eventsExclusiveRangeUs runs no Spark job") {
    val dir = writeEncoded("ntz")
    val lo = usValues.head
    val hi = usValues.last
    val first = Tables.eventsExclusiveRangeUs(spark, dir, lo, hi)
    val (second, jobs) = jobsOf(Tables.eventsExclusiveRangeUs(spark, dir, lo, hi))
    assert(jobs == 0, s"the reopen ran $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.select("ts").as[Long].collect().toSeq == Seq(usValues(1) * 1000L))
  }

  test("four threads opening one table at once all get its schema") {
    val dir = tmpDir("threads")
    spark.range(20).selectExpr("id", "cast(id as double) as x")
      .write.parquet(s"$dir/t.parquet")
    val expected = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType)))
    val start = new CountDownLatch(1)
    val got = new LinkedBlockingQueue[Either[Throwable, StructType]]
    val threads = (1 to 4).map { _ =>
      val t = new Thread(() => {
        start.await()
        got.put(scala.util.Try(Tables(spark, dir, "t").schema).toEither)
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    val schemas = Iterator.fill(4)(got.take()).toSeq
    assert(schemas.forall(_ == Right(expected)), s"schemas: $schemas")
    assert(jobsOf(Tables(spark, dir, "t"))._2 == 0)
  }

  test("Tables.scala reads through exactly one spark.read site, the memo's") {
    val f = new java.io.File("src/main/scala/graft/sources/Tables.scala")
    assert(f.isFile, s"run from the project root: ${f.getAbsolutePath}")
    val code = scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
      _.getLines().filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }.toVector)
    val sites = code.filter(_.contains("spark.read"))
    assert(sites.map(_.trim) == Seq("val reader = spark.read"), s"spark.read sites: $sites")
  }
}
