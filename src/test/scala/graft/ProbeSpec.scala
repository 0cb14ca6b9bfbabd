package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s argument parser, pinned without a Spark session: a
  * typo in a subcommand, query or section must fail before a session
  * starts, not after earlier queries have already run. Also ScaleProbe's
  * one measurement path: the meter's counters, and the source pins that
  * keep every probe number on it.
  */
class ProbeSpec extends AnyFunSuite {

  private val queries = SparkEntry.queries.keys.toSeq.sorted

  test("Probe.parse rejects an unknown subcommand, query name and section") {
    assert(Probe.parse(Seq.empty).isLeft)
    assert(Probe.parse(Seq("audit", "q03_filter_in_projection")).isLeft)
    assert(Probe.parse(Seq("jit", "q80_pq_adc_topk", "q80_pq_adc_topkk"))
      .left.exists(_.contains("q80_pq_adc_topkk")))
    assert(Probe.parse(Seq("plan", "q03_filter_in_projection", "q03"))
      .left.exists(_.contains("q03")))
    assert(Probe.parse(Seq("scale", "kcore", "prckpt"))
      .left.exists(_.contains("prckpt")))
    // a section is not a query, nor a query a section
    assert(Probe.parse(Seq("jit", "kcore")).isLeft)
    assert(Probe.parse(Seq("scale", "q33_city_pagerank")).isLeft)
  }

  test("Probe.parse accepts every default and every named query and section") {
    assert(Probe.parse(Seq("jit")) == Right(Probe.Cmd("jit", queries)))
    assert(Probe.parse(Seq("plan")) == Right(Probe.Cmd("plan", Probe.planDefaults)))
    assert(Probe.planDefaults.size == 48 &&
      Probe.planDefaults.forall(SparkEntry.queries.contains))
    assert(Probe.parse(Seq("scale")) == Right(Probe.Cmd("scale", ScaleProbe.sections)))
    assert(Probe.parse("jit" +: queries) == Right(Probe.Cmd("jit", queries)))
    assert(Probe.parse("plan" +: queries) == Right(Probe.Cmd("plan", queries)))
    assert(Probe.parse("scale" +: ScaleProbe.sections) ==
      Right(Probe.Cmd("scale", ScaleProbe.sections)))
    assert(Probe.parse(Seq("scale", "kcore")) == Right(Probe.Cmd("scale", Seq("kcore"))))
  }

  test("src/main/scala defines main in exactly Bench, Verify, Smoke, Probe, " +
    "EtlMain and StreamMain") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val objectDecl = """^\s*object\s+(\w+).*""".r
    val mains = files(root).flatMap { f =>
      val lines = scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)
      lines.zipWithIndex.collect {
        case (line, i) if line.contains("def main(") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          lines.take(i).reverseIterator.collectFirst { case objectDecl(o) => o }
            .getOrElse(s"${f.getPath}:${i + 1}")
      }
    }
    assert(mains.sorted == Seq("Bench", "EtlMain", "Probe", "Smoke", "StreamMain", "Verify"),
      s"objects with a main: $mains")
  }

  test("ScaleProbe.Meter counts exactly the measured jobs, from zero, " +
    "and keeps both flushes out of wall_s") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-meter").toString
    spark.range(1000).repartition(3).write.mode("overwrite").parquet(dir)
    // registered before the meter on the same bus: it sees each sentinel
    // job start before the meter's flush can return, and while `gate` is
    // closed it holds every later event back from the meter
    val sentinels = new ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var gate = new CountDownLatch(0)
    val watch = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(ScaleProbe.FlushTag) != null))
          sentinels.add(System.nanoTime())
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = gate.await()
    }
    val meter = new ScaleProbe.Meter(spark)
    sc.addSparkListener(watch)
    sc.addSparkListener(meter)
    try {
      val read = meter.time("spec", "read", 1) {
        spark.read.parquet(dir).agg(org.apache.spark.sql.functions.sum("id"))
          .head().getLong(0)
      }
      assert(read("rows") == 499500L && read("factor") == 1)
      assert(read("input_records") == 1000L)
      assert(read("input_bytes").asInstanceOf[Long] > 0L)

      val shuffled = meter.time("spec", "shuffle", 1) {
        spark.range(100).repartition(3).count()
      }
      assert(shuffled("shuffle_write_records").asInstanceOf[Long] >= 100L)
      assert(shuffled("shuffle_write_bytes").asInstanceOf[Long] > 0L)

      // untimed work between measurements stays out of the next row, even
      // when its events are still queued as the row starts
      gate = new CountDownLatch(1)
      spark.read.parquet(dir).count()
      val opener = new Thread(() => { Thread.sleep(300); gate.countDown() })
      opener.start()
      val idle = meter.time("spec", "idle", 1)(0L)
      opener.join()
      for (k <- Seq("input_records", "input_bytes", "shuffle_write_records",
          "shuffle_write_bytes"))
        assert(idle(k) == 0L, s"$k did not start from zero: ${idle(k)}")

      var bodyStart, bodyEnd = 0L
      val timed = meter.time("spec", "wall", 4, Seq("extra" -> "x")) {
        bodyStart = System.nanoTime()
        val n = spark.range(50).count()
        bodyEnd = System.nanoTime()
        n
      }
      val wall = timed("wall_s").asInstanceOf[Double]
      val trailing = sentinels.asScala.map(_.longValue).filter(_ > bodyEnd)
      assert(sentinels.asScala.exists(_ < bodyStart), "no flush before the body")
      assert(trailing.nonEmpty, "no flush after the body")
      assert(wall >= (bodyEnd - bodyStart) / 1e9)
      assert(wall < (trailing.min - bodyStart) / 1e9,
        s"wall_s $wall includes the trailing flush")
      assert(timed.keys.toSeq == Seq("probe", "section", "name", "factor",
        "rows", "wall_s", "cpu_s", "input_records", "input_bytes",
        "shuffle_write_records", "shuffle_write_bytes", "rchar_bytes", "extra"))
      assert(timed("factor") == 4 && timed("extra") == "x")
    } finally {
      gate.countDown()
      sc.removeSparkListener(meter)
      sc.removeSparkListener(watch)
    }
  }

  test("ScaleProbe.scala prints through one helper on one listener, " +
    "and never sleeps") {
    val f = new java.io.File("src/main/scala/graft/ScaleProbe.scala")
    assert(f.isFile, s"run from the project root: ${f.getAbsolutePath}")
    val src = scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.mkString)
    def sites(call: String) = src.split(java.util.regex.Pattern.quote(call), -1).length - 1
    assert(sites("println(") == 1, "println( sites")
    assert(sites("addSparkListener(") == 1, "addSparkListener( sites")
    assert(sites("Thread.sleep(") == 0, "Thread.sleep( sites")
  }
}
