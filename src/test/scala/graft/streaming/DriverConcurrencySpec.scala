package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Incremental._

/** [[Incremental.Driver]]'s two-phase epoch over the sf0.001 events
  * table: the dynamic chains (a delta-log sink and a height-bucketed one)
  * run concurrently, then the snapshot refreshes (one over the source,
  * one over the bucketed sink) run concurrently after the barrier. Every
  * sink must equal a direct scan after every epoch, a failed chain must
  * leave no writer running and the mark unmoved, and the worker threads
  * must carry the caller's Spark local properties.
  */
class DriverConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val SfDir = "/root/testdata/sf0.001"

  private def events(): DataFrame = graft.sources.Tables(spark, SfDir, "events")

  private def payDocs(chunk: DataFrame): DataFrame = chunk.select(
    md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
    col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
    col("event_id"))

  private def recDocs(chunk: DataFrame): DataFrame = chunk.select(
    md5(col("event_id").cast("string")).as("_key"), col("event_id"),
    col("user_id"), round(col("value") * 100).cast("long").as("value_c"))

  private def balances(src: DataFrame): DataFrame =
    graft.operators.Dedup.newestWins(src, Seq(col("user_id")), col("ts"),
        col("event_id"))
      .select(col("user_id").as("_key"),
        round(col("value") * 100).cast("long").as("balance_c"), col("event_id"))

  private def perUser(docs: DataFrame): DataFrame = docs.groupBy(col("user_id"))
    .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_c"))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Two dynamics and two snapshots over `events` up to `cap`; the hooks
    * run inside each chunk's extract. `per_user` reads the receipts sink,
    * so it is only right if the barrier held.
    */
  private final class Fixture(dir: String, var cap: Long,
                              payHook: () => Unit = () => (),
                              recHook: () => Unit = () => ()) {
    def source(): DataFrame = events().filter(col("event_id") <= cap)

    val driver = new Driver(spark, () => source(), "event_id",
      stateDir = s"$dir/state", sinkDir = s"$dir/sinks",
      chunkSize = 150L, minDiff = 10L,
      dynamics = Seq(
        DynamicCollection("payments", c => { payHook(); payDocs(c) },
          key = "_key", tiebreak = "event_id"),
        DynamicCollection("receipts", c => { recHook(); recDocs(c) },
          key = "_key", tiebreak = "event_id", heightBucket = Some(100L))),
      snapshots = Seq(
        SnapshotCollection("balances", _ => balances(source()),
          key = "_key", tiebreak = "event_id"),
        SnapshotCollection("per_user",
          s => perUser(s.read.parquet(s"$dir/sinks/receipts")),
          key = "user_id", tiebreak = "n")))

    def sink(name: String): DataFrame = spark.read.parquet(driver.sinkPath(name))

    def assertDirect(): Unit = Seq(
      "payments" -> payDocs(source()),
      "receipts" -> recDocs(source()),
      "balances" -> balances(source()),
      "per_user" -> perUser(recDocs(source()))).foreach { case (name, want) =>
      val got = sink(name).select(want.columns.toIndexedSeq.map(col): _*).collect()
      val exp = want.collect()
      assert(got.length == exp.length && got.toSet == exp.toSet,
        s"sink $name: ${got.length} rows differ from the direct scan's ${exp.length}")
    }
  }

  test("two phases: every sink equals a direct scan after each epoch, " +
    "a snapshot sees its dynamic sink complete, a gated epoch writes nothing") {
    val f = new Fixture(tmp("graft-driver-conc"), cap = 399L)
    val e1 = f.driver.runEpoch()
    assert(e1.ran && e1.from == 0L && e1.chunks == 3) // 400 ids / 150 per chunk
    assert(e1.collectionMs.keys.toSeq == Seq("payments", "receipts", "balances", "per_user"))
    assert(e1.collectionMs.values.forall(_ >= 0L))
    f.assertDirect()

    f.cap = 999L
    val e2 = f.driver.runEpoch()
    assert(e2.ran && e2.from == 400L && e2.chunks == 4)
    f.assertDirect()

    val e3 = f.driver.runEpoch()
    assert(!e3.ran && e3.collectionMs.isEmpty)
    assert(f.driver.checkpoint.read().contains(1000L))
    f.assertDirect()
  }

  test("a failed chain: runEpoch rethrows only after the other chain " +
    "finished, no snapshot runs, the mark stays, a clean re-run converges (T6)") {
    val fault = new AtomicBoolean(false)
    val failed = new CountDownLatch(1)
    val f = new Fixture(tmp("graft-driver-fail"), cap = 399L,
      payHook = () => if (fault.get) {
        failed.countDown()
        throw new IllegalStateException("injected extract fault")
      },
      // the receipts chain only starts writing once payments has failed
      recHook = () => if (fault.get) { failed.await(60, TimeUnit.SECONDS); () })
    f.driver.runEpoch()
    val mark = f.driver.checkpoint.read()
    assert(mark.contains(400L))
    val perUser1 = f.sink("per_user").collect().toSet

    f.cap = 999L
    fault.set(true)
    val e = intercept[IllegalStateException](f.driver.runEpoch())
    assert(e.getMessage == "injected extract fault")
    assert(f.sink("receipts").count() == 1000L,
      "the receipts chain must have written all four chunks before the rethrow")
    assert(f.driver.checkpoint.read() == mark)
    assert(f.sink("per_user").collect().toSet == perUser1,
      "a failed dynamics phase must not reach the snapshots")

    fault.set(false)
    val r = f.driver.runEpoch()
    assert(r.ran && r.from == 400L)
    assert(f.driver.checkpoint.read().contains(1000L))
    f.assertDirect()
  }

  test("every job an epoch submits carries the caller's local properties") {
    val Tag = "graft.spec.epoch_tag"
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p => Option(p.getProperty(Tag)))
          .getOrElse("<none>"))
    }
    val f = new Fixture(tmp("graft-driver-props"), cap = 999L)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "epoch")
      assert(f.driver.runEpoch().ran)
      // the bus delivers in order: once the sentinel job's start arrived,
      // so has every job the epoch submitted
      sc.setLocalProperty(Tag, "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    val all = seen.asScala.toSeq
    assert(all.contains("sentinel"), "the sentinel job never reached the listener")
    val epochJobs = all.takeWhile(_ != "sentinel")
    assert(epochJobs.size > 4, s"only ${epochJobs.size} jobs seen")
    assert(epochJobs.forall(_ == "epoch"),
      s"jobs without the caller's tag: ${epochJobs.count(_ != "epoch")} of ${epochJobs.size}")
  }

  test("duplicate collection names are refused at construction, naming the duplicate") {
    val dir = tmp("graft-driver-dup")
    val pay = DynamicCollection("payments", payDocs, key = "_key", tiebreak = "event_id")
    def driver(dyn: Seq[DynamicCollection], snap: Seq[SnapshotCollection]) =
      new Driver(spark, () => events(), "event_id", s"$dir/state", s"$dir/sinks",
        chunkSize = 150L, minDiff = 10L, dynamics = dyn, snapshots = snap)
    val twoDynamics = intercept[IllegalArgumentException](
      driver(Seq(pay, pay.copy(heightBucket = Some(100L))), Nil))
    assert(twoDynamics.getMessage.contains("duplicate collection name(s) payments"))
    val acrossKinds = intercept[IllegalArgumentException](driver(Seq(pay),
      Seq(SnapshotCollection("payments", _ => payDocs(events()), "_key", "event_id"))))
    assert(acrossKinds.getMessage.contains("duplicate collection name(s) payments"))
  }
}
