package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-test of the benchmark's own helpers and of its seeded inputs:
  *
  *   python3 perfbench/build.py --test
  *
  * Prints one line per check; exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    statistics()
    contract()
    spans()
    attribution()
    schedules()
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("perfbench-selftest").toString)
    val spark = graft.GraftSession.configure(
      SparkSession.builder().master("local[2]"), "2")
      .config("spark.sql.warehouse.dir", s"$work/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      fingerprints(spark)
      followerSeeds(spark, work)
    } finally spark.stop()
    println(if (failures == 0) "ALL OK" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def statistics(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("nearest-rank percentile") {
      Stats.percentile(xs, 0.9) == 90.0 && Stats.percentile(xs, 1.0) == 100.0 &&
        Stats.percentile(Seq(5.0), 0.5) == 5.0
    }
    check("tail: highest percentile with ten samples beyond it") {
      Stats.tail(xs) == Stats.Tail(0.9, 90.0, 100) &&
        Stats.tail(xs ++ xs) == Stats.Tail(0.95, 95.0, 200) &&
        Stats.tail((1 to 40).map(_.toDouble)) == Stats.Tail(0.75, 30.0, 40)
    }
    check("tail: the median, with n, when no percentile has ten beyond") {
      Stats.tail((1 to 39).map(_.toDouble)) == Stats.Tail(0.5, 20.0, 39) &&
        Stats.tail(Seq(2.0, 4.0)) == Stats.Tail(0.5, 3.0, 2)
    }
  }

  private def contract(): Unit = {
    val listed = Seq("a_s" -> "s", "b" -> "count")
    check("contract: listed metrics only, in order, with their units") {
      Contract.pick(listed, Map("b" -> 2.0, "a_s" -> 1.0, "c" -> 3.0)) ==
        Seq("a_s" -> (1.0, "s"), "b" -> (2.0, "count"))
    }
    check("contract: a listed metric that was not computed fails the run") {
      scala.util.Try(Contract.pick(listed, Map("a_s" -> 1.0))).isFailure
    }
  }

  private def spans(): Unit = {
    check("self time: overlapping children counted once") {
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L))) == 70
    }
    check("self time: intervals clipped to the span") {
      Stats.selfTime(0, 100, Seq((-50L, 10L), (90L, 120L))) == 80
    }
    check("self time: no children, empty and inverted intervals") {
      Stats.selfTime(5, 25, Nil) == 20 && Stats.selfTime(0, 10, Seq((3L, 3L), (8L, 2L))) == 10
    }
    check("spans nest on the client thread; disabled spans record nothing") {
      val sp = new Spans(None, enabled = true)
      sp("a", 1) { sp("b", 1) { () }; sp("c", 1) { () } }
      sp("d", 2) { () }
      val off = new Spans(None, enabled = false)
      off("x", 1) { () }
      val byName = sp.all.map(s => s.name -> s).toMap
      sp.all.map(_.name) == Seq("a", "b", "c", "d") &&
        byName("b").parent == byName("a").id && byName("c").parent == byName("a").id &&
        byName("d").parent == 0 && sp.subtree(byName("a")).size == 3 &&
        sp.all.forall(s => s.endMs >= s.startMs) && off.all.isEmpty
    }
  }

  private def attribution(): Unit = {
    val root = Span(1, "streaming.epoch", 0, 7, 0.0, 100.0)
    val child = Span(2, "pipelines.witnesses", 1, 7, 10.0, 50.0)
    val other = Span(3, "streaming.epoch", 0, 8, 200.0, 300.0)
    val jobs = Seq(
      JobRec(0, span = 2, op = 7, execId = 10, startMs = 12, endMs = 30, stages = Seq(0)),
      JobRec(1, span = 0, op = 0, execId = 11, startMs = 211, endMs = 219, stages = Seq(1)))
    val execs = Seq(ExecRec(10, 12, 40, ""), ExecRec(11, 210, 220, ""), ExecRec(12, 60, 70, ""))
    val a = new Attribution(Seq(root, child, other), jobs, execs)
    check("a job is charged to the span in its local property, and its ancestors") {
      a.jobsUnder(child).map(_.id) == Seq(0) && a.jobsUnder(root).map(_.id) == Seq(0) &&
        a.jobsUnder(other).isEmpty
    }
    check("an execution follows its first tagged job") { a.spanOfExec(execs(0)) == 2 }
    check("an execution without a tagged job goes to the innermost open span") {
      a.spanOfExec(execs(1)) == 3 && a.spanOfExec(execs(2)) == 1 &&
        a.execsUnder(root).map(_.id) == Seq(10, 12) && a.execsUnder(other).map(_.id) == Seq(11)
    }
    check("call sites map to the outermost listed layer frame") {
      val site = Seq(
        "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
        "graft.operators.Merge$.upsertParquet(Merge.scala:160)",
        "graft.operators.Merge$.upsertPartitionedByHeight(Merge.scala:400)",
        "graft.streaming.Incremental$Driver.runEpoch(Incremental.scala:1510)").mkString("\n")
      CallSites.layerOf(site).contains("operators.merge.partitioned_upsert") &&
        CallSites.layerOf("graft.streaming.Incremental$Driver.currentHeight(I.scala:1)")
          .contains("streaming.poll") &&
        CallSites.layerOf("perfbench.Main$.main(Main.scala:1)").isEmpty
    }
  }

  private val small = Follower.Sizes(total = 3000, backfill = 1000, chunk = 500, epochs = 6,
    minDiff = 50, bucket = 500, users = 40, days = 30, retainDays = 5)

  private def schedules(): Unit = {
    val a = Follower.increments(1, small)
    val b = Follower.increments(2, small)
    check("seeded schedules: same count and total, different sizes") {
      a.size == small.epochs && b.size == small.epochs && a.sum == 2000 && b.sum == 2000 && a != b
    }
    check("seeded schedules: some polls gate out, the last one never") {
      Seq(a, b).forall(s => s.exists(_ < small.minDiff / 2) && s.last >= small.minDiff)
    }
    check("seeded query order: a permutation that depends on the seed") {
      val qs = (1 to 20).map(i => s"q$i")
      val (x, y) = (Registry.orderFor(1, qs), Registry.orderFor(2, qs))
      x.sorted == qs.sorted && y.sorted == qs.sorted && x != y && x == Registry.orderFor(1, qs)
    }
  }

  private def fingerprints(spark: SparkSession): Unit = {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("m"),
      concat(lit("k"), col("id")).as("s"))
    check("fingerprint ignores row and column order, sees content") {
      val f = Fingerprint.of(df)
      f == Fingerprint.of(df.orderBy(col("id").desc).select("s", "m", "id")) &&
        f.rows == 1000 && f != Fingerprint.of(df.filter(col("id") =!= 500)) &&
        f != Fingerprint.of(df.withColumn("m", col("m") + 1))
    }
  }

  /** Two seeds: the same totals, and every output check passes. */
  private def followerSeeds(spark: SparkSession, work: String): Unit = {
    val runs = Seq(1L, 2L).map { seed =>
      val ctx = new Ctx(spark, new Spans(None, enabled = false), s"$work/seed$seed", seed)
      val wl = new Follower(small, small.copy(total = 1000, backfill = 500, epochs = 2))
      wl.prepare(ctx, 1)
      wl.pass(ctx)
    }
    check("follower: both seeds pass every check with no failed epoch") {
      runs.forall(p => p.ops.forall(_.err.isEmpty) && p.ops.count(_.kind == "check") == 4)
    }
    check("follower: both seeds sync the same rows over the same number of polls") {
      runs.map(_.ops.filter(o => o.kind != "check").map(_.rows).sum) == Seq(3000L, 3000L) &&
        runs.map(_.ops.count(_.kind != "check")).distinct.size == 1 &&
        runs.forall(_.ops.exists(_.kind == "poll"))
    }
  }
}
