package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.TestSpark
import graft.operators.{AsOf, Dedup, Sessionize, Sketches}
import graft.streaming.Streams._

/** Stream↔batch equivalence: each streaming twin in [[Streams]] must
  * produce EXACTLY the batch operator's result on the same fixture, fed as
  * multiple micro-batches (so cross-batch state merging is exercised, not
  * just a single-batch pass). Feeding respects each twin's documented
  * arrival contract — event-time-ordered chunks for the as-of state (late
  * lefts degrade by design) and a watermark delay covering the fixture
  * span for sessions (so no session is dropped half-built at a chunk
  * boundary); within those contracts the equality is exact, not
  * approximate.
  */
class StreamBatchEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("windowedRewards stream ≡ the same aggregation executed in batch (q16 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(3)
    val day = 86400000000L
    val rows = Seq.fill(300)((rnd.nextLong(3 * day), 1L + rnd.nextInt(10),
      rnd.nextInt(10000) / 100.0))
    val input = MemoryStream[(Long, Long, Double)]
    val stream = windowedRewards(
      input.toDF().toDF("ts_us", "user_id", "value"), "1 day", "0 seconds")
    val query = stream.writeStream.format("memory").queryName("eq_rewards")
      .outputMode("complete").start()
    try {
      rows.sortBy(_._1).grouped(100).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      val streamed = spark.table("eq_rewards")
        .select(col("user_id"), col("window_start").cast("long"),
          col("rewards_c"), col("cnt"))
        .as[(Long, Long, Long, Long)].collect().toSet
      // the same operator over the static frame (withWatermark is a no-op
      // in batch; window() aggregates identically)
      val batch = windowedRewards(
        rows.toDF("ts_us", "user_id", "value"), "1 day", "0 seconds")
        .select(col("user_id"), col("window_start").cast("long"),
          col("rewards_c"), col("cnt"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally query.stop()
  }

  test("newestWinsState stream ≡ Dedup.newestWins (q10 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(7)
    // snr = index keeps every (time, snr) pair unique → both sides' argmax
    // is total, so equality is exact with no tolerated ties
    val obs = (0 until 240).map { i =>
      WitnessObs(s"k${rnd.nextInt(8)}|g${rnd.nextInt(3)}",
        rnd.nextInt(1000).toLong, i.toDouble, rnd.nextBoolean())
    }
    val input = MemoryStream[WitnessObs]
    val query = newestWinsState(input.toDS())
      .writeStream.format("memory").queryName("eq_newest")
      .outputMode("update").start()
    try {
      obs.grouped(80).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      val streamed = spark.table("eq_newest")
        .groupBy("key").agg(max(struct(col("time"), col("snr"), col("isValid"))).as("s"))
        .select(col("key"), col("s.time"), col("s.snr"), col("s.isValid"))
        .as[(String, Long, Double, Boolean)].collect().toSet
      val batch = Dedup.newestWins(obs.toDF(), Seq(col("key")), col("time"), col("snr"))
        .select("key", "time", "snr", "isValid")
        .as[(String, Long, Double, Boolean)].collect().toSet
      assert(streamed == batch)
      assert(batch.size == obs.map(_.key).distinct.size)
    } finally query.stop()
  }

  test("asofEnrichState stream ≡ AsOf.backward under in-order arrival (q44 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(11)
    val rights = for (k <- 0 until 8; _ <- 1 to 5)
      yield TemporalEvent(s"k$k", rnd.nextInt(500) * 10L, isRight = true,
        rnd.nextInt(100).toDouble) // integer-valued: the long tiebreak is exact
    val lefts = for (k <- 0 until 8; j <- 1 to 8)
      yield TemporalEvent(s"k$k", rnd.nextInt(5200).toLong, isRight = false,
        1000.0 + k * 100 + j) // unique values → rows compare as a set
    // the documented arrival contract: event-time order, rights before
    // lefts at ties (chunk boundaries can then never hide a right from a
    // same-or-later left)
    val ordered = (rights ++ lefts)
      .sortBy(e => (e.time, if (e.isRight) 0 else 1, e.value))
    val input = MemoryStream[TemporalEvent]
    val query = asofEnrichState(input.toDS())
      .writeStream.format("memory").queryName("eq_asof")
      .outputMode("append").start()
    try {
      ordered.grouped(40).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      val streamed = spark.table("eq_asof")
        .as[Enriched].collect()
        .map(e => (e.key, e.time, e.value, e.asofTime, e.asofValue)).toSet
      val batch = AsOf.backward(
        lefts.map(e => (e.key, e.time, e.value)).toDF("key", "time", "value"),
        rights.map(e => (e.key, e.time, e.time, e.value)).toDF("key", "time", "rt", "value"),
        keys = Seq("key"), time = "time", tiebreak = "value",
        carry = Seq("rt", "value"))
        .select(col("key"), col("time"), col("value"), col("asof_rt"), col("asof_value"))
        .as[(String, Long, Double, Option[Long], Option[Double])].collect().toSet
      assert(streamed == batch)
      assert(batch.exists(_._4.isEmpty) && batch.exists(_._4.nonEmpty))
    } finally query.stop()
  }

  test("sessionized stream ≡ Sessionize.rollup (q59 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(19)
    val sec = 1000000L
    val gap = 30 * sec
    val rows = (for (u <- 1L to 8L; _ <- 1 to 12)
      yield (rnd.nextInt(600) * sec, u, rnd.nextInt(10000) / 100.0)) ++
      // an exact-gap pair: the stream's +1µs widening must keep it
      // in-session, matching the batch operator's strict `>`
      Seq((700 * sec, 9L, 1.0), (730 * sec, 9L, 2.0))
    // watermark delay covers the fixture span, so chunked feeding can
    // never drop a session's later events; the far-future sentinel then
    // closes everything
    val input = MemoryStream[(Long, Long, Double)]
    val stream = sessionized(
      input.toDF().toDF("ts_us", "user_id", "value"), gap, "1200 seconds")
    val query = stream.writeStream.format("memory").queryName("eq_sessions")
      .outputMode("append").start()
    try {
      rows.sortBy(_._1).grouped(35).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      input.addData((1000000 * sec, 9999L, 0.0)) // flush sentinel
      query.processAllAvailable()
      val streamed = spark.table("eq_sessions")
        .filter(col("user_id") =!= 9999L)
        .select("user_id", "n_events", "session_start", "session_end",
          "duration", "sum_value_c")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      val batch = Sessionize.rollup(rows.toDF("ts_us", "user_id", "value"),
        Seq(col("user_id")), col("ts_us"), col("value"), gap,
        round(col("value") * 100).cast("long"))
        .select(col("user_id"), col("n_events"), col("session_start"),
          col("session_end"), col("duration"), col("sum_metric"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      // the exact-gap pair really is one session on both sides
      assert(batch.contains((9L, 2L, 700 * sec, 730 * sec, gap, 300L)))
    } finally query.stop()
  }

  test("cmsSketched stream ≡ per-day batch cmsSketch (q82 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(11)
    val day = 86400000000L
    val rows = Seq.fill(400)((rnd.nextLong(3 * day), s"u${rnd.nextInt(40)}"))
    val input = MemoryStream[(Long, String)]
    val stream = Streams.cmsSketched(
      input.toDF().toDF("ts_us", "k"), "k", "1 day", "0 seconds",
      depth = 4, width = 32)
    val query = stream.writeStream.format("memory").queryName("eq_cms")
      .outputMode("complete").start()
    try {
      rows.sortBy(_._1).grouped(80).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      val streamed = spark.table("eq_cms")
        .select(col("window_start").cast("long"), col("row"), col("bucket"),
          col("c"))
        .as[(Long, Int, Long, Long)].collect().toSet
      // batch: same sketch per UTC day over the static frame
      val batch = Sketches.cmsSketch(
          rows.toDF("ts_us", "k")
            .withColumn("day", (col("ts_us") - pmod(col("ts_us"), lit(day)))
              .cast("long")),
          col("k"), lit(1L), 4, 32, groups = Seq("day"))
        .select(col("day"), col("row"), col("bucket"), col("c"))
        .as[(Long, Int, Long, Long)].collect().toSet
      // window_start cast to long is SECONDS; the batch day key is µs
      assert(streamed.map { case (w, r, b, c) => (w * 1000000L, r, b, c) } == batch)
      assert(batch.nonEmpty)
      // cross-batch cell accumulation really happened (more rows than one
      // micro-batch contributed to at least one cell)
      assert(spark.table("eq_cms").agg(max("c")).as[Long].collect().head > 1L)
    } finally query.stop()
  }

  test("kmvSketched stream ≡ per-day batch kmvDistinct (q83 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(13)
    val day = 86400000000L
    // ~90 distinct keys per day over k=16 → the estimator path; fed in 5
    // micro-batches so cross-batch KMV buffer merging is exercised
    val rows = Seq.fill(400)((rnd.nextLong(2 * day), s"u${rnd.nextInt(180)}"))
    val input = MemoryStream[(Long, String)]
    val stream = Streams.kmvSketched(
      input.toDF().toDF("ts_us", "k"), "k", "1 day", "0 seconds", k = 16)
    val query = stream.writeStream.format("memory").queryName("eq_kmv")
      .outputMode("complete").start()
    try {
      rows.sortBy(_._1).grouped(80).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
      val streamed = spark.table("eq_kmv")
        .select(col("window_start").cast("long"), col("n_mins"),
          col("est_distinct"))
        .as[(Long, Long, Double)].collect().toSet
      val batch = Sketches.kmvDistinct(
          rows.toDF("ts_us", "k")
            .withColumn("day", (col("ts_us") - pmod(col("ts_us"), lit(day)))),
          Seq("day"), col("k"), 16)
        .select(col("day"), col("n_mins"), col("est_distinct"))
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed.map { case (w, n, e) => (w * 1000000L, n, e) } == batch)
      assert(batch.nonEmpty && batch.forall(_._2 == 16L)) // estimator path hit
    } finally query.stop()
  }

  test("streamingUpsertPartitioned stream ≡ chunked batch height-bucketed sink (q91 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-hb")
      .toFile.getAbsolutePath
    // content-keyed rows over a 0..299 height range; micro-batches overlap
    // (redelivery) so sink-side idempotence is exercised, and chunk
    // boundaries deliberately MISALIGN with the bucket width (height 100
    // spans buckets 1-2 etc.) so partial-bucket merging is hit too
    val rows = (0L until 300L).map(i => (i, i % 17, (i % 23).toDouble))
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(to_json(struct(col("h"), col("user_id"), col("value"))))
        .as("_key"), col("user_id"),
        round(col("value") * 100).cast("long").as("value_c"), col("h"))
    val input = MemoryStream[(Long, Long, Double)]
    val query = Incremental.streamingUpsertPartitioned(
      shape(input.toDF().toDF("h", "user_id", "value")),
      s"$dir/ckpt", s"$dir/stream_sink", key = "_key", tiebreak = "h",
      heightCol = "h", bucketWidth = 80L)
    try {
      Seq(rows.take(150), rows.slice(100, 220), rows.drop(200)).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    // the batch driver's steady-state path over different chunking
    Seq(rows.take(90), rows.slice(90, 260), rows.drop(260)).foreach { chunk =>
      graft.operators.Merge.upsertPartitionedByHeight(spark,
        s"$dir/batch_sink", shape(chunk.toDF("h", "user_id", "value")),
        "_key", graft.operators.Merge.Ignore, "h", "h", 80L)
    }
    val streamed = spark.read.parquet(s"$dir/stream_sink")
      .select("_key", "user_id", "value_c", "h", "__hb")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = spark.read.parquet(s"$dir/batch_sink")
      .select("_key", "user_id", "value_c", "h", "__hb")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 300)
    // the layout really is height-bucketed: 300 heights / width 80 → 4 dirs
    assert(new java.io.File(s"$dir/stream_sink").listFiles()
      .count(_.getName.startsWith("__hb=")) == 4)
  }

  test("streamingSpanDedup stream ≡ global batch span dedup (q100/q102 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-span")
      .toFile.getAbsolutePath
    // Batch ids are ordered (b1 < b2 < b3), so the streamed chain must
    // equal ONE global first-wins dedup over the concatenation — the
    // q102 chaining contract, exercised across the persistent registry.
    val b1 = Seq((1L, "a b c d e f"), (2L, "c d a b x"))
    val b2 = Seq((10L, "a b q r c d"), (11L, "q r s"))
    val b3 = Seq((20L, "q r s t u v"), (21L, "a b c d e f"))
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingSpanDedup(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry",
      id = "doc_id", text = "text", k = 2)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_blocks", "kept_blocks", "new_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val global = graft.operators.TextDedup.spanDedup(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == global)
    assert(streamed.size == 6)
    assert(streamed.contains((21L, 3L, 0L, ""))) // full dup of doc 1, batches apart
    // registry carries each distinct block exactly once
    val reg = spark.read.parquet(s"$dir/registry").as[String].collect()
    assert(reg.length == reg.distinct.length)
  }

  test("streamingLmScore stream ≡ batch lmFluencyBackoff (q107 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-lm")
      .toFile.getAbsolutePath
    val train = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    val b1 = Seq((1L, "a b c"), (2L, "c a b"))
    val b2 = Seq((3L, "x b d"), (4L, "x y d"))
    val b3 = Seq((5L, "x y z"), (1L, "a b c")) // replayed doc: Ignore keeps first
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingLmScore(
      input.toDF().toDF("doc_id", "text"), train,
      s"$dir/ckpt", s"$dir/out", id = "doc_id", text = "text")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_trigrams", "n_tri_hits", "n_bi_backoffs",
        "n_uni_backoffs", "fluency_pm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.TermStats.lmFluencyBackoff(
        train, (b1 ++ b2 ++ b3).distinct.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 5)
    assert(streamed.contains((4L, 1L, 0L, 0L, 1L, 26666L))) // unigram backoff
  }

  test("streamingSubstringExcise stream ≡ global batch excision (q113/q114 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-substr")
      .toFile.getAbsolutePath
    // batch ids ordered (the q102 contract) so the streamed chain must
    // equal ONE global excision over the concatenation
    val b1 = Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8"), (2L, "b1 b2 b3 b4 b5 b6"))
    val b2 = Seq((10L, "u1 u2 a1 a2 a3 a4 a5 a6 a7 a8"), (11L, "n1 n2 n3 n4 n5 n6 n7"))
    val b3 = Seq((20L, "n1 n2 n3 n4 n5 n6 n7"), (21L, "b1 b2 b3 b4 b5 b6"))
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingSubstringExcise(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry",
      id = "doc_id", text = "text", minLen = 6)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_tokens", "n_removed", "new_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val global = graft.operators.TextDedup.substringExcise(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text", minLen = 6)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == global)
    assert(streamed.size == 6)
    // verbatim repeats of earlier batches die entirely
    val m = streamed.map(r => r._1 -> r).toMap
    assert(m(20L)._4 == "" && m(21L)._4 == "")
    // registry carries each distinct gram exactly once
    val reg = spark.read.parquet(s"$dir/registry").as[String].collect()
    assert(reg.length == reg.distinct.length)
  }

  test("streamingCohortActivity stream ≡ batch Cohorts.retention under OUT-OF-ORDER arrival (q116 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cohort")
      .toFile.getAbsolutePath
    val wk = graft.operators.Cohorts.WeekUs
    // user 1 active weeks 0,1,3; user 2 weeks 1,2; user 3 week 2 only.
    // Batches arrive OUT of time order and replay rows — the (user, week)
    // registry fold must converge regardless.
    val b1 = Seq((1L, 1L * wk + 5), (2L, 2L * wk + 9))
    val b2 = Seq((1L, 0L * wk + 1), (2L, 1L * wk + 3), (3L, 2L * wk + 7))
    val b3 = Seq((1L, 3L * wk + 2), (1L, 1L * wk + 5), (1L, 0L * wk + 100))
    val input = MemoryStream[(Long, Long)]
    val query = Incremental.streamingCohortActivity(
      input.toDF().toDF("user_id", "ts_us"),
      s"$dir/ckpt", s"$dir/registry", "user_id", "ts_us")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = Incremental.cohortRetentionFromRegistry(spark, s"$dir/registry")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Cohorts.retention(
        (b1 ++ b2 ++ b3).toDF("user_id", "ts_us"), "user_id", "ts_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    // cohort 0 = user 1 alone (offsets 0,1,3 at 100%); cohort 1 = user 2;
    // cohort 2 = user 3
    assert(streamed.contains((0L, 3L, 1L, 1000000L)))
    assert(streamed.contains((1L, 1L, 1L, 1000000L)))
    assert(streamed.size == 6) // 3 offsets (u1) + 2 (u2) + 1 (u3)
  }

  test("streamingComponents stream ≡ global dupClusters after every batch (q120 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cc")
      .toFile.getAbsolutePath
    // b1: two components; b2 bridges them + fresh pair; b3 REPLAYS b2
    // entirely (idempotence) and extends a chain.
    val b1 = Seq(("a1", "a2"), ("b1", "b2"))
    val b2 = Seq(("a2", "b1"), ("c1", "c2"))
    val b3 = b2 ++ Seq(("b2", "d9"))
    val input = MemoryStream[(String, String)]
    val query = Incremental.streamingComponents(
      input.toDF().toDF("src", "dst"),
      s"$dir/ckpt", s"$dir/registry", "src", "dst")
    try {
      var seen = Seq.empty[(String, String)]
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
        seen ++= chunk
        val streamed = Incremental.componentsFromRegistry(spark, s"$dir/registry")
          .as[(String, String, Long)].collect().toSet
        val globalCc = graft.operators.TextDedup.dupClusters(
            seen.toDF("src", "dst"), "src", "dst")
          .as[(String, String, Long)].collect().toSet
        assert(streamed == globalCc)
      }
    } finally query.stop()
    val fin = Incremental.componentsFromRegistry(spark, s"$dir/registry")
      .as[(String, String, Long)].collect().toSet
    // a1–a2–b1–b2–d9 is one 5-component labeled "a1"; c1,c2 labeled "c1"
    assert(fin.contains(("d9", "a1", 5L)))
    assert(fin.contains(("c2", "c1", 2L)))
    assert(fin.size == 7)
  }

  test("streamingFunnel stream ≡ batch funnelN under ordered arrival (q119/q122 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-funnel")
      .toFile.getAbsolutePath
    val rnd = new Random(19)
    // (event_id, user, ts, type): dense random funnels over 6 users with
    // unique timestamps; hop windows force both matches and misses.
    val types = Seq("a", "b", "c", "x")
    val events = (1L to 300L).map { i =>
      (i, (i % 6) + 1, i * 100 + rnd.nextInt(90), types(rnd.nextInt(4)))
    }
    val ordered = events.sortBy(_._3)
    val chunks = ordered.grouped(100).toSeq
    val input = MemoryStream[(Long, Long, Long, String)]
    val query = Incremental.streamingFunnel(
      input.toDF().toDF("event_id", "user_id", "ts", "event_type"),
      s"$dir/ckpt", s"$dir/state", s"$dir/out",
      "user_id", "ts", "event_id", "event_type",
      stepValues = Seq("a", "b", "c"), windows = Seq(5000L, 800L))
    try {
      // feed in order, then REPLAY the middle chunk (registry + upsert
      // must converge to the same sink)
      (chunks :+ chunks(1)).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("user_id", "ts", "step3_id", "step1_id", "step2_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    val batch = graft.operators.Funnel.funnelN(
        events.toDF("event_id", "user_id", "ts", "event_type"),
        "user_id", "ts", "event_id",
        steps = Seq(col("event_type") === "a", col("event_type") === "b",
          col("event_type") === "c"),
        windows = Seq(5000L, 800L))
      .select("user_id", "ts", "step3_id", "step1_id", "step2_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the fixture must exercise every chain shape: full, partial, none
    assert(batch.exists { case (_, _, _, s1, s2) => s1.isDefined && s2.isDefined })
    assert(batch.exists { case (_, _, _, s1, s2) => s1.isEmpty && s2.isDefined })
    assert(batch.exists { case (_, _, _, s1, s2) => s1.isEmpty && s2.isEmpty })
  }

  test("streamingImageDedup stream ≡ batch first-wins per fingerprint (q121-family twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-imgdedup")
      .toFile.getAbsolutePath
    import graft.operators.Multimodal.Ppm
    // gradient image per "scene" id: same scene → identical bytes →
    // identical dHash; different scenes → different fingerprints
    def img(scene: Int): Array[Byte] = {
      val w = 12; val h = 8
      // slope varies per scene so the mod-256 wrap positions (and hence
      // the comparison bits) differ — distinctness asserted below
      Ppm.render(w, h, 255, (for (y <- 0 until h; x <- 0 until w) yield {
        val v = (x * (scene * 2 + 3) * 7) % 256
        Array(v.toByte, v.toByte, v.toByte)
      }).flatten.toArray)
    }
    val sceneHashes = graft.operators.Multimodal.dHashPpm(spark,
        (0 to 3).map(s => (s.toLong, img(s))).toDF("id", "ppm"), "id", "ppm")
      .select("dhash").as[Long].collect().toSet
    assert(sceneHashes.size == 4, "fixture degenerate: scene hashes collide")
    val b1 = Seq((1L, img(0)), (2L, img(1)), (3L, img(0)))   // 3 dups 1
    val b2 = Seq((4L, img(1)), (5L, img(2)))                 // 4 dups 2
    val b3 = Seq((4L, img(1)), (6L, img(0)), (7L, img(3)))   // replay 4 + dup + new
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Incremental.streamingImageDedup(
      input.toDF().toDF("id", "ppm"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry", "id", "ppm")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("id").as[Long].collect().toSet
    // ordered arrival (ids ascend with time) → first-arrival = global min
    // per fingerprint = the batch keepFirst
    val all = (b1 ++ b2 ++ b3).toDF("id", "ppm")
    val batchKept = graft.operators.Multimodal.dHashDedupAgainst(
        graft.operators.Multimodal.dHashPpm(spark,
          all.dropDuplicates("id"), "id", "ppm"),
        Seq.empty[Long].toDF("dhash")) // empty seen = pure batch dedup
      .select("id").as[Long].collect().toSet
    assert(streamed == batchKept)
    assert(streamed == Set(1L, 2L, 5L, 7L)) // one per distinct scene, min id
  }

  test("streamingImageDedup over PNG: the codec seam swaps in, kept set identical to the PPM path (r14)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pngdedup")
      .toFile.getAbsolutePath
    // the SAME pixel definitions as the PPM twin above, serialized
    // through the entropy-coded Png encoder — fingerprints must match,
    // so the stream keeps the identical id set
    def px(scene: Int): Array[Byte] = {
      val w = 12; val h = 8
      (for (y <- 0 until h; x <- 0 until w) yield {
        val v = (x * (scene * 2 + 3) * 7) % 256
        Array(v.toByte, v.toByte, v.toByte)
      }).flatten.toArray
    }
    def img(scene: Int): Array[Byte] =
      graft.operators.Png.encode(12, 8, px(scene))
    val b1 = Seq((1L, img(0)), (2L, img(1)), (3L, img(0)))
    val b2 = Seq((4L, img(1)), (5L, img(2)))
    val b3 = Seq((4L, img(1)), (6L, img(0)), (7L, img(3)))
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Incremental.streamingImageDedup(
      input.toDF().toDF("id", "png"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry", "id", "png",
      hasher = graft.operators.Multimodal.dHashPng)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("id").as[Long].collect().toSet
    assert(streamed == Set(1L, 2L, 5L, 7L),
      "PNG stream must keep the same set as the PPM twin on the same pixels")
    // and the registry fingerprints EQUAL the PPM path's on the same pixels
    val viaPng = spark.read.parquet(s"$dir/registry")
      .as[Long].collect().toSet
    val viaPpm = graft.operators.Multimodal.dHashPpm(spark,
        (0 to 3).map(s => (s.toLong,
          graft.operators.Multimodal.Ppm.render(12, 8, 255, px(s))))
          .toDF("id", "ppm"), "id", "ppm")
      .select("dhash").as[Long].collect().toSet
    assert(viaPng == viaPpm, "one fingerprint machine across codecs")
  }

  test("streamingSubstringExciseBucketed ≡ the flat twin; the registry side joins WITHOUT an exchange") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-substrbkt")
      .toFile.getAbsolutePath
    val table = "graft_test_gram_registry"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll)
      f.delete(); ()
    }
    if (warehouse.exists()) rmAll(warehouse)
    // the flat twin's fixture verbatim — the equivalence target is the
    // same ONE global excision over the concatenation
    val b1 = Seq((1L, "a1 a2 a3 a4 a5 a6 a7 a8"), (2L, "b1 b2 b3 b4 b5 b6"))
    val b2 = Seq((10L, "u1 u2 a1 a2 a3 a4 a5 a6 a7 a8"), (11L, "n1 n2 n3 n4 n5 n6 n7"))
    val b3 = Seq((20L, "n1 n2 n3 n4 n5 n6 n7"), (21L, "b1 b2 b3 b4 b5 b6"))
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingSubstringExciseBucketed(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt", s"$dir/out", table,
      id = "doc_id", text = "text", minLen = 6, buckets = 16)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_tokens", "n_removed", "new_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val global = graft.operators.TextDedup.substringExcise(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), "doc_id", "text", minLen = 6)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == global, "bucketed twin ≡ flat twin ≡ global excision")
    // registry table: each distinct gram exactly once, bucketed layout
    val regGrams = spark.table(table).select("gram").as[String].collect()
    assert(regGrams.length == regGrams.distinct.length)
    // THE SCALE CLAIM, plan-asserted: with the registry as a bucketed
    // table, the excision join and the novel-gram anti-join satisfy
    // their gram-clustering straight off the scan — the registry
    // contributes ZERO shuffles, so the whole plan carries exactly one
    // FEWER exchange than the identical query against a flat registry.
    // Broadcast is pinned off inside the scope: at test size AQE would
    // broadcast the registry and hide the exchange being measured (at
    // the 100 TB registry size broadcast is not on the table).
    val batchDf = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val flatPath = s"$dir/flat_registry"
    spark.table(table).select("gram").write.parquet(flatPath)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try graft.sources.Bucketing.withForcedBucketedScan(spark) {
      val viaBucketed = graft.operators.TextDedup.substringExciseAgainst(
        batchDf, spark.table(table).select("gram"), "doc_id", "text", 6)
      val viaFlat = graft.operators.TextDedup.substringExciseAgainst(
        batchDf, spark.read.parquet(flatPath), "doc_id", "text", 6)
      assert(viaBucketed.collect().toSet == viaFlat.collect().toSet)
      assert(graft.sources.Bucketing.usedBucketedScan(viaBucketed),
        "registry must be read through the bucketed scan")
      val sB = graft.sources.Bucketing.countShuffles(viaBucketed)
      val sF = graft.sources.Bucketing.countShuffles(viaFlat)
      assert(sB == sF - 1,
        s"bucketed registry must eliminate exactly the registry-side " +
          s"exchange (bucketed $sB vs flat $sF shuffles)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    spark.sql(s"DROP TABLE $table")
  }

  test("streamingImageDedupBucketed ≡ the flat twin; the lookup is a bucket-PRUNED scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-imgbkt")
      .toFile.getAbsolutePath
    import graft.operators.Multimodal.Ppm
    def img(scene: Int): Array[Byte] = {
      val w = 12; val h = 8
      Ppm.render(w, h, 255, (for (y <- 0 until h; x <- 0 until w) yield {
        val v = (x * (scene * 2 + 3) * 7) % 256
        Array(v.toByte, v.toByte, v.toByte)
      }).flatten.toArray)
    }
    val table = "graft_test_dhash_registry"
    // drop catalog entry AND the managed location: the in-memory catalog
    // resets per JVM but the warehouse dir persists, and saveAsTable
    // refuses a name whose location lingers from a dead run
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll)
      f.delete(); ()
    }
    if (warehouse.exists()) rmAll(warehouse)
    val b1 = Seq((1L, img(0)), (2L, img(1)), (3L, img(0)))
    val b2 = Seq((4L, img(1)), (5L, img(2)))
    val b3 = Seq((4L, img(1)), (6L, img(0)), (7L, img(3)))
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Incremental.streamingImageDedupBucketed(
      input.toDF().toDF("id", "ppm"),
      s"$dir/ckpt", s"$dir/out", table, "id", "ppm", buckets = 16)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("id").as[Long].collect().toSet
    assert(streamed == Set(1L, 2L, 5L, 7L),
      "bucketed twin ≡ flat twin ≡ batch first-wins per fingerprint")
    // the registry holds exactly the distinct fingerprints, bucketed
    val regHashes = spark.table(table).select("dhash").as[Long].collect()
    assert(regHashes.length == 4 && regHashes.toSet.size == 4)
    // the lookup the twin runs is a bucket-pruned bucketed scan: probing
    // ONE fingerprint must read through the bucketed layout, not a full
    // flat scan (scan-byte pruning is the whole point of the variant)
    graft.sources.Bucketing.withForcedBucketedScan(spark) {
      val probe = Incremental.bucketedDhashLookup(spark, table,
        Array(regHashes.head))
      assert(graft.sources.Bucketing.usedBucketedScan(probe),
        "registry lookup did not go through the bucketed scan")
      assert(probe.as[Long].collect().toSeq == Seq(regHashes.head))
    }
    // empty-safe before the table exists
    spark.sql(s"DROP TABLE $table")
    assert(Incremental.bucketedDhashLookup(spark, table, Array(1L)).count() == 0)
  }

  test("streamingVideoNovelty stream ≡ the q142 global first-wins; replays land nothing (q142 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-vidnov")
      .toFile.getAbsolutePath
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(47)
    def noisy(): Array[Byte] = Multimodal.Ppm.render(10, 8, 255,
      Array.fill(240)((rnd.nextInt(256) - 128).toByte))
    val a = noisy(); val b = noisy(); val c = noisy(); val d = noisy()
    val hs = Multimodal.dHashPpm(spark,
        Seq((0L, a), (1L, b), (2L, c), (3L, d)).toDF("id", "ppm"), "id", "ppm")
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    for (i <- 0 until 4; j <- i + 1 until 4)
      assert(java.lang.Long.bitCount(hs(i) ^ hs(j)) > 8,
        s"fixture degenerate: frames $i/$j too close")
    def vid(fs: Array[Byte]*) = Multimodal.P6Stream.render(fs)
    val b1 = Seq((1L, vid(a, b)), (2L, vid(a, c)))
    val b2 = Seq((3L, vid(a, b)), (4L, vid(d)))
    val b3 = b2 // full replay: upserts must keep the first rows
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Incremental.streamingVideoNovelty(
      input.toDF().toDF("id", "video"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry", "id", "video",
      minHamming = 8)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("id", "n_scenes", "novel_scenes", "novelty_pm")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // each frame here is its own scene (all mutual hammings clear 8);
    // first-wins across arrival order: video 1 all novel, video 2 shares
    // keyframe a, video 3 is a visual re-upload (both seen), video 4 new
    assert(streamed == Seq(
      (1L, 2L, 2L, 1000000L), (2L, 2L, 1L, 500000L),
      (3L, 2L, 0L, 0L), (4L, 1L, 1L, 1000000L)))
    // ≡ the q142-style batch computation over everything that arrived
    // (ordered arrival: ids ascend with time, so the chained per-batch
    // first-wins equals ONE global (id, scene)-ordered window)
    val all = (b1 ++ b2).toDF("id", "video")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("keyframe_dhash"))
      .orderBy(col("id").asc, col("scene").asc)
    val batchTwin = Multimodal.keyframes(spark, all, "id", "video", 8)
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_scenes"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("novel_scenes"),
        expr("(1000000 * sum(CASE WHEN __rn = 1 THEN 1 ELSE 0 END))" +
          " div count(1)").as("novelty_pm"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batchTwin)
    // registry = the distinct fingerprints, appended exactly once
    assert(spark.read.parquet(s"$dir/registry").select("dhash")
      .as[Long].collect().toSet == hs.toSet)
  }

  test("streamingSpanCorrupt stream ≡ batch examples (q111 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-spancor")
      .toFile.getAbsolutePath
    val b1 = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b c d e f g h"))
    val b2 = Seq((3L, (1 to 40).map(i => s"t$i").mkString(" ")))
    val b3 = Seq((1L, "the quick brown fox jumps over the lazy dog")) // replay
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingSpanCorrupt(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt", s"$dir/out", "doc_id", "text", ratePm = 300)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_tokens", "n_spans", "n_masked", "inputs", "targets")
      .as[(Long, Long, Long, Long, String, String)].collect().toSet
    val batch = graft.operators.SpanCorrupt.examples(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", ratePm = 300)
      .as[(Long, Long, Long, Long, String, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 3)
  }

  test("streamingDsirScore stream ≡ batch importanceScores (q110 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dsir")
      .toFile.getAbsolutePath
    val target = Seq((100L, "solar panel efficiency"),
      (101L, "solar panel report")).toDF("doc_id", "text")
    val raw = Seq((1L, "solar panel news"), (2L, "cat video"),
      (3L, "panel report update"), (4L, "weather report"),
      (5L, "solar farm report")).toDF("doc_id", "text")
    val b1 = Seq((1L, "solar panel news"), (2L, "cat video"))
    val b2 = Seq((3L, "panel report update"), (4L, "weather report"))
    val b3 = Seq((5L, "solar farm report"), (1L, "solar panel news")) // replay
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingDsirScore(
      input.toDF().toDF("doc_id", "text"), raw, target,
      s"$dir/ckpt", s"$dir/out", "doc_id", "text", buckets = 1024)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_feats", "score_pm")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.operators.Dsir.importanceScores(
        raw, target, "doc_id", "text", 1024)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 5)
  }

  test("streamingBpeSegment stream ≡ batch applyMerges over the full vocabulary (q106 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-bpe")
      .toFile.getAbsolutePath
    // Train once on a fixed vocab (the q105 contract), freeze the rules.
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L), ("lowest", 4L)).toDF("w", "f")
    val merges = graft.operators.Bpe.trainMerges(vocab, "w", "f", nMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // Chunks overlap heavily: "low"/"newest" recur across batches and b3
    // replays b1's words entirely — the anti-join must land each word once.
    val b1 = Seq("low", "newest", "slow")
    val b2 = Seq("newest", "widest", "low", "glowing")
    val b3 = Seq("low", "slow", "newest")
    val input = MemoryStream[String]
    val query = Incremental.streamingBpeSegment(
      input.toDF().toDF("w"), s"$dir/ckpt", s"$dir/out", "w", merges)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("w", "pieces", "n_pieces")
      .as[(String, String, Long)].collect().toSeq
    // each distinct word exactly once, despite the overlap and the replay
    assert(streamed.map(_._1).sorted == streamed.map(_._1).distinct.sorted)
    val batch = graft.operators.Bpe.applyMerges(
        (b1 ++ b2 ++ b3).toDF("w"), "w", merges)
      .select("w", "pieces", "n_pieces")
      .as[(String, String, Long)].collect().toSeq
    assert(streamed.toSet == batch.toSet)
    assert(streamed.size == 5) // low, newest, slow, widest, glowing
    // trained words segment to their trained form (merges actually fired)
    assert(streamed.exists { case (w, p, n) => w == "low" && n < w.length })
  }

  test("streamingUnigramSegment stream ≡ batch segment over the full vocabulary (q128 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-uni")
      .toFile.getAbsolutePath
    // Train once (the q128 contract), freeze the scored vocabulary.
    val train = Seq(("lowest", 5L), ("newest", 6L), ("low", 4L))
      .toDF("w", "f")
    val vocab = graft.operators.Unigram
      .trainVocab(train, "w", "f", maxLen = 4, topK = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // Overlapping chunks + a full replay: the anti-join must land each
    // distinct word exactly once.
    val b1 = Seq("low", "newest", "slow")
    val b2 = Seq("newest", "widest", "low", "glowing")
    val b3 = Seq("low", "slow", "newest")
    val input = MemoryStream[String]
    val query = Incremental.streamingUnigramSegment(
      input.toDF().toDF("w"), s"$dir/ckpt", s"$dir/out", "w", vocab,
      maxLen = 4)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("w", "n_pieces", "score", "pieces")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(streamed.map(_._1).sorted == streamed.map(_._1).distinct.sorted)
    val batch = graft.operators.Unigram.segment(
        (b1 ++ b2 ++ b3).toDF("w"), "w", vocab, maxLen = 4)
      .select("w", "n_pieces", "score", "pieces")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(streamed.toSet == batch.toSet)
    assert(streamed.size == 5) // low, newest, slow, widest, glowing
    // a trained word actually uses a multi-char piece
    assert(streamed.exists { case (w, n, _, _) => w == "newest" && n < w.length })
  }

  test("streamingChunk stream ≡ batch tokenWindows; replay rewrites, never duplicates (q125 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-chunk")
      .toFile.getAbsolutePath
    val d1 = (1L, (1 to 10).map(i => s"a$i").mkString(" "))
    val d2 = (2L, (1 to 3).map(i => s"b$i").mkString(" "))
    val d3 = (3L, (1 to 7).map(i => s"c$i").mkString(" "))
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingChunk(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", s"$dir/out",
      "doc_id", "text", size = 4, overlap = 1)
    try {
      Seq(Seq(d1, d2), Seq(d3, d1), Seq(d1)).foreach { chunk => // d1 replays twice
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "chunk_idx", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Int, Long, Long, String)].collect().toSet
    val batch = graft.operators.Chunk.tokenWindows(
        Seq(d1, d2, d3).toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .select("doc_id", "chunk_idx", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Int, Long, Long, String)].collect().toSet
    assert(streamed == batch)
    assert(streamed.count(_._1 == 1L) == 3) // 10 toks, size 4 stride 3 → 3 chunks
  }

  test("streamingCdcDedup: edited re-crawl contributes its edit; chunks chain through the registry (q131 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cdc")
      .toFile.getAbsolutePath
    val base = (1 to 60).map(i => s"t${i * 7 % 17}x$i")
    val edited = base.updated(30, "EDITED")
    val b1 = Seq(("d1", base.mkString(" ")))
    val b2 = Seq(("d2", edited.mkString(" ")),  // re-crawl of d1, edited
      ("d3", (1 to 9).map(i => s"q$i").mkString(" ")))
    val b3 = b1 // full replay
    val input = MemoryStream[(String, String)]
    val query = Incremental.streamingCdcDedup(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", s"$dir/out",
      s"$dir/reg", "doc_id", "text", divisor = 8)
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_chunks", "new_chunks", "new_text")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("d1")._3 == out("d1")._2, "first crawl: everything is new")
    assert(out("d2")._3 <= 2 && out("d2")._4.contains("EDITED"),
      "edited re-crawl contributes only the edited neighborhood")
    assert(out.size == 3)
    // the replayed d1 kept its FIRST landing (everything-new), not a
    // post-registry rerun's zero
    assert(out("d1")._3 > 0)
    // registry holds exactly the distinct chunk hashes of all three docs
    val reg = spark.read.parquet(s"$dir/reg").as[String].collect().toSet
    val all = graft.operators.Chunk.contentDefined(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", 8)
      .select("chunk_hash").as[String].collect().toSet
    assert(reg == all)
  }

  test("streamingSftRender: conversations re-render as turns arrive; stream ≡ batch (q127 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sft")
      .toFile.getAbsolutePath
    // (conv, turn_id, ts, role, content)
    val turns = Seq(
      ("c1", 1L, 10L, "user", "hi"),
      ("c1", 2L, 20L, "assistant", "hello there"),
      ("c2", 1L, 5L, "assistant", "monologue"),
      ("c1", 3L, 30L, "assistant", "more"))
    val b1 = turns.take(3)
    val b2 = Seq(turns(3), turns(0)) // extends c1 + re-sends its turn 1
    val b3 = b1 // full replay
    val input = MemoryStream[(String, Long, Long, String, String)]
    val query = Incremental.streamingSftRender(
      input.toDF().toDF("conv", "turn_id", "ts", "role", "content"),
      s"$dir/ckpt", s"$dir/out", s"$dir/reg")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val cols = Seq("conv", "n_turns", "n_assistant", "rendered",
      "mask_starts", "mask_ends")
    val streamed = spark.read.parquet(s"$dir/out")
      .select(cols.head, cols.tail: _*)
      .as[(String, Long, Long, String, Seq[Long], Seq[Long])]
      .collect().toSet
    val batch = graft.operators.Sft.renderChat(
        turns.toDF("conv", "turn_id", "ts", "role", "content"),
        Seq(col("conv")), col("ts"), col("turn_id"),
        col("role"), col("content"))
      .select(cols.head, cols.tail: _*)
      .as[(String, Long, Long, String, Seq[Long], Seq[Long])]
      .collect().toSet
    assert(streamed == batch)
    // c1 converged to its FULL three-turn render with both masks live
    val c1 = streamed.find(_._1 == "c1").get
    assert(c1._2 == 3L && c1._5.size == 2)
    assert(c1._5.zip(c1._6).map { case (s, e) =>
      c1._4.substring(s.toInt, e.toInt) } == Seq("hello there", "more"))
  }

  test("streamingSftRender: a legacy __tk (concat-key) registry is " +
    "migrated on first batch instead of killing the stream (ADVICE r19)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sft-mig")
      .toFile.getAbsolutePath
    // a registry written by the pre-tuple-key code: same rows, plus the
    // concat __tk column the old upsert keyed on
    Seq(("c1", 1L, 10L, "user", "hi", "c1:1"),
        ("c1", 2L, 20L, "assistant", "hello there", "c1:2"))
      .toDF("conv", "turn_id", "ts", "role", "content", "__tk")
      .write.parquet(s"$dir/reg")
    val input = MemoryStream[(String, Long, Long, String, String)]
    val query = Incremental.streamingSftRender(
      input.toDF().toDF("conv", "turn_id", "ts", "role", "content"),
      s"$dir/ckpt", s"$dir/out", s"$dir/reg")
    try {
      // pre-fix: Merge.upsert threw 'schema mismatch' here and the
      // stream died with no upgrade path
      input.addData(("c1", 3L, 30L, "assistant", "more"))
      query.processAllAvailable()
    } finally query.stop()
    // the legacy turns participated in the re-render
    val c1 = spark.read.parquet(s"$dir/out")
      .select("conv", "n_turns").as[(String, Long)].collect().toMap
    assert(c1 == Map("c1" -> 3L))
    // and the registry is clean: __tk gone, all three turns present
    val reg = spark.read.parquet(s"$dir/reg")
    assert(!reg.columns.contains("__tk"))
    assert(reg.count() == 3L)
  }

  test("streamingDatasetCard: summed batchId-partials ≡ the batch card; replay cannot double-count (q132 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-card")
      .toFile.getAbsolutePath
    // (doc_id, source, lang, text) — doc 4 is an exact dup of doc 1's
    // normalized text in a LATER batch (registry-hit dup), doc 3 an
    // in-batch dup of doc 2
    val docs = Seq(
      ("d1", "sA", "en", "the quick fox"),
      ("d2", "sA", "en", "la le les bla"),
      ("d3", "sB", "fr", "la  le LES bla"), // normalizes ≡ d2 (lowercased)
      ("d4", "sB", "de", "The  Quick   Fox"), // normalizes ≡ d1
      ("d5", "sB", "fr", "le la les encore"))
    val b1 = docs.take(2)
    val b2 = docs.drop(2)
    val b3 = docs.take(2) // full replay of b1
    val input = MemoryStream[(String, String, String, String)]
    val query = Incremental.streamingDatasetCard(
      input.toDF().toDF("doc_id", "source", "lang", "text"),
      s"$dir/ckpt", s"$dir/partials", s"$dir/reg")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val cols = Seq("source", "n_docs", "n_tokens", "mean_tokens_milli",
      "n_dup_docs", "dup_pm", "lang_match_pm", "stop_pm_mean")
    val streamed = Incremental.datasetCardFromPartials(spark, s"$dir/partials")
      .select(cols.head, cols.tail: _*).collect().toSet
    // b3 re-SENDS b1's documents as new data (MemoryStream assigns a new
    // batchId — this is re-ingestion, not an engine replay): they must
    // COUNT, as registry-hit duplicates — so the batch reference is the
    // card over everything that arrived.
    val batch = graft.queries.Curation.datasetCardOf(
        (docs ++ b3).toDF("doc_id", "source", "lang", "text"))
      .select(cols.head, cols.tail: _*).collect().toSet
    assert(streamed == batch)
    // dup accounting fired both ways: d3 and d4 (cross-source content
    // dups of d2/d1) are sB's 2 dups of 3 docs; sA's re-sent pair are
    // both dups
    val card = Incremental.datasetCardFromPartials(spark, s"$dir/partials")
      .select("source", "n_docs", "n_dup_docs")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(card("sB") == ((3L, 2L)) && card("sA") == ((4L, 2L)))
    // an ENGINE replay re-runs foreachBatch with the SAME batchId; the
    // partial it recomputes (dup flags now differ — the registry has
    // absorbed the batch) is dropped by first-wins on (source, batchId).
    // Pin that directly: a conflicting partial under an existing key
    // must not change the card.
    val poison = spark.sql(
      """SELECT 'sA' AS source, 999L AS n_docs, 999L AS n_tokens,
        |  999L AS n_dup_docs, 999L AS n_lang_match, 999L AS stop_pm_sum,
        |  0L AS batch_id""".stripMargin)
    graft.operators.Merge.upsertParquet(spark, s"$dir/partials", poison,
      Seq("source", "batch_id"), graft.operators.Merge.Ignore, "n_docs")
    val after = Incremental.datasetCardFromPartials(spark, s"$dir/partials")
      .select(cols.head, cols.tail: _*).collect().toSet
    assert(after == batch, "a same-batchId partial must be dropped, not summed")
  }

  test("streamingIndexIngest stream ≡ batch buildIvfPqIndex; search serves the grown index (q92 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-idx")
      .toFile.getAbsolutePath
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 8)
    val all = emb.filter(col("vec_id") < 60)
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, rest) = all.splitAt(20)
    val (b2, b3tail) = rest.splitAt(20)
    val b3 = b3tail ++ b1.take(5) // replayed vectors must not re-index
    val input = MemoryStream[(Long, Seq[Float])]
    val query = graft.streaming.Incremental.streamingIndexIngest(
      input.toDF().toDF("vec_id", "embedding"), s"$dir/ckpt", s"$dir/index",
      cents, "vec_id", "embedding")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/index")
    val batch = graft.operators.Similarity.buildIvfPqIndex(
      all.toDF("vec_id", "embedding"), cents, "vec_id", "embedding")
    val cols = batch.columns.sorted
    assert(streamed.select(cols.head, cols.tail: _*).collect().toSet ==
      batch.select(cols.head, cols.tail: _*).collect().toSet)
    assert(streamed.count() == 60)
    // the grown index actually serves: indexed search ≡ the end-to-end
    // form over the same corpus
    val qp = col("vec_id") >= 20 && col("vec_id") < 25
    val corpus = all.toDF("vec_id", "embedding")
    val qAssigned = graft.operators.Similarity.ivfAssign(
        corpus.filter(qp), cents, "vec_id", "embedding")
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("cell"))
    val viaStream = graft.operators.Similarity.ivfPqTopKIndexed(
        streamed, qAssigned, k = 3)
      .select("qid", "cid", "adc_pm", "rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = graft.operators.Similarity.ivfPqTopK(
        corpus, cents, "vec_id", "embedding", qp, k = 3)
      .select("qid", "cid", "adc_pm", "rank")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaStream == direct && direct.nonEmpty)
  }

  test("streamingPostingsIngest stream ≡ batch bm25Postings; serve ≡ full-rebuild BM25 (q157/q162 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-postings")
      .toFile.getAbsolutePath
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (b1, rest) = docs.splitAt(20)
    val (b2, b3tail) = rest.splitAt(20)
    val b3 = b3tail ++ b1.take(5) // replayed docs must not re-index
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.Incremental.streamingPostingsIngest(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", s"$dir/postings",
      "doc_id", "text")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = spark.read.parquet(s"$dir/postings")
    val batch = graft.operators.TermStats.bm25Postings(
      docs.toDF("doc_id", "text"), "doc_id", "text")
    assert(streamed.collect().toSet == batch.collect().toSet)
    // the grown registry actually serves: ranked retrieval over it is
    // bit-identical to a full rebuild over the same corpus
    val qs = docs.filter(_._1 % 25 == 0)
      .map { case (i, t) => (i, t.trim.split("\\s+").take(4).toSeq) }
    val served = graft.operators.TermStats.bm25TopKFromPostings(
        streamed, qs.toDF("q_id", "qt"), "q_id", "qt", k = 5)
      .select("q", "doc", "n_terms", "score_pm", "rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val rebuilt = graft.operators.TermStats.bm25TopK(
        docs.toDF("doc_id", "text"), qs.toDF("q_id", "qt"),
        "doc_id", "text", "q_id", "qt", k = 5)
      .select("q", "doc", "n_terms", "score_pm", "rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(served == rebuilt && rebuilt.nonEmpty)
  }

  test("streamingDriftPartials ≡ batch tvdAgainstRegistry over all streamed rows (q158 twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-drift")
      .toFile.getAbsolutePath
    // Reference histogram: bins 1..4 uniform per feature.
    val ref = graft.operators.Drift.binnedCounts(
      (1L to 4L).flatMap(b => Seq(("f1", b), ("f2", b)))
        .toDF("feature", "bin"), Seq("feature"), "bin")
    // Three micro-batches whose union skews f1 toward bin 1.
    val b1 = Seq(("f1", 1L), ("f1", 1L), ("f2", 1L))
    val b2 = Seq(("f1", 1L), ("f2", 2L), ("f2", 3L))
    val b3 = Seq(("f1", 2L), ("f2", 4L))
    val input = MemoryStream[(String, Long)]
    val query = Incremental.streamingDriftPartials(
      input.toDF().toDF("feature", "bin"),
      s"$dir/ckpt", s"$dir/partials", Seq("feature"), "bin")
    try {
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val served = Incremental.driftFromPartials(spark, s"$dir/partials",
        ref, Seq("feature"), "bin")
      .as[(String, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Drift.tvdAgainstRegistry(ref,
        (b1 ++ b2 ++ b3).toDF("feature", "bin"), Seq("feature"), "bin")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(served == batch && batch.nonEmpty)
    // partials carry one row per (feature, bin, batch) — replay-safe keys
    val parts = spark.read.parquet(s"$dir/partials")
    assert(parts.select("feature", "bin", "batch_id").distinct().count()
      == parts.count())
  }

  test("streamingSplitAssign ≡ q164 on registry-only matches; a later arrival inherits from an EARLIER batch (growth)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-split")
      .toFile.getAbsolutePath
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 80).select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect().toSeq
    val standing = docs.filter(_._1 % 2 == 0)
    val arriving = docs.filter(_._1 % 2 == 1)
    // seed the registry from the standing corpus: its sigs + q43 labels
    val k = graft.queries.LlmPipelines.ShingleK
    val nh = graft.queries.LlmPipelines.NumHashes
    val bands = graft.queries.LlmPipelines.Bands
    val sSigs = graft.operators.TextDedup.minhashSignatures(
      standing.toDF("doc_id", "text", "n_chars"), "doc_id", "text", k, nh)
    sSigs.write.parquet(s"$dir/sigs")
    graft.operators.TextDedup.dupClusters(
        graft.operators.TextDedup.lshCandidatePairs(sSigs, nh, bands)
          .filter(col("n_sig_equal") >= 8), "doc_a", "doc_b")
      .select(col("node").as("edoc"), col("cluster"))
      .write.parquet(s"$dir/labels")
    // inject a designed near-dup pair ACROSS arriving batches: doc 9001
    // (batch 1) and doc 9003 (batch 2) share text that matches nothing else
    val dupText = "omega sigma lambda kappa iota upsilon phi chi psi rho"
    val (b1, b2x) = arriving.splitAt(20)
    val b1x = b1 :+ ((9001L, dupText, 10L))
    val b2 = b2x :+ ((9003L, dupText, 10L))
    val b3 = b2.take(5) // pure replay: must append nothing
    val splits = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val input = MemoryStream[(Long, String, Long)]
    val query = graft.streaming.Incremental.streamingSplitAssign(
      input.toDF().toDF("doc_id", "text", "n_chars"), s"$dir/ckpt",
      s"$dir/out", s"$dir/sigs", s"$dir/labels", "doc_id", "text",
      k, nh, bands, minSigEqual = 8, splits, salt = "exp1")
    try {
      Seq(b1x, b2, b3).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val out = spark.read.parquet(s"$dir/out")
      .select($"doc_id", $"inherited", $"skey", $"split")
      .as[(Long, Boolean, Long, String)].collect().map(r => r._1 -> r).toMap
    // exactly-once: each arriving doc assigned once, replays appended nothing
    assert(out.size == arriving.size + 2)
    // growth: the batch-2 near-dup inherited the batch-1 doc's key
    assert(out(9003L)._2 && out(9003L)._3 == 9001L)
    assert(out(9003L)._4 == out(9001L)._4)
    // registry-only matches agree with the batch q164 form per doc
    val batchForm = graft.queries.LlmPipelines.splitAssignIncremental(
        docs.toDF("doc_id", "text", "n_chars"))
      .select($"doc_id", $"inherited", $"skey", $"split")
      .as[(Long, Boolean, Long, String)].collect().map(r => r._1 -> r).toMap
    arriving.map(_._1).foreach { id =>
      assert(out(id) == batchForm(id), s"doc $id diverged from the batch form")
    }
  }

  test("streamingTermAssociations: summed partials ≡ the q175 batch tables; a replayed partial cannot double-count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-assoc")
      .toFile.getAbsolutePath
    val docs = Seq((1L, "a b c a"), (2L, "b c d"), (3L, "a d a b"),
      (4L, "c d b"))
    val b1 = docs.take(2)
    val b2 = docs.drop(2)
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingTermAssociations(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/ckpt", s"$dir/pairs", s"$dir/terms", window = 2)
    try {
      Seq(b1, b2).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    def served = Incremental.associationsFromPartials(
        spark, s"$dir/pairs", s"$dir/terms", minPairCount = 1)
      .as[(String, String, Long, Long)].collect().toSet
    val streamed = served
    val all = docs.toDF("doc_id", "text")
    val batch = graft.operators.Cooccurrence.associationScores(
        graft.operators.Cooccurrence.termPairCounts(all, "text", 2),
        graft.operators.Cooccurrence.termOccurrences(all, "text"), 1)
      .as[(String, String, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // engine replay at the merge level: a recomputed batch-0 partial
    // re-lands under its existing (a, b, batchId) tuple key with DIFFERENT
    // counts — first-wins Ignore must drop it, serve unchanged.
    graft.operators.Merge.upsertParquet(spark, s"$dir/pairs",
      Seq(("a", "b", 999L, 0L)).toDF("a", "b", "c_ab", "batch_id"),
      Seq("a", "b", "batch_id"), graft.operators.Merge.Ignore, "c_ab")
    assert(served == batch, "a replayed partial changed the served counts")
    // the delimiter-collision class the tuple key exists for (r15 advice):
    // tokens are whitespace-split, so ("x","y|z") and ("x|y","z") are both
    // legitimate DISTINCT pairs — a concat'd pk aliased them and silently
    // dropped one. Land both under one batch; both must survive.
    graft.operators.Merge.upsertParquet(spark, s"$dir/pairs",
      Seq(("x", "y|z", 5L, 7L), ("x|y", "z", 3L, 7L))
        .toDF("a", "b", "c_ab", "batch_id"),
      Seq("a", "b", "batch_id"), graft.operators.Merge.Ignore, "c_ab")
    val ambiguous = spark.read.parquet(s"$dir/pairs")
      .filter($"batch_id" === 7L).as[(String, String, Long, Long)]
      .collect().toSet
    assert(ambiguous == Set(("x", "y|z", 5L, 7L), ("x|y", "z", 3L, 7L)),
      "delimiter-ambiguous pairs must land as distinct tuple keys")
  }

  test("streamingCurriculum ≡ the q188 batch registry fold; a replay swaps in identical bytes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-cur")
      .toFile.getAbsolutePath
    val weights = Map("a" -> 4, "b" -> 2, "c" -> 1, "d" -> 1)
    val b1 = (0 until 60).map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    val b2 = (1000 until 1040)
      .map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingCurriculum(
      input.toDF().toDF("id", "g"), s"$dir/ckpt", s"$dir/reg",
      "g", "id", "cur", weights, servedOf = _ / 2, nBuckets = 8)
    try {
      Seq(b1, b2).foreach { chunk =>
        input.addData(chunk: _*); query.processAllAvailable()
      }
    } finally query.stop()
    def readReg = spark.read.parquet(s"$dir/reg")
      .select($"id", $"pos", $"frozen").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val streamed = readReg
    // batch twin: orderRegistry on batch 1, one extendRegistry step at
    // the same watermark policy (|reg| / 2 = 30)
    val reg0 = graft.operators.Ranks.orderRegistry(
      b1.toDF("id", "g"), "g", "id", "cur", weights, nBuckets = 8)
    val batchForm = graft.operators.Ranks.extendRegistry(
        reg0, b2.toDF("id", "g"), "g", "id", "cur", weights,
        servedRows = 30, nBuckets = 8)
      .select($"id", $"pos", $"frozen").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed === batchForm)
    assert(streamed.values.map(_._1).toSeq.sorted === (1L to 100L))
    // replay: re-deliver batch 2 through a fresh stream against the same
    // registry — every id anti-joins away and every POSITION re-lands
    // identically (frozen flags are bookkeeping of the LATEST watermark,
    // which legitimately advanced with the registry size: 50 vs 30)
    val input2 = MemoryStream[(Long, String)]
    val query2 = Incremental.streamingCurriculum(
      input2.toDF().toDF("id", "g"), s"$dir/ckpt2", s"$dir/reg",
      "g", "id", "cur", weights, servedOf = _ / 2, nBuckets = 8)
    try { input2.addData(b2: _*); query2.processAllAvailable() }
    finally query2.stop()
    assert(readReg.view.mapValues(_._1).toMap
      === streamed.view.mapValues(_._1).toMap,
      "a replayed batch moved positions")
  }

  test("streamingCurriculumSegmented ≡ monolithic; frozen segments append once and never rewrite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-curseg")
      .toFile.getAbsolutePath
    val weights = Map("a" -> 4, "b" -> 2, "c" -> 1, "d" -> 1)
    def rows(r: Range) = r.map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    val batches = Seq(rows(0 until 60), rows(1000 until 1040),
      rows(2000 until 2040))
    def drive(path: String,
              mk: (org.apache.spark.sql.DataFrame, String) =>
                org.apache.spark.sql.streaming.StreamingQuery)
        : Seq[Map[String, (Long, Long)]] = {
      val input = MemoryStream[(Long, String)]
      val query = mk(input.toDF().toDF("id", "g"), path)
      val frozenDir = new java.io.File(s"$path/reg/frozen")
      def frozenFiles = Option(frozenDir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      try batches.map { chunk =>
        input.addData(chunk: _*); query.processAllAvailable(); frozenFiles
      } finally query.stop()
    }
    val snaps = drive(s"$dir/seg", (df, p) =>
      Incremental.streamingCurriculumSegmented(df, s"$p/ckpt", s"$p/reg",
        "g", "id", "cur", weights, servedOf = _ / 2, nBuckets = 8))
    drive(s"$dir/mono", (df, p) =>
      Incremental.streamingCurriculum(df, s"$p/ckpt", s"$p/reg",
        "g", "id", "cur", weights, servedOf = _ / 2, nBuckets = 8))
    def positions(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"pos").as[(Long, Long)].collect().toMap
    val seg = positions(
      Incremental.curriculumRegistry(spark, s"$dir/seg/reg"))
    val mono = positions(spark.read.parquet(s"$dir/mono/reg"))
    assert(seg === mono, "segmented and monolithic registries diverged")
    assert(seg.size == 140 && seg.values.toSeq.sorted == (1L to 140L))
    // append-once: every frozen segment present after batch 2 is
    // byte-identical (name, length, mtime) after batch 3 — graduation
    // only ADDS files, history is never rewritten (the whole point)
    val (afterB2, afterB3) = (snaps(1), snaps(2))
    assert(afterB2.nonEmpty, "batch 2 must graduate the served prefix")
    afterB2.foreach { case (name, sig) =>
      assert(afterB3.get(name).contains(sig),
        s"frozen segment $name was rewritten by a later batch")
    }
    assert(afterB3.size > afterB2.size, "batch 3 must graduate new rows")
    // the shadow reader heals a crash between graduation and tail swap:
    // duplicate the newest frozen rows back into the tail and re-read
    val f = spark.read.parquet(s"$dir/seg/reg/frozen")
    val hwm = f.agg(max($"pos")).head.getLong(0)
    val dup = f.filter($"pos" === hwm)
    dup.write.mode("append").parquet(s"$dir/seg/reg/tail")
    assert(positions(
        Incremental.curriculumRegistry(spark, s"$dir/seg/reg")) === seg,
      "the frozen-hwm shadow must drop a stale duplicated tail prefix")
  }

  test("segmented curriculum survives no-graduation batches and a legacy " +
    "schema-only frozen/ (the r16 empty-append NPE wedge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-curseg-wedge")
      .toFile.getAbsolutePath
    val weights = Map("a" -> 1, "b" -> 1)
    def drive(ckpt: String, chunks: Seq[Seq[(Long, String)]]): Unit = {
      val input = MemoryStream[(Long, String)]
      val query = Incremental.streamingCurriculumSegmented(
        input.toDF().toDF("id", "g"), ckpt, s"$dir/reg",
        "g", "id", "cur", weights, servedOf = _ / 2, nBuckets = 4)
      try chunks.foreach { c =>
        input.addData(c: _*); query.processAllAvailable()
      } finally query.stop()
    }
    // batch 1 seeds the tail; batch 2 has servedOf(1)=0 ⇒ NOTHING
    // graduates — the pre-fix code appended an empty frame here, leaving
    // a schema-only frozen/ whose NULL max(pos) NPE-wedged batch 3 and
    // every replay after it
    drive(s"$dir/ckpt1", Seq(Seq((1L, "a")), Seq((2L, "b"))))
    def frozenParquets = Option(
      new java.io.File(s"$dir/reg/frozen").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    assert(frozenParquets.isEmpty,
      "a no-graduation batch must not create a frozen segment file")
    // batches 3-4 must run (pre-fix: NPE at the gradFloor read)
    drive(s"$dir/ckpt2", Seq(Seq((3L, "a")), Seq((4L, "b"))))
    def positions = Incremental.curriculumRegistry(spark, s"$dir/reg")
      .select($"id", $"pos").as[(Long, Long)].collect().toMap
    val healthy = positions
    assert(healthy.values.toSeq.sorted == (1L to 4L))
    // legacy wedge: a registry written BEFORE the append guard (or a
    // crash mid-append) can still carry a schema-only frozen/ — the
    // reader must degrade to the tail-only case, not throw
    val tailDf = spark.read.parquet(s"$dir/reg/tail")
    tailDf.filter(lit(false)).write.mode("append")
      .parquet(s"$dir/reg/frozen")
    assert(frozenParquets.nonEmpty, "fixture: schema-only part expected")
    assert(positions === healthy,
      "a schema-only frozen/ must read as tail-only, not NPE")
    // and the stream keeps running against that legacy layout
    drive(s"$dir/ckpt3", Seq(Seq((5L, "a"))))
    assert(positions.values.toSeq.sorted == (1L to 5L),
      "the stream must extend a registry with a schema-only frozen/")
  }

  test("streamingImpactIndex ≡ bm25ImpactIndex on the full corpus; serve " +
    "registry ≡ from-scratch; replay and duplicate appends heal") {
    import spark.implicits._
    import graft.operators.TermStats
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-impact-reg")
      .toFile.getAbsolutePath
    val reg = s"$dir/reg"
    // small deterministic corpus: cyclic token patterns with repeats and
    // varying doc lengths, so tf AND dl both drive real per-term
    // competition for the top-m slots
    def text(i: Long): String =
      (0 until (4 + (i % 3)).toInt).map(j => s"t${(i + j * j) % 7}")
        .mkString(" ")
    val chunks = Seq((0L until 30L), (30L until 60L), (60L until 90L))
      .map(_.map(i => (i, text(i))))
    def drive(ckpt: String, cs: Seq[Seq[(Long, String)]],
              slot: Long, mMin: Int, at: String = reg): Unit = {
      val input = MemoryStream[(Long, String)]
      val query = Incremental.streamingImpactIndex(
        input.toDF().toDF("doc_id", "text"), ckpt, at, "doc_id", "text",
        epochOf = _ => 0L, docsPerSlot = slot, mMin = mMin)
      try cs.foreach { c =>
        input.addData(c: _*); query.processAllAvailable()
      } finally query.stop()
    }
    // slot huge => m pinned at mMin=4 throughout: batches 2-3 exercise
    // the MONOTONE MERGE branch (no rebuild)
    drive(s"$dir/ckpt1", chunks, slot = 1000000L, mMin = 4)
    def impactRowsAt(at: String) = Incremental.impactIndexRegistry(spark, at)
      .select($"doc", $"term", $"tf").as[(Long, String, Long)]
      .collect().toSet
    def impactRows = impactRowsAt(reg)
    val allDocs = chunks.flatten.toDF("doc_id", "text")
    val fullPost = TermStats.bm25Postings(allDocs, "doc_id", "text")
    val (dfq, dl, corp) = TermStats.bm25Stats(fullPost)
    val batchIdx = TermStats.bm25ImpactIndex(fullPost, dl, m = 4)
      .as[(Long, String, Long)].collect().toSet
    assert(impactRows === batchIdx,
      "merged impact index diverged from the from-scratch build")
    // serve equivalence: registry inputs vs from-scratch inputs
    val qs = allDocs.filter($"doc_id" % 10 === 0)
      .select($"doc_id".as("q_id"),
        slice(graft.functions.Text.tokens($"text"), 1, 3).as("qt"))
    def servedSet(trunc: org.apache.spark.sql.DataFrame,
                  post: org.apache.spark.sql.DataFrame,
                  df_ : org.apache.spark.sql.DataFrame,
                  dl_ : org.apache.spark.sql.DataFrame,
                  c: org.apache.spark.sql.DataFrame) =
      TermStats.bm25TopKImpact(trunc, post, df_, dl_, c, qs,
          "q_id", "qt", k = 3)
        .select($"q", $"rank", $"doc", $"score_pm")
        .as[(Long, Long, Long, Long)].collect().toSet
    val fromScratch = servedSet(
      TermStats.bm25ImpactIndex(fullPost, dl, m = 4), fullPost, dfq, dl, corp)
    val (rp, rdf, rdl, rcorp) = Incremental.impactIndexStats(spark, reg)
    assert(servedSet(Incremental.impactIndexRegistry(spark, reg),
      rp, rdf, rdl, rcorp) === fromScratch,
      "registry serve diverged from the from-scratch serve")
    // the MATERIALIZED stats artifacts (not re-derived rollups) must
    // equal the from-scratch stats: df per term summed over the additive
    // delta log, (n_docs, a_tok) summed over the per-batch corpus rows
    assert(rdf.as[(String, Long)].collect().toMap ===
      dfq.as[(String, Long)].collect().toMap,
      "stats/ delta-log dfreq diverged from the from-scratch df")
    assert(rcorp.as[(Long, Long)].collect().head ===
      corp.as[(Long, Long)].collect().head,
      "corpus/ delta-log rollup diverged from the from-scratch corpus")
    assert(spark.read.parquet(s"$reg/corpus").count() === 3L,
      "expected one corpus delta row per ingested batch")
    // replay: re-deliver batch 3 via a fresh stream — ids anti-join away,
    // index bytes-equal (nFresh=0 ≠ nIn exercises the RECOVERY arm)
    drive(s"$dir/ckpt2", Seq(chunks.last), slot = 1000000L, mMin = 4)
    assert(impactRows === batchIdx, "a replayed batch moved the index")
    // mixed batch: a source re-delivering 5 ingested docs alongside 5 new
    // ones (nFresh < nIn — the recovery arm with a non-empty fresh set);
    // the index must land exactly the from-scratch build on the union.
    // Run on a COPY of the registry: the 90-doc registry stays the
    // reference for the assertions below (an epoch cut can only retire
    // the OLDEST epochs, so the new docs could not be cut back out)
    val mixedReg = s"$dir/reg_mixed"
    locally {
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(reg)
      val fs = src.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(mixedReg), false, conf)
    }
    val mixed = ((85L until 95L)).map(i => (i, text(i)))
    drive(s"$dir/ckpt3", Seq(mixed), slot = 1000000L, mMin = 4, at = mixedReg)
    val unionDocs = (chunks.flatten ++ mixed).distinct.toDF("doc_id", "text")
    val unionPost = TermStats.bm25Postings(unionDocs, "doc_id", "text")
    val (_, unionDl, _) = TermStats.bm25Stats(unionPost)
    assert(impactRowsAt(mixedReg) ===
      TermStats.bm25ImpactIndex(unionPost, unionDl, m = 4)
        .as[(Long, String, Long)].collect().toSet,
      "a mixed replayed+new batch diverged from the from-scratch union")
    assert(impactRows === batchIdx,
      "the original 90-doc registry must be untouched by the copy's fold")
    assert(Incremental.impactIndexStats(spark, reg)._1.count() ===
      fullPost.count(), "a replayed batch duplicated postings")
    // crash-window heal: duplicate one doc's postings rows (the partial-
    // append replay shape) — distinct-reading consumers must not move
    spark.read.parquet(s"$reg/postings/epoch=0").filter($"doc" === 0L)
      .write.mode("append").parquet(s"$reg/postings/epoch=0")
    val (hp, hdf, hdl, hcorp) = Incremental.impactIndexStats(spark, reg)
    assert(servedSet(Incremental.impactIndexRegistry(spark, reg),
      hp, hdf, hdl, hcorp) === fromScratch,
      "duplicate appended postings must heal through the distinct reads")
    // compaction (the fold-cadence op) makes the raw files unique again:
    // a raw read — no healing distinct — must match the full build
    assert(spark.read.parquet(s"$reg/postings").count() > fullPost.count(),
      "fixture: the duplicate append must be visible pre-compaction")
    // an orphaned delta (a crash after the stats append, before the dl
    // durability mark) must survive compaction VERBATIM so its replay
    // still distinct-heals — only durable deltas fold
    Seq(("zzz_pending", 1L, 999999L, 0L)).toDF("term", "df", "dkey", "epoch")
      .write.mode("append").parquet(s"$reg/stats")
    Incremental.compactImpactRegistry(spark, reg)
    assert(spark.read.parquet(s"$reg/postings").count() === fullPost.count(),
      "compaction must fold replay duplicates out of the raw files")
    // the delta logs fold to their bounded forms: one null-dkey row per
    // term / one global corpus row, plus the untouched pending delta
    val stRaw = spark.read.parquet(s"$reg/stats")
    assert(stRaw.filter($"dkey".isNull).count() === dfq.count(),
      "folded stats must carry exactly one row per term")
    assert(stRaw.filter($"dkey".isNotNull).select($"term", $"df", $"dkey")
        .as[(String, Long, Long)].collect().toSeq ===
        Seq(("zzz_pending", 1L, 999999L)),
      "a non-durable delta must survive the fold verbatim")
    assert(spark.read.parquet(s"$reg/corpus").count() === 1L,
      "folded corpus must be a single global row")
    // drop the synthetic pending row again (its fake batch never lands)
    graft.operators.Merge.replaceParquet(spark, s"$reg/stats",
      stRaw.filter($"dkey".isNull))
    val (cp, cdf, cdl, ccorp) = Incremental.impactIndexStats(spark, reg)
    assert(servedSet(Incremental.impactIndexRegistry(spark, reg),
      cp, cdf, cdl, ccorp) === fromScratch, "serve unchanged by compaction")
    // m(n) growth forces the REBUILD branch: slot=8 => mCal crosses the
    // pow2 boundary as the corpus grows (30→60→90 docs: m 4→8→16)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-impact-grow")
      .toFile.getAbsolutePath
    val reg2 = s"$dir2/reg"
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingImpactIndex(
      input.toDF().toDF("doc_id", "text"), s"$dir2/ckpt", reg2,
      "doc_id", "text", epochOf = _ => 0L, docsPerSlot = 8L, mMin = 4)
    try chunks.foreach { c =>
      input.addData(c: _*); query.processAllAvailable()
    } finally query.stop()
    val meta = spark.read.parquet(s"$reg2/meta")
      .select($"m_built", $"n_docs").as[(Int, Long)].collect().head
    assert(meta === ((16, 90L)),
      s"expected depth 16 at 90 docs (slot 8, pow2), got $meta")
    val grown = Incremental.impactIndexRegistry(spark, reg2)
      .select($"doc", $"term", $"tf").as[(Long, String, Long)]
      .collect().toSet
    val grownBatch = TermStats.bm25ImpactIndex(fullPost, dl, m = 16)
      .as[(Long, String, Long)].collect().toSet
    assert(grown === grownBatch,
      "the rebuild-on-depth-growth index diverged from the batch build")
  }

  test("retainImpactRegistry: retention rebuild ≡ from-scratch on the " +
    "retained corpus; idempotent; the monotone merge resumes after") {
    import spark.implicits._
    import graft.operators.TermStats
    val dir = java.nio.file.Files.createTempDirectory("graft-impact-retain")
      .toFile.getAbsolutePath
    val reg = s"$dir/reg"
    def text(i: Long): String =
      (0 until (4 + (i % 3)).toInt).map(j => s"t${(i + j * j) % 7}")
        .mkString(" ")
    def docsOf(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    // ingest 0..59 in two epoch folds, then retire the first 20 (the
    // sliding window dropping the oldest epoch; 1/3 of the corpus, over
    // the 25% threshold — the rebuild arm)
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 20L),
      "doc_id", "text", epoch = 0L, mMin = 4)
    Incremental.impactBatchIngest(spark, reg, docsOf(20L until 60L),
      "doc_id", "text", epoch = 1L, mMin = 4)
    val kept = (20L until 60L)
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L, mMin = 4)
    def scratch(ids: Seq[Long]) = {
      val p = TermStats.bm25Postings(docsOf(ids), "doc_id", "text")
      val (df_, dl_, corp_) = TermStats.bm25Stats(p)
      (p, df_, dl_, corp_)
    }
    def idxSet = Incremental.impactIndexRegistry(spark, reg)
      .as[(Long, String, Long, Long)].collect().toSet
    val (kp, kdf, kdl, _) = scratch(kept)
    assert(idxSet === TermStats.bm25ImpactIndexWithDl(kp, kdl, m = 4)
      .as[(Long, String, Long, Long)].collect().toSet,
      "retention rebuild diverged from the from-scratch build on the " +
        "retained corpus")
    // the re-materialized stats equal the retained corpus's
    val (_, rdf, _, rcorp) = Incremental.impactIndexStats(spark, reg)
    assert(rdf.as[(String, Long)].collect().toMap ===
      kdf.as[(String, Long)].collect().toMap,
      "retention must re-materialize df for exactly the retained docs")
    assert(rcorp.as[(Long, Long)].collect().head._1 === 40L)
    assert(spark.read.parquet(s"$reg/meta").select($"m_built", $"n_docs")
      .as[(Int, Long)].collect().head === ((4, 40L)),
      "meta must recalibrate to the retained count")
    // idempotent: a crash mid-retention is healed by re-running
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L, mMin = 4)
    assert(idxSet === TermStats.bm25ImpactIndexWithDl(kp, kdl, m = 4)
      .as[(Long, String, Long, Long)].collect().toSet,
      "re-running retention moved the registry")
    // append-only resumes from the new base: the next fold's monotone
    // merge must equal the from-scratch build on (retained ∪ new)
    Incremental.impactBatchIngest(spark, reg, docsOf(60L until 80L),
      "doc_id", "text", epoch = 2L, mMin = 4)
    val (gp, _, gdl, _) = scratch(kept ++ (60L until 80L))
    assert(idxSet === TermStats.bm25ImpactIndexWithDl(gp, gdl, m = 4)
      .as[(Long, String, Long, Long)].collect().toSet,
      "the merge after a retention rebuild diverged from scratch")
  }

  test("property: impactBatchIngest over ANY batch partition (+ a replayed " +
    "batch) lands from-scratch stats, corpus, and index — the additive-" +
    "delta-log theorem's third pin") {
    import spark.implicits._
    import graft.operators.TermStats
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val caseGen = for {
      n <- Gen.chooseNum(8, 40)
      nBatches <- Gen.chooseNum(1, 4)
      cut <- Gen.listOfN(n, Gen.chooseNum(0, nBatches - 1))
      replayIdx <- Gen.chooseNum(0, nBatches - 1)
      // a random NON-DECREASING epoch per batch: batches may share an
      // epoch (micro-batches of one follower epoch) or open a new one
      epochs <- Gen.listOfN(nBatches, Gen.chooseNum(0L, 2L)).map(_.sorted)
    } yield (n, nBatches, cut, replayIdx, epochs)
    val prop = Prop.forAll(caseGen) {
        case (n, nBatches, cut, replayIdx, epochs) =>
      def text(i: Long): String =
        (0 until (2 + (i % 4)).toInt).map(j => s"t${(i + 3 * j) % 5}")
          .mkString(" ")
      val docs = (0L until n.toLong).map(i => (i, text(i)))
      val batches = docs.zip(cut).groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      val dir = java.nio.file.Files.createTempDirectory("graft-impact-prop")
        .toFile.getAbsolutePath
      val reg = s"$dir/reg"
      batches.zipWithIndex.foreach { case (b, i) =>
        // quantizeDepth=false (the q206 batch-build arm): the compare
        // below is at the exact calibrated depth, not its pow2 ceiling
        Incremental.impactBatchIngest(spark, reg,
          b.toDF("doc_id", "text"), "doc_id", "text", epoch = epochs(i),
          mMin = 3, quantizeDepth = false)
        if (i == replayIdx % batches.size) // replay under its own epoch
          Incremental.impactBatchIngest(spark, reg,
            b.toDF("doc_id", "text"), "doc_id", "text", epoch = epochs(i),
            mMin = 3, quantizeDepth = false)
      }
      val p = TermStats.bm25Postings(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      val (dfS, dlS, corpS) = TermStats.bm25Stats(p)
      val (_, rdf, _, rcorp) = Incremental.impactIndexStats(spark, reg)
      val statsOk = rdf.as[(String, Long)].collect().toMap ==
        dfS.as[(String, Long)].collect().toMap
      val corpOk = rcorp.as[(Long, Long)].collect().head ==
        corpS.as[(Long, Long)].collect().head
      val idxOk = Incremental.impactIndexRegistry(spark, reg)
        .as[(Long, String, Long, Long)].collect().toSet ==
        TermStats.bm25ImpactIndexWithDl(p, dlS, m = 3)
          .as[(Long, String, Long, Long)].collect().toSet
      statsOk && corpOk && idxOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("streamingImpactIndex soak: 40 tiny batches leak no persisted " +
    "blocks and land the same index as one batch") {
    import spark.implicits._
    import graft.operators.TermStats
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-impact-soak")
      .toFile.getAbsolutePath
    def text(i: Long): String =
      (0 until (3 + (i % 4)).toInt).map(j => s"t${(i + 2 * j) % 9}")
        .mkString(" ")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val input = MemoryStream[(Long, String)]
    // compactEvery=8: the stream OWNS the fold cadence — 40 batches run
    // 5 interleaved compactions, and the delta logs must stay bounded
    // by the cadence instead of growing with batch count
    val query = Incremental.streamingImpactIndex(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", s"$dir/reg",
      "doc_id", "text", epochOf = _ => 0L, docsPerSlot = 1000000L, mMin = 4,
      compactEvery = 8)
    try (0L until 40L).foreach { i =>
      input.addData((i, text(i))); query.processAllAvailable()
    } finally query.stop()
    // a long-running ingest stream must not accumulate blocks: every
    // batch's persists are released in the foreachBatch's finally
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"soak leaked persisted RDDs: $leaked")
    // batch 40 triggered the 5th fold, so the logs sit at their bounded
    // post-fold sizes: one stats row per term, ONE corpus row, and raw
    // postings/dl with zero accumulated duplicates
    val vocabSize = spark.read.parquet(s"$dir/reg/stats")
      .select($"term").distinct().count()
    assert(spark.read.parquet(s"$dir/reg/stats").count() === vocabSize,
      "on-cadence folds must keep stats/ at one row per term")
    assert(spark.read.parquet(s"$dir/reg/corpus").count() === 1L,
      "on-cadence folds must keep corpus/ at a single row")
    assert(spark.read.parquet(s"$dir/reg/dl").count() === 40L,
      "on-cadence folds must keep dl/ at one row per document")
    val allDocs = (0L until 40L).map(i => (i, text(i))).toDF("doc_id", "text")
    val post = TermStats.bm25Postings(allDocs, "doc_id", "text")
    val (_, dl40, _) = TermStats.bm25Stats(post)
    assert(Incremental.impactIndexRegistry(spark, s"$dir/reg")
        .select($"doc", $"term", $"tf").as[(Long, String, Long)]
        .collect().toSet ===
      TermStats.bm25ImpactIndex(post, dl40, m = 4)
        .as[(Long, String, Long)].collect().toSet,
      "40 one-doc folds diverged from the one-shot build")
      // (mMin=4 is already a power of two, so the maintained depth equals
      // the requested one — a non-pow2 mMin quantizes UP, which the first
      // version of this test learned the hard way)
  }
}
