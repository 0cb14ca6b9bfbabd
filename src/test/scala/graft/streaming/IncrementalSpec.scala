package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.Incremental._

/** End-to-end two-epoch incremental sync over the sf0.001 events table:
  * epoch 1 sees a prefix of the stream, epoch 2 the whole of it, epoch 3
  * nothing new. The final sink state must equal the direct batch
  * computation, epoch 3 must be gated off, and a restarted driver must
  * resume from the persisted mark.
  */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val SfDir = "/root/testdata/sf0.001"

  private def events(): DataFrame =
    graft.sources.Tables(spark, SfDir, "events")
      .withColumn("ts_us", expr("ts div 1000"))

  private def mkDriver(cutoff: () => Long, state: String, sink: String) = {
    val payments = DynamicCollection("payments",
      chunk => chunk.select(
        md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
        col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
        col("event_id")),
      key = "_key", tiebreak = "event_id")
    val balances = SnapshotCollection("balances",
      s => {
        val src = events().filter(col("event_id") <= cutoff())
        graft.operators.Dedup.newestWins(src, Seq(col("user_id")),
            col("ts_us"), col("event_id"))
          .select(col("user_id").as("_key"),
            round(col("value") * 100).cast("long").as("balance_c"),
            col("event_id"))
      },
      key = "_key", tiebreak = "event_id")
    new Driver(spark, () => events().filter(col("event_id") <= cutoff()),
      heightCol = "event_id", stateDir = state, sinkDir = sink,
      chunkSize = 400L, minDiff = 10L,
      dynamics = Seq(payments), snapshots = Seq(balances))
  }

  test("compactRegistry: many small appends collapse to one file, same distinct keys, appends continue") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toFile.getAbsolutePath + "/reg"
    // simulate a stream's per-batch appends: overlapping key sets
    Seq("a", "b").toDF("blk").write.mode("append").parquet(dir)
    Seq("b", "c").toDF("blk").write.mode("append").parquet(dir)
    Seq("c", "d", "a").toDF("blk").write.mode("append").parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() >= 3, "each append lands its own file(s)")
    Incremental.compactRegistry(spark, dir)
    assert(files() == 1, "compaction snapshots to one file")
    assert(spark.read.parquet(dir).as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c", "d"), "distinct keys survive exactly")
    // the stream keeps appending afterwards — compaction is maintenance,
    // not a format change
    Seq("e").toDF("blk").write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).as[String].collect().sorted.toSeq ==
      Seq("a", "b", "c", "d", "e"))
    // compacting a non-existent registry is a no-op, not an error
    Incremental.compactRegistry(spark, dir + "-missing")
  }

  test("streamingVideoNovelty compacts its registry on its own cadence; appends continue across it (r13 verdict #6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Multimodal.{P6Stream, Ppm}
    val dir = java.nio.file.Files.createTempDirectory("graft-vidcompact")
      .toFile.getAbsolutePath
    def frame(seed: Int): Array[Byte] = {
      val w = 9; val h = 7
      Ppm.render(w, h, 255, Array.tabulate(3 * w * h)(i =>
        ((i * (2 * seed + 3) * 31) % 256).toByte))
    }
    def vid(seeds: Int*): Array[Byte] = P6Stream.render(seeds.map(frame))
    // four batches; compactEvery = 2 → compactions after batches 1 and 3
    val batches = Seq(
      Seq((1L, vid(0, 1))), Seq((2L, vid(1, 2))),
      Seq((3L, vid(2, 3))), Seq((4L, vid(0, 4))))
    val input = MemoryStream[(Long, Array[Byte])]
    val query = Incremental.streamingVideoNovelty(
      input.toDF().toDF("id", "video"),
      s"$dir/ckpt", s"$dir/out", s"$dir/registry",
      "id", "video", minHamming = 8, compactEvery = 2)
    def regFiles() = new java.io.File(s"$dir/registry").listFiles()
      .count(_.getName.endsWith(".parquet"))
    try {
      batches.take(2).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      val afterFirstCompaction = regFiles()
      assert(afterFirstCompaction == 1,
        s"batch 1 (0-indexed) must compact the registry to one file, saw $afterFirstCompaction")
      val keysAfter2 = spark.read.parquet(s"$dir/registry")
        .as[Long].collect().sorted.toSeq
      batches.drop(2).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      // appends CONTINUED across the compaction: batches 2 and 3 landed
      // their novel fingerprints, then batch 3's cadence compacted again
      val keysAfter4 = spark.read.parquet(s"$dir/registry")
        .as[Long].collect().sorted.toSeq
      assert(keysAfter4.size > keysAfter2.size,
        "post-compaction batches must keep landing novel fingerprints")
      assert(keysAfter4 == keysAfter4.distinct,
        "compaction must not duplicate keys")
      assert(keysAfter2.toSet.subsetOf(keysAfter4.toSet),
        "compaction must not lose keys")
      assert(regFiles() == 1, "batch 3's cadence compacts again")
      // and the per-video novelty rows are untouched by maintenance
      val out = spark.read.parquet(s"$dir/out")
        .select("id").as[Long].collect().toSet
      assert(out == Set(1L, 2L, 3L, 4L))
    } finally query.stop()
  }

  test("chunkRanges covers [lo,hi) exactly with bounded steps") {
    assert(chunkRanges(0, 10, 4) == Seq((0L, 4L), (4L, 8L), (8L, 10L)))
    assert(chunkRanges(5, 5, 4).isEmpty)
  }

  test("two-epoch sync: incremental result equals batch; no-op epoch is gated") {
    val dir = Files.createTempDirectory("graft-incr").toFile.getAbsolutePath
    var cutoff = 600L
    val driver = mkDriver(() => cutoff, s"$dir/state", s"$dir/sink")

    val e1 = driver.runEpoch()
    assert(e1.ran && e1.from == 0 && e1.chunks == 2) // 601 ids / 400 per chunk
    val afterE1 = spark.read.parquet(s"$dir/sink/payments").count()
    assert(afterE1 == 601) // event_id 0..600 inclusive

    cutoff = 999L // stream advances to the end of the sf0.001 table
    val e2 = driver.runEpoch()
    assert(e2.ran && e2.from == 601) // resumed from the mark, not from 0
    val payments = spark.read.parquet(s"$dir/sink/payments")
    assert(payments.count() == 1000)
    assert(payments.select("_key").distinct().count() == 1000) // idempotent keys

    // epoch 3: nothing new → gated by minDiff, mark unchanged
    val e3 = driver.runEpoch()
    assert(!e3.ran)
    assert(driver.checkpoint.read().contains(1000L))

    // snapshot collection equals the direct batch computation
    val bal = spark.read.parquet(s"$dir/sink/balances")
    val expected = graft.operators.Dedup.newestWins(
        events().filter(col("event_id") <= 999L), Seq(col("user_id")),
        col("ts_us"), col("event_id"))
      .select(col("user_id"), round(col("value") * 100).cast("long").as("balance_c"))
    assert(bal.select(col("_key"), col("balance_c")).collect().toSet ==
      expected.collect().toSet.map { r: org.apache.spark.sql.Row => r })

    // a NEW driver instance resumes from the persisted mark (restart)
    val driver2 = mkDriver(() => cutoff, s"$dir/state", s"$dir/sink")
    assert(driver2.checkpoint.read().contains(1000L))
    assert(!driver2.runEpoch().ran)
  }

  test("streaming follower: foreachBatch upserts reach the batch end state, replays are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-follower").toFile.getAbsolutePath
    val rows = (0L until 300L).map(i => (i, i % 17, (i % 23).toDouble))
    val input = MemoryStream[(Long, Long, Double)]
    val docs = input.toDF().toDF("event_id", "user_id", "value")
      .select(md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
        col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
        col("event_id"))
    val query = Incremental.streamingUpsert(docs, s"$dir/ckpt", s"$dir/sink",
      key = "_key", tiebreak = "event_id")
    try {
      // three micro-batches, the middle one re-delivering batch 1's rows
      // (at-least-once delivery) — the content keys must absorb it
      input.addData(rows.take(150): _*); query.processAllAvailable()
      input.addData(rows.slice(100, 200): _*); query.processAllAvailable()
      input.addData(rows.drop(200): _*); query.processAllAvailable()
      val sink = spark.read.parquet(s"$dir/sink")
      assert(sink.count() == 300)
      assert(sink.select("_key").distinct().count() == 300)
      // end state equals the direct batch computation over the same rows
      val expected = rows.toDF("event_id", "user_id", "value")
        .select(md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
          col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
          col("event_id"))
      assert(sink.collect().toSet == expected.collect().toSet)
    } finally query.stop()
  }

  test("streamingUpsertDelta: delta appends + threshold compaction ≡ the per-batch upsert") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-delta").toFile.getAbsolutePath
    val rows = (0L until 300L).map(i => (i, i % 17, (i % 23).toDouble))
    val input = MemoryStream[(Long, Long, Double)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
        col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
        col("event_id"))
    val query = Incremental.streamingUpsertDelta(
      shape(input.toDF().toDF("event_id", "user_id", "value")),
      s"$dir/ckpt", s"$dir/sink", key = "_key", tiebreak = "event_id",
      compactEvery = 2)
    try {
      // batch 1: delta only (no fold yet) — reads must already see it
      input.addData(rows.take(150): _*); query.processAllAvailable()
      assert(graft.operators.Merge.pendingDeltas(spark, s"$dir/sink").size == 1)
      val midState = graft.operators.Merge.readMerged(spark, s"$dir/sink",
        "_key", graft.operators.Merge.Ignore, "event_id")
      assert(midState.count() == 150)
      // batch 2 (overlapping redelivery) trips the threshold → fold
      input.addData(rows.slice(100, 200): _*); query.processAllAvailable()
      assert(graft.operators.Merge.pendingDeltas(spark, s"$dir/sink").isEmpty)
      input.addData(rows.drop(200): _*); query.processAllAvailable()
      // end state (1 pending delta + base) equals the direct computation
      val state = graft.operators.Merge.readMerged(spark, s"$dir/sink",
        "_key", graft.operators.Merge.Ignore, "event_id")
      val expected = shape(rows.toDF("event_id", "user_id", "value"))
      assert(state.collect().toSet == expected.collect().toSet)
      assert(state.count() == 300)
    } finally query.stop()
  }

  test("re-processing a chunk is a no-op (content-keyed append, T6)") {
    val dir = Files.createTempDirectory("graft-incr2").toFile.getAbsolutePath
    val driver = mkDriver(() => 300L, s"$dir/state", s"$dir/sink")
    driver.runEpoch()
    val first = spark.read.parquet(s"$dir/sink/payments").collect().toSet
    // wind the mark back and re-run the same range
    driver.checkpoint.write(0L)
    driver.runEpoch()
    val second = spark.read.parquet(s"$dir/sink/payments").collect().toSet
    assert(first == second)
  }

  test("src/main/scala starts streams at exactly one .writeStream site " +
    "(Incremental.foldBatches)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val sites = files(root).flatMap { f =>
      val lines = scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)
      lines.zipWithIndex.collect {
        case (line, i) if line.contains(".writeStream") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"${f.getPath}:${i + 1}"
      }
    }
    assert(sites.size == 1 && sites.head.contains("streaming/Incremental.scala:"),
      s"writeStream call sites outside the combinator: $sites")
  }
}
