package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.streaming.Incremental._

/** Runnable incremental-ETL entry point (the engine's analog of the
  * reference's `src/etl.py` daemon, minus its bugs): chunked backfill +
  * gated follower epochs with a durable high-water mark.
  *
  * Usage: runMain graft.streaming.EtlMain [sfDir] [workDir] [epochs]
  * Each epoch re-reads the current height, syncs `[mark, height)` in
  * chunks into content-keyed parquet sinks, refreshes snapshots, advances
  * the mark, and prints a report line with each collection's wall ms
  * (`collection_ms=payments:…,balances:…`).
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-etl").toString)
    val epochs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))

    def events() = graft.sources.Tables(spark, sfDir, "events")
      .withColumn("ts_us", expr("ts div 1000"))

    val payments = DynamicCollection("payments",
      chunk => chunk.select(
        md5(to_json(struct(col("event_id"), col("user_id"), col("value")))).as("_key"),
        col("user_id"), round(col("value") * 100).cast("long").as("value_c"),
        col("event_id")),
      key = "_key", tiebreak = "event_id")
    val balances = SnapshotCollection("balances",
      _ => graft.operators.Dedup.newestWins(events(), Seq(col("user_id")),
          col("ts_us"), col("event_id"))
        .select(col("user_id").as("_key"),
          round(col("value") * 100).cast("long").as("balance_c"), col("event_id")),
      key = "_key", tiebreak = "event_id")

    val driver = new Driver(spark, () => events(), "event_id",
      s"$work/state", s"$work/sink", chunkSize = 400L, minDiff = 10L,
      dynamics = Seq(payments), snapshots = Seq(balances))

    (1 to epochs).foreach { i =>
      val r = driver.runEpoch()
      val rows =
        if (r.ran) spark.read.parquet(s"$work/sink/payments").count() else -1L
      val ms = r.collectionMs.map { case (n, t) => s"$n:$t" }.mkString(",")
      println(s"[etl] epoch=$i ran=${r.ran} from=${r.from} to=${r.to} " +
        s"chunks=${r.chunks} payments_rows=$rows collection_ms=$ms")
    }
    println(s"[etl] work dir: $work")
    spark.stop()
  }
}
