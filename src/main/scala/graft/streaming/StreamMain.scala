package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.GraftSession

/** Runnable streaming follower demo: a real file-source stream over the
  * events table (one-shot via Trigger.AvailableNow — the streaming form of
  * the reference's chunked catch-up) feeding the watermarked reward
  * windows. Prints the top windows when the catch-up completes.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    // File-source streams need a declared schema and a *directory* that
    // files arrive in: stage the (read-only) test file into a temp dir.
    // Declare the file's OWN schema (ts may be TIMESTAMP or legacy long
    // ns depending on the testdata generation), then normalize post-read.
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      inDir.resolve("events.parquet"))
    val stream = graft.sources.Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(inDir.toString))
      .withColumn("ts_us", expr("ts div 1000"))
    val windows = Streams.windowedRewards(stream, "1 day", "1 hour")
    // complete mode: every micro-batch carries the whole result table
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-out")
    val query = Incremental.foldBatches(windows, s"$outDir/checkpoint",
        OutputMode.Complete(), Trigger.AvailableNow()) { (_, batch, _) =>
      batch.write.mode("overwrite").parquet(s"$outDir/rewards")
    }
    query.awaitTermination()
    val out = spark.read.parquet(s"$outDir/rewards")
    println(s"[stream] windows=${out.count()}")
    out.orderBy(col("rewards_c").desc).show(5)
    spark.stop()
  }
}
