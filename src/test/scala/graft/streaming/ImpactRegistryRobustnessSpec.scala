package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Merge, TermStats}

/** The impact registry's failure-window machinery (r19, closing the r18
  * ADVICE slate): the torn-commitSwap repair and the retention intent
  * marker — each exercised against a hand-damaged on-disk registry,
  * because these arms are only load-bearing in states the happy-path
  * specs can never reach.
  */
class ImpactRegistryRobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def text(i: Long): String =
    (0 until (4 + (i % 3)).toInt).map(j => s"t${(i + j * j) % 7}")
      .mkString(" ")

  private def docsOf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  }

  private def tmpReg(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-impact-$tag")
      .toFile.getAbsolutePath + "/reg"

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("healSwap: a crash between commitSwap's renames is repaired — a " +
    "complete .tmp finishes the intended swap, a lone .old restores the " +
    "pre-swap state (ADVICE r18)") {
    import spark.implicits._
    val reg = tmpReg("tornswap")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 20L),
      "doc_id", "text", epoch = 0L, mMin = 4)
    val f = fs(reg)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // window A: target renamed aside, new state fully written as tmp
    // (with _SUCCESS) — healing must land the NEW state, so the tmp's
    // contents deliberately DIFFER from the old's by one marker row
    assert(f.rename(p(s"$reg/stats"), p(s"$reg/stats.old-crash")))
    val oldStats = spark.read.parquet(s"$reg/stats.old-crash")
    oldStats.unionByName(
        Seq(("zz_tmp_marker", 1L, Option.empty[Long], 0L))
          .toDF("term", "df", "dkey", "epoch"))
      .write.parquet(s"$reg/stats.tmp-crash")
    assert(f.exists(p(s"$reg/stats.tmp-crash/_SUCCESS")),
      "fixture: the committed write must carry _SUCCESS")
    assert(Merge.healSwap(spark, s"$reg/stats"), "heal must fire")
    assert(spark.read.parquet(s"$reg/stats")
      .filter(col("term") === "zz_tmp_marker").count() === 1L,
      "a complete tmp must win over the old (the intended NEW state)")
    assert(!f.exists(p(s"$reg/stats.old-crash")) &&
      !f.exists(p(s"$reg/stats.tmp-crash")),
      "healing must clear the stray siblings")
    // drop the marker row again so the later assertions see real stats
    Merge.replaceParquet(spark, s"$reg/stats",
      spark.read.parquet(s"$reg/stats")
        .filter(col("term") =!= "zz_tmp_marker"))
    // window B: only the renamed-aside old survives (tmp never finished)
    // — healing must restore the pre-swap state
    val corpusRows = spark.read.parquet(s"$reg/corpus").collect().toSet
    assert(f.rename(p(s"$reg/corpus"), p(s"$reg/corpus.old-crash")))
    assert(Merge.healSwap(spark, s"$reg/corpus"), "heal must fire")
    assert(spark.read.parquet(s"$reg/corpus").collect().toSet === corpusRows)
    // end-to-end: tear the corpus log again and let INGEST repair it —
    // without the heal, the next append would silently recreate the log
    // batch-only and every serve would undercount n_docs from then on
    assert(f.rename(p(s"$reg/corpus"), p(s"$reg/corpus.old-crash2")))
    Incremental.impactBatchIngest(spark, reg, docsOf(20L until 30L),
      "doc_id", "text", epoch = 0L, mMin = 4)
    val (_, _, _, rcorp) = Incremental.impactIndexStats(spark, reg)
    assert(rcorp.as[(Long, Long)].collect().head._1 === 30L,
      "ingest onto a torn corpus log must heal it, not restart it")
    // healSwap is a no-op on intact targets and on fresh paths
    assert(!Merge.healSwap(spark, s"$reg/corpus"))
    assert(!Merge.healSwap(spark, s"$reg/never_existed"))
  }

  test("retention intent marker: ingest REFUSES on a half-finished " +
    "retention; a completed re-run clears the marker and ingest resumes") {
    import spark.implicits._
    val reg = tmpReg("retmark")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 10L),
      "doc_id", "text", epoch = 0L, mMin = 4)
    Incremental.impactBatchIngest(spark, reg, docsOf(10L until 30L),
      "doc_id", "text", epoch = 1L, mMin = 4)
    // simulate the crash window: the marker is on disk (written before
    // the first rewrite, removed only after the last swap)
    val f = fs(reg)
    f.create(new org.apache.hadoop.fs.Path(s"$reg/retain_intent"), true)
      .close()
    assert(Incremental.retentionPending(spark, reg))
    val ex = intercept[IllegalStateException] {
      Incremental.impactBatchIngest(spark, reg, docsOf(30L until 40L),
        "doc_id", "text", epoch = 1L, mMin = 4)
    }
    assert(ex.getMessage.contains("retention"))
    // a serve in the window is allowed but warned (stale-delta contract)
    val before = graft.Log.recentWarnings.size
    Incremental.impactIndexStats(spark, reg)
    // drop exactly `before` so only warnings emitted by THIS
    // impactIndexStats call are matched — a stale ring entry from an
    // earlier test must not satisfy the assertion (ADVICE r19)
    assert(graft.Log.recentWarnings.drop(before)
      .exists(_.contains("incomplete retention")))
    // the owner re-runs retention to completion (the bare marker records
    // no decision, so the re-run decides afresh): marker cleared, ingest
    // resumes, and the registry equals the from-scratch retained build
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L, mMin = 4)
    assert(!Incremental.retentionPending(spark, reg))
    Incremental.impactBatchIngest(spark, reg, docsOf(30L until 40L),
      "doc_id", "text", epoch = 1L, mMin = 4)
    val all = docsOf(10L until 40L)
    val fullPost = TermStats.bm25Postings(all, "doc_id", "text")
    val (dfS, dlS, _) = TermStats.bm25Stats(fullPost)
    val (_, rdf, _, _) = Incremental.impactIndexStats(spark, reg)
    assert(rdf.as[(String, Long)].collect().toMap ===
      dfS.as[(String, Long)].collect().toMap)
    assert(Incremental.impactIndexRegistry(spark, reg)
        .as[(Long, String, Long, Long)].collect().toSet ===
      TermStats.bm25ImpactIndexWithDl(fullPost, dlS, m = 4)
        .as[(Long, String, Long, Long)].collect().toSet,
      "post-retention ingest diverged from the from-scratch build")
  }
}
