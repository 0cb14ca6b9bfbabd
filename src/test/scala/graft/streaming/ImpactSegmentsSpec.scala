package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TermStats

/** The epoch-segmented impact registry (VERDICT r19 #1): ingest
  * equivalence with the from-scratch build, retention as segment drops +
  * delta-log filters (never a surviving-byte rewrite below the rebuild
  * threshold), the recorded-decision crash contract, the monotone-epoch
  * and layout guards, per-epoch compaction, and the streaming twin.
  */
class ImpactSegmentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def text(i: Long): String =
    (0 until (4 + (i % 3)).toInt).map(j => s"t${(i + j * j) % 7}")
      .mkString(" ")

  private def docsOf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  }

  private def tmpReg(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-impactseg-$tag")
      .toFile.getAbsolutePath + "/reg"

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def queriesOf(ids: Seq[Long]) =
    docsOf(ids).select(col("doc_id").as("q_id"),
      slice(graft.functions.Text.tokens(col("text")), 1, 4).as("qt"))

  /** Serve from the registry artifacts only. */
  private def registryServe(reg: String, qIds: Seq[Long]): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val trunc = Incremental.impactIndexRegistry(spark, reg)
    val (p, dfq, dl, c) = Incremental.impactIndexStats(spark, reg)
    TermStats.bm25TopKImpact(trunc, p, dfq, dl, c,
        queriesOf(qIds), "q_id", "qt", k = 3)
      .select(col("q"), col("rank"), col("doc"), col("n_terms"),
        col("score_pm"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  /** The same serve computed from scratch on `corpus` (no registry). */
  private def scratchServe(corpus: DataFrame, qIds: Seq[Long],
                           mMin: Int): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val post = TermStats.bm25Postings(corpus, "doc_id", "text")
    val (dfS, dlS, corpS) = TermStats.bm25Stats(post)
    val n = dlS.count()
    val m = TermStats.impactM(n, 625L, mMin)
    val trunc = TermStats.bm25ImpactIndexWithDl(post, dlS, m)
    TermStats.bm25TopKImpact(trunc, post, dfS, dlS, corpS,
        queriesOf(qIds), "q_id", "qt", k = 3)
      .select(col("q"), col("rank"), col("doc"), col("n_terms"),
        col("score_pm"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  private def metaOf(reg: String): (Int, Long, Long) = {
    val r = spark.read.parquet(s"$reg/meta").head
    (r.getInt(0), r.getLong(1), r.getLong(2))
  }

  test("segmented ingest over three epoch folds ≡ from-scratch stats, " +
    "corpus, and serve; a replayed epoch lands nothing") {
    import spark.implicits._
    val reg = tmpReg("ingest")
    val e0 = 0L until 20L; val e1 = 20L until 40L; val e2 = 40L until 60L
    Incremental.impactBatchIngest(spark, reg, docsOf(e0),
      "doc_id", "text", epoch = 0L, mMin = 4, quantizeDepth = false)
    Incremental.impactBatchIngest(spark, reg, docsOf(e1),
      "doc_id", "text", epoch = 1L, mMin = 4, quantizeDepth = false)
    Incremental.impactBatchIngest(spark, reg, docsOf(e2),
      "doc_id", "text", epoch = 2L, mMin = 4, quantizeDepth = false)
    val all = docsOf(0L until 60L)
    val fullPost = TermStats.bm25Postings(all, "doc_id", "text")
    val (dfS, dlS, corpS) = TermStats.bm25Stats(fullPost)
    val (_, rdf, rdl, rcorp) = Incremental.impactIndexStats(spark, reg)
    assert(rdf.as[(String, Long)].collect().toMap ===
      dfS.as[(String, Long)].collect().toMap)
    assert(rcorp.as[(Long, Long)].collect().head ===
      corpS.as[(Long, Long)].collect().head)
    assert(rdl.as[(Long, Long)].collect().toSet ===
      dlS.as[(Long, Long)].collect().toSet)
    val qIds = (0L until 60L by 5L).toSeq
    assert(registryServe(reg, qIds) === scratchServe(all, qIds, mMin = 4))
    // replay epoch 2 (same epoch, same batch): everything anti-joins
    // away; the registry's row sets are unchanged
    val postBefore = spark.read.parquet(s"$reg/postings")
      .select("doc", "term", "tf").collect().toSeq
    Incremental.impactBatchIngest(spark, reg, docsOf(e2),
      "doc_id", "text", epoch = 2L, mMin = 4, quantizeDepth = false)
    assert(spark.read.parquet(s"$reg/postings")
      .select("doc", "term", "tf").collect().toSeq.sortBy(_.toString) ===
      postBefore.sortBy(_.toString))
    assert(registryServe(reg, qIds) === scratchServe(all, qIds, mMin = 4))
  }

  test("retention below the rebuild threshold is DROP-ONLY: retired " +
    "segment dirs deleted, delta logs filtered exact, the standing " +
    "index untouched, debt carried in meta; crossing the threshold " +
    "rebuilds and resets") {
    import spark.implicits._
    val reg = tmpReg("retain")
    for (e <- 0L until 4L)
      Incremental.impactBatchIngest(spark, reg,
        docsOf(e * 20L until (e + 1L) * 20L), "doc_id", "text", epoch = e,
        mMin = 4, quantizeDepth = false)
    val impactBefore = spark.read.parquet(s"$reg/impact")
      .collect().map(_.toString).sorted.toSeq
    // retire epoch 0: share 20/80 = 25% < 50% threshold → drop-only
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L,
      rebuildSharePm = 500000L, mMin = 4, quantizeDepth = false)
    assert(!fs(reg).exists(
      new org.apache.hadoop.fs.Path(s"$reg/postings/epoch=0")))
    assert(!fs(reg).exists(
      new org.apache.hadoop.fs.Path(s"$reg/dl/epoch=0")))
    // delta logs hold only surviving epochs, and their sums are the
    // retained corpus's true stats — no re-derivation from postings
    val retained = docsOf(20L until 80L)
    val (dfS, dlS, corpS) =
      TermStats.bm25Stats(TermStats.bm25Postings(retained, "doc_id", "text"))
    val (_, rdf, _, rcorp) = Incremental.impactIndexStats(spark, reg)
    assert(rdf.as[(String, Long)].collect().toMap ===
      dfS.as[(String, Long)].collect().toMap)
    assert(rcorp.as[(Long, Long)].collect().head ===
      corpS.as[(Long, Long)].collect().head)
    // the truncated index was NOT rewritten (drop-only arm) and meta
    // carries the retired debt
    assert(spark.read.parquet(s"$reg/impact")
      .collect().map(_.toString).sorted.toSeq === impactBefore)
    assert(metaOf(reg)._3 === 20L)
    // a serve in the carried-debt state returns NO retired doc (the
    // dl-inner-join argument) even though the index still lists them
    val qIds = (0L until 80L by 7L).toSeq
    val served = registryServe(reg, qIds)
    assert(served.nonEmpty && served.forall(_._3 >= 20L))
    // retire epoch 1 too: cumulative share (20+20)/(40+40) = 50% ≥ 50%
    // → rebuild from survivors at the recalibrated depth, debt reset
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 2L,
      rebuildSharePm = 500000L, mMin = 4, quantizeDepth = false)
    val live = docsOf(40L until 80L)
    assert(metaOf(reg)._3 === 0L)
    assert(metaOf(reg)._2 === 40L)
    assert(registryServe(reg, qIds) === scratchServe(live, qIds, mMin = 4))
    // and the monotone merge resumes cleanly after retention
    Incremental.impactBatchIngest(spark, reg,
      docsOf(80L until 100L), "doc_id", "text", epoch = 4L, mMin = 4,
      quantizeDepth = false)
    val grown = docsOf((40L until 100L).toSeq)
    assert(registryServe(reg, qIds) === scratchServe(grown, qIds, mMin = 4))
  }

  test("retention crash contract: the decision is RECORDED in the " +
    "marker — a re-run after the delta-log rewrite resumes from it; " +
    "ingest refuses while pending; a different cutoff refuses") {
    import spark.implicits._
    val reg = tmpReg("crash")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 20L),
      "doc_id", "text", epoch = 0L, mMin = 4, quantizeDepth = false)
    Incremental.impactBatchIngest(spark, reg, docsOf(20L until 40L),
      "doc_id", "text", epoch = 1L, mMin = 4, quantizeDepth = false)
    // simulate a retention(minEpoch=1) that crashed AFTER the mutations
    // (segment dirs dropped, delta logs filtered) but BEFORE the index
    // decision ran and the marker cleared: the marker holds the recorded
    // decision inputs (cutoff 1, 20 docs retired)
    val f = fs(reg)
    val marker = new org.apache.hadoop.fs.Path(s"$reg/retain_intent")
    val out = f.create(marker, true)
    out.write("1 20".getBytes("UTF-8")); out.close()
    for (base <- Seq("postings", "dl"))
      f.delete(new org.apache.hadoop.fs.Path(s"$reg/$base/epoch=0"), true)
    for (p <- Seq("stats", "corpus"))
      graft.operators.Merge.replaceParquet(spark, s"$reg/$p",
        spark.read.parquet(s"$reg/$p").filter(col("epoch") >= 1L))
    // ingest refuses in the window
    val ex = intercept[IllegalStateException] {
      Incremental.impactBatchIngest(spark, reg,
        docsOf(40L until 50L), "doc_id", "text", epoch = 2L, mMin = 4)
    }
    assert(ex.getMessage.contains("retention"))
    // the serve warns (stale-delta contract)
    val before = graft.Log.recentWarnings.size
    Incremental.impactIndexStats(spark, reg)
    assert(graft.Log.recentWarnings.drop(before)
      .exists(_.contains("incomplete retention")))
    // a retention at a DIFFERENT cutoff refuses — complete the recorded
    // cut first
    val ex2 = intercept[IllegalStateException] {
      Incremental.retainImpactRegistry(spark, reg, minEpoch = 2L, mMin = 4)
    }
    assert(ex2.getMessage.contains("cutoff 1"))
    // the re-run at the recorded cutoff resumes from the RECORDED
    // retired count (a recompute from the already-filtered corpus would
    // read 0 and skip the rebuild): share 20/(20+20) = 50% ≥ 30% →
    // rebuild, meta recalibrated to the 20 live docs, debt reset
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L,
      rebuildSharePm = 300000L, mMin = 4, quantizeDepth = false)
    assert(!Incremental.retentionPending(spark, reg))
    assert(metaOf(reg) === ((4, 20L, 0L)))
    val qIds = (0L until 40L by 5L).toSeq
    assert(registryServe(reg, qIds) ===
      scratchServe(docsOf(20L until 40L), qIds, mMin = 4))
    // ingest resumes after completion
    Incremental.impactBatchIngest(spark, reg, docsOf(40L until 50L),
      "doc_id", "text", epoch = 2L, mMin = 4, quantizeDepth = false)
    assert(registryServe(reg, qIds) ===
      scratchServe(docsOf(20L until 50L), qIds, mMin = 4))
  }

  test("retention crash contract, late window: a crash AFTER the meta " +
    "swap but BEFORE the marker clear re-runs to the SAME debt total — " +
    "the marker records the post-cut TOTAL, so the re-run cannot re-add " +
    "the increment to the already-swapped meta") {
    val reg = tmpReg("crashlate")
    for (e <- 0L until 3L)
      Incremental.impactBatchIngest(spark, reg,
        docsOf(e * 20L until (e + 1L) * 20L), "doc_id", "text", epoch = e,
        mMin = 4, quantizeDepth = false)
    // retire epoch 0 under a high threshold → the drop-only arm: meta
    // debt becomes 20 and the marker clears
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L,
      rebuildSharePm = 900000L, mMin = 4, quantizeDepth = false)
    assert(metaOf(reg)._3 === 20L)
    // simulate the crash: every mutation (dirs, logs, META) has landed
    // but the marker still records the cut's decision — the post-cut
    // debt TOTAL (prev 0 + 20 retired)
    val marker = new org.apache.hadoop.fs.Path(s"$reg/retain_intent")
    val out = fs(reg).create(marker, true)
    out.write("1 20".getBytes("UTF-8")); out.close()
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L,
      rebuildSharePm = 900000L, mMin = 4, quantizeDepth = false)
    assert(!Incremental.retentionPending(spark, reg))
    assert(metaOf(reg)._3 === 20L,
      "the re-run double-counted the retired debt")
    // and the NEXT (fresh) cut accumulates from the converged total:
    // retiring epoch 1 brings the debt to 40 (still below 90%)
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 2L,
      rebuildSharePm = 900000L, mMin = 4, quantizeDepth = false)
    assert(metaOf(reg)._3 === 40L)
  }

  test("guards: epochs are monotone; a monolithic registry refuses the " +
    "segmented ingest") {
    val reg = tmpReg("guards")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 10L),
      "doc_id", "text", epoch = 3L, mMin = 4)
    val ex = intercept[IllegalArgumentException] {
      Incremental.impactBatchIngest(spark, reg,
        docsOf(10L until 20L), "doc_id", "text", epoch = 2L, mMin = 4)
    }
    assert(ex.getMessage.contains("monotone"))
    // a flat registry (postings written straight under postings/, the
    // older unsegmented layout) is refused, never interleaved
    val mono = tmpReg("mono")
    TermStats.bm25Postings(docsOf(0L until 10L), "doc_id", "text")
      .write.parquet(s"$mono/postings")
    val ex2 = intercept[IllegalStateException] {
      Incremental.impactBatchIngest(spark, mono,
        docsOf(10L until 20L), "doc_id", "text", epoch = 0L, mMin = 4)
    }
    assert(ex2.getMessage.contains("flat (unsegmented)"))
  }

  test("per-epoch compaction: crash-replay duplicates collapse inside " +
    "their segment, the delta logs fold per (term, epoch), and a later " +
    "epoch cut stays exact") {
    import spark.implicits._
    val reg = tmpReg("compact")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 20L),
      "doc_id", "text", epoch = 0L, mMin = 4, quantizeDepth = false)
    Incremental.impactBatchIngest(spark, reg, docsOf(20L until 40L),
      "doc_id", "text", epoch = 1L, mMin = 4, quantizeDepth = false)
    // simulate a crash-replayed append: epoch 1's rows land twice,
    // byte-identically (postings + dl + the delta-log rows)
    val p1 = spark.read.parquet(s"$reg/postings/epoch=1")
      .localCheckpoint(true)
    p1.write.mode("append").parquet(s"$reg/postings/epoch=1")
    val d1 = spark.read.parquet(s"$reg/dl/epoch=1").localCheckpoint(true)
    d1.write.mode("append").parquet(s"$reg/dl/epoch=1")
    for (log <- Seq("stats", "corpus")) {
      val rows = spark.read.parquet(s"$reg/$log")
        .filter(col("epoch") === 1L).localCheckpoint(true)
      rows.write.mode("append").parquet(s"$reg/$log")
    }
    // the duplicated state still serves correctly (footprint heal +
    // delta-log distinct), and compaction folds it away
    val all = docsOf(0L until 40L)
    val qIds = (0L until 40L by 5L).toSeq
    assert(registryServe(reg, qIds) === scratchServe(all, qIds, mMin = 4))
    Incremental.compactImpactRegistry(spark, reg)
    val post1 = spark.read.parquet(s"$reg/postings/epoch=1")
    assert(post1.count() === post1.distinct().count())
    // folded stats: one row per (term, epoch), dkey null
    val stats = spark.read.parquet(s"$reg/stats")
    assert(stats.filter(col("dkey").isNotNull).count() === 0L)
    assert(stats.count() ===
      stats.select("term", "epoch").distinct().count())
    assert(registryServe(reg, qIds) === scratchServe(all, qIds, mMin = 4))
    // the per-epoch fold kept retirement exact: cut epoch 0 (share 50%
    // ≥ default 25% → rebuild) and compare to scratch on survivors
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 1L, mMin = 4,
      quantizeDepth = false)
    assert(registryServe(reg, qIds) ===
      scratchServe(docsOf(20L until 40L), qIds, mMin = 4))
  }

  test("compaction is O(current segment): sealed epochs at or below " +
    "compact_mark are skipped, and an everything-retired cut clears " +
    "the mark so reused low epochs still fold") {
    def markOf(reg: String): Option[String] = {
      val mp = new org.apache.hadoop.fs.Path(s"$reg/compact_mark")
      val f = fs(reg)
      if (!f.exists(mp)) None
      else {
        val in = f.open(mp)
        try Some(new String(in.readAllBytes(), "UTF-8").trim)
        finally in.close()
      }
    }
    def dupPostings(reg: String, e: Long): Unit = {
      val rows = spark.read.parquet(s"$reg/postings/epoch=$e")
        .localCheckpoint(true)
      rows.write.mode("append").parquet(s"$reg/postings/epoch=$e")
    }
    val reg = tmpReg("mark")
    Incremental.impactBatchIngest(spark, reg, docsOf(0L until 20L),
      "doc_id", "text", epoch = 0L, mMin = 4, quantizeDepth = false)
    Incremental.impactBatchIngest(spark, reg, docsOf(20L until 40L),
      "doc_id", "text", epoch = 1L, mMin = 4, quantizeDepth = false)
    Incremental.compactImpactRegistry(spark, reg)
    // newest is 1 → sealed-through-0 is recorded
    assert(markOf(reg) === Some("0"))
    Incremental.impactBatchIngest(spark, reg, docsOf(40L until 60L),
      "doc_id", "text", epoch = 2L, mMin = 4, quantizeDepth = false)
    // byte-duplicate a SEALED segment (a contract-violating probe: no
    // legitimate writer appends below the newest epoch — this pins that
    // compaction does not PAY for sealed segments) and the current one
    dupPostings(reg, 0L); dupPostings(reg, 2L)
    // BETWEEN compactions the serve reads the frozen stats_serve rollup
    // (folded_through 0, from the first compaction) unioned with the
    // epoch-1/2 log rows above the seal line — and must stay exact even
    // over the duplicated segments
    val qIds0 = (0L until 60L by 5L).toSeq
    assert(registryServe(reg, qIds0) ===
      scratchServe(docsOf(0L until 60L), qIds0, mMin = 4))
    Incremental.compactImpactRegistry(spark, reg)
    val post0 = spark.read.parquet(s"$reg/postings/epoch=0")
    val post2 = spark.read.parquet(s"$reg/postings/epoch=2")
    // epoch 0 was SKIPPED (duplicates remain); epoch 2 was folded
    assert(post0.count() === 2L * post0.distinct().count())
    assert(post2.count() === post2.distinct().count())
    assert(markOf(reg) === Some("1"))
    // the serve rollup advanced with the seal line: one row per term,
    // epoch-blind, folded through the newest sealed epoch
    val srv = spark.read.parquet(s"$reg/stats_serve")
    assert(srv.select("folded_through").head.getLong(0) === 1L)
    assert(srv.count() === srv.select("term").distinct().count())
    // the delta-log fold still completed (pruned durable-key read):
    // every stats row is folded (dkey null) and the serve — which
    // collapses postings duplicates in its footprint heal — is exact
    assert(spark.read.parquet(s"$reg/stats")
      .filter(col("dkey").isNotNull).count() === 0L)
    val qIds = (0L until 60L by 5L).toSeq
    assert(registryServe(reg, qIds) ===
      scratchServe(docsOf(0L until 60L), qIds, mMin = 4))
    // everything retired → the mark clears; a from-scratch restart that
    // REUSES epoch 0 must fold again, not inherit the stale skip
    Incremental.retainImpactRegistry(spark, reg, minEpoch = 3L, mMin = 4,
      quantizeDepth = false)
    assert(markOf(reg) === None)
    // the rollup can't be epoch-filtered — retention drops it (the
    // next compaction rebuilds it from the filtered log)
    assert(!fs(reg).exists(
      new org.apache.hadoop.fs.Path(s"$reg/stats_serve")))
    Incremental.impactBatchIngest(spark, reg,
      docsOf(100L until 120L), "doc_id", "text", epoch = 0L, mMin = 4,
      quantizeDepth = false)
    dupPostings(reg, 0L)
    Incremental.compactImpactRegistry(spark, reg)
    val post0b = spark.read.parquet(s"$reg/postings/epoch=0")
    assert(post0b.count() === post0b.distinct().count())
  }

  test("streamingImpactIndex ≡ the batch folds; epochs follow " +
    "the stream's epoch clock") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-impactseg-stream")
      .toFile.getAbsolutePath
    val reg = s"$dir/reg"
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingImpactIndex(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", reg,
      "doc_id", "text", epochOf = identity, mMin = 4, compactEvery = 2)
    try {
      for (e <- 0L until 3L) {
        input.addData((e * 20L until (e + 1L) * 20L).map(i => (i, text(i))): _*)
        query.processAllAvailable()
      }
    } finally query.stop()
    assert(Incremental.segmentEpochs(spark, s"$reg/dl") ===
      Seq(0L, 1L, 2L))
    val all = docsOf(0L until 60L)
    val qIds = (0L until 60L by 5L).toSeq
    // the streaming default quantizes depth (pow2); mirror it from
    // scratch: m = next pow2 ≥ impactM(60, 625, 4) = 4 (already pow2)
    assert(registryServe(reg, qIds) === scratchServe(all, qIds, mMin = 4))
  }
}
