package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.TermStats

/** The bucketed serving layout ([[Incremental.publishImpactServeTables]],
  * the SCALE.md zipfbucket finding): under a sort-merge regime — the
  * plan a big serve batch lands in once candidates outgrow the
  * broadcast threshold — the doc-keyed rescore joins must NOT shuffle
  * the published registry side. Forced here by disabling broadcast
  * joins outright, so the pin is deterministic at spec scale instead of
  * depending on size estimates.
  */
class BucketedServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def text(i: Long): String =
    (0 until (4 + (i % 3)).toInt).map(j => s"t${(i + j * j) % 7}")
      .mkString(" ")

  /** Shuffle exchanges whose SUBTREE reads only the named table
    * locations — a corpus-proportional registry re-shuffle. The
    * candidate-side exchanges (their subtrees also read the docs/query
    * source) stay permitted: those are ∝ query footprint.
    */
  private def registryShuffles(df: DataFrame, needles: Seq[String]): Int = {
    df.foreach(_ => ())
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // every LEAF is a source: file scans report their location, anything
    // else (LocalTableScan, InMemory, reused broadcast …) reports an
    // opaque non-registry tag — otherwise a candidate-side exchange whose
    // only FILE scan is a registry table would miscount as "bare"
    def scans(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case s: FileSourceScanExec =>
        Seq(s.relation.location.rootPaths.map(_.toString).mkString(","))
      case l: org.apache.spark.sql.execution.LeafExecNode =>
        Seq(s"<other:${l.nodeName}>")
      case other => other.children.flatMap(scans)
    }
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: ShuffleExchangeLike =>
        val ss = s.children.flatMap(scans)
        val bare = ss.nonEmpty &&
          ss.forall(path => needles.exists(path.contains))
        (if (bare) 1 else 0) + s.children.map(walk).sum
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("published bucketed serve ≡ registry serve, and under a forced " +
    "sort-merge plan no shuffle feeds off a bare published-registry scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed-serve")
      .toFile.getAbsolutePath
    val reg = s"$dir/reg"
    val docs = (0L until 60L).map(i => (i, text(i))).toDF("doc_id", "text")
    // two epochs: the publication folds every live segment, and the
    // `epoch` partition column must not leak into a published table
    for (e <- 0L until 2L)
      Incremental.impactBatchIngest(spark, reg,
        docs.filter($"doc_id" >= e * 30L && $"doc_id" < (e + 1L) * 30L),
        "doc_id", "text", epoch = e, mMin = 8, quantizeDepth = false)
    assert(Incremental.segmentEpochs(spark, s"$reg/postings") === Seq(0L, 1L),
      "fixture: the registry must span two epochs")
    Incremental.publishImpactServeTables(spark, reg, "bsspec", buckets = 4)
    assert(spark.table("bsspec_postings").columns.toSeq ===
      Seq("doc", "term", "tf"))
    assert(spark.table("bsspec_dl").columns.toSeq === Seq("doc", "dl"))
    assert(spark.table("bsspec_postings").count() ===
      TermStats.bm25Postings(docs, "doc_id", "text").count(),
      "the publication must fold every epoch's postings")
    val qs = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id".as("q_id"),
        slice(graft.functions.Text.tokens($"text"), 1, 3).as("qt"))
    val (rp, rdf, rdl, rcorp) = Incremental.impactIndexStats(spark, reg)
    def served(trunc: DataFrame, post: DataFrame, dl: DataFrame) =
      TermStats.bm25TopKImpact(trunc, post, rdf, dl, rcorp, qs,
        "q_id", "qt", k = 3)
    val flat = served(Incremental.impactIndexRegistry(spark, reg), rp, rdl)
    val bucketed = served(spark.table("bsspec_impact"),
      spark.table("bsspec_postings"), spark.table("bsspec_dl"))
    assert(bucketed.select($"q", $"rank", $"doc", $"score_pm")
        .as[(Long, Long, Long, Long)].collect().toSet ===
      flat.select($"q", $"rank", $"doc", $"score_pm")
        .as[(Long, Long, Long, Long)].collect().toSet,
      "the published layout must not change a single served row")
    // force the sort-merge regime (what a big candidate set lands in)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val flatSmj = served(
        Incremental.impactIndexRegistry(spark, reg), rp, rdl)
      val bucketedSmj = served(spark.table("bsspec_impact"),
        spark.table("bsspec_postings"), spark.table("bsspec_dl"))
      val flatBare = registryShuffles(flatSmj,
        Seq(s"$reg/postings", s"$reg/dl", s"$reg/impact"))
      val bucketedBare = registryShuffles(bucketedSmj,
        Seq("bsspec_postings", "bsspec_dl", "bsspec_impact"))
      assert(flatBare >= 2,
        s"fixture: the flat plan under forced SMJ must re-shuffle the " +
          s"registry frames (saw $flatBare bare-registry exchanges)")
      assert(bucketedBare === 0,
        "the bucketed layout must leave ZERO shuffles over bare " +
          "published-registry scans — the write-time shuffle is the point")
      assert(graft.sources.Bucketing.usedBucketedScan(bucketedSmj),
        "the serve must actually read through the bucketed scans")
      assert(bucketedSmj.select($"q", $"rank", $"doc", $"score_pm")
          .as[(Long, Long, Long, Long)].collect().toSet ===
        flat.select($"q", $"rank", $"doc", $"score_pm")
          .as[(Long, Long, Long, Long)].collect().toSet,
        "forced-SMJ bucketed serve must still serve identical rows")
    } finally spark.conf.set(key, prev)
  }

  test("streamingImpactServePublish: stream-GROWN bucketed tables ≡ the " +
    "one-shot publish; re-delivered docs append nothing; the grown " +
    "tables keep the no-registry-shuffle pin under forced SMJ") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed-grow")
      .toFile.getAbsolutePath
    val reg = s"$dir/reg"
    val input = MemoryStream[(Long, String)]
    val query = Incremental.streamingImpactServePublish(
      input.toDF().toDF("doc_id", "text"), s"$dir/ckpt", reg, "bsgrow",
      "doc_id", "text", buckets = 4, mMin = 8)
    try {
      for (b <- 0L until 3L) {
        input.addData((b * 20L until (b + 1L) * 20L).map(i => (i, text(i))): _*)
        query.processAllAvailable()
      }
      // a source re-delivering already-published docs (the at-least-once
      // shape): the anti-join must land NOTHING in the tables
      input.addData((0L until 20L).map(i => (i, text(i))): _*)
      query.processAllAvailable()
    } finally query.stop()
    // reference: the one-shot O(registry) publication of the same registry
    Incremental.publishImpactServeTables(spark, reg, "bsref", buckets = 4)
    for (s <- Seq("postings", "dl", "impact")) {
      val grown = spark.table(s"bsgrow_$s")
      val ref = spark.table(s"bsref_$s")
      assert(grown.collect().map(_.toString).sorted.toSeq ===
        ref.collect().map(_.toString).sorted.toSeq,
        s"stream-grown $s table must hold exactly the one-shot rows")
    }
    // and the grown layout serves shuffle-free over the registry side
    val docs = (0L until 60L).map(i => (i, text(i))).toDF("doc_id", "text")
    val qs = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id".as("q_id"),
        slice(graft.functions.Text.tokens($"text"), 1, 3).as("qt"))
    val (rp, rdf, rdl, rcorp) = Incremental.impactIndexStats(spark, reg)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val served = TermStats.bm25TopKImpact(spark.table("bsgrow_impact"),
        spark.table("bsgrow_postings"), rdf, spark.table("bsgrow_dl"),
        rcorp, qs, "q_id", "qt", k = 3)
      assert(registryShuffles(served,
        Seq("bsgrow_postings", "bsgrow_dl", "bsgrow_impact")) === 0,
        "the grown tables must keep the zero-bare-registry-shuffle pin")
      assert(graft.sources.Bucketing.usedBucketedScan(served))
      // row-level reference: the flat registry serve
      val flat = TermStats.bm25TopKImpact(
        Incremental.impactIndexRegistry(spark, reg), rp, rdf, rdl, rcorp,
        qs, "q_id", "qt", k = 3)
      assert(served.select($"q", $"rank", $"doc", $"score_pm")
          .as[(Long, Long, Long, Long)].collect().toSet ===
        flat.select($"q", $"rank", $"doc", $"score_pm")
          .as[(Long, Long, Long, Long)].collect().toSet)
    } finally spark.conf.set(key, prev)
  }
}
