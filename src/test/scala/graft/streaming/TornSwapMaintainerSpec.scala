package graft.streaming

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Torn-swap recovery of the registry maintainers: fold batch 1, leave the
  * registry as a `commitSwap` crashed between its two renames, fold batch
  * 2, and require the registry and sink of an uncrashed two-batch run.
  * The torn states are HealSwapSpec's:
  *
  *  - `p1`  target ABSENT, `.old` = the registry, complete `.tmp` holding
  *          the swap's new state (here the same rows, as a compaction or a
  *          replayed fold writes) — the heal finishes the swap;
  *  - `p1i` target ABSENT, `.old` = the registry, an unfinished `.tmp`
  *          (zero rows, no `_SUCCESS`) — the heal restores `.old`.
  *
  * Without a heal at batch entry the maintainer folds batch 2 onto an
  * empty registry, and its own swap then restores the accumulated state
  * only to rename it aside and delete it.
  */
class TornSwapMaintainerSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-torn-$tag")
      .toFile.getAbsolutePath

  private def fsOf(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Put `path` into the torn state `point`. */
  private def tear(path: String, point: String): Unit = {
    val fs = fsOf(path)
    val target = new Path(path)
    val tmp = new Path(s"$path.tmp-torn")
    point match {
      case "p1" =>
        assert(FileUtil.copy(fs, target, fs, tmp, false,
          spark.sparkContext.hadoopConfiguration))
        assert(fs.exists(new Path(tmp, "_SUCCESS")))
      case "p1i" =>
        spark.read.parquet(path).limit(0).write.parquet(tmp.toString)
        fs.delete(new Path(tmp, "_SUCCESS"), false)
    }
    assert(fs.rename(target, new Path(s"$path.old-torn")))
    assert(!fs.exists(target))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def rowsAt(path: String): Seq[String] = rows(spark.read.parquet(path))

  /** No swap sibling of any torn path survives the recovered run. */
  private def assertNoStrays(paths: Seq[String]): Unit = paths.foreach { p =>
    val parent = new Path(p).getParent
    val name = new Path(p).getName
    val strays = fsOf(p).listStatus(parent).map(_.getPath.getName)
      .filter(n => n.startsWith(s"$name.tmp-") || n.startsWith(s"$name.old-"))
    assert(strays.isEmpty, s"swap siblings of $p survived: ${strays.toList}")
  }

  /** Run `fold` uncrashed and under each torn state; `fold(dir, between)`
    * folds batch 1, calls `between`, folds batch 2, and returns the
    * observed registry + sink state; `torn(dir)` names the swap targets.
    */
  private def checkRecovers(tag: String, torn: String => Seq[String])(
      fold: (String, () => Unit) => Seq[Seq[String]]): Unit = {
    val expected = fold(tmpDir(s"$tag-ref"), () => ())
    assert(expected.forall(_.nonEmpty), s"$tag fixture: empty reference state")
    for (point <- Seq("p1", "p1i")) {
      val dir = tmpDir(s"$tag-$point")
      val got = fold(dir, () => torn(dir).foreach(tear(_, point)))
      assert(got == expected, s"$tag: torn state $point lost registry state")
      assertNoStrays(torn(dir))
    }
  }

  /** Drive a streaming maintainer over two micro-batches. */
  private def twoBatches[T](mk: DataFrame => StreamingQuery,
                            input: MemoryStream[T], cols: String*)(
      b1: Seq[T], b2: Seq[T], between: () => Unit): Unit = {
    val query = mk(input.toDF().toDF(cols: _*))
    try {
      input.addData(b1: _*); query.processAllAvailable()
      between()
      input.addData(b2: _*); query.processAllAvailable()
    } finally query.stop()
  }

  test("Components.foldIntoParquet heals a torn registry swap before " +
    "folding the next batch") {
    import spark.implicits._
    def edges(es: (Long, Long)*) = es.toDF("a", "b")
    checkRecovers("cc", dir => Seq(s"$dir/reg")) { (dir, between) =>
      graft.operators.Components.foldIntoParquet(spark, s"$dir/reg",
        edges((1L, 2L), (3L, 4L), (7L, 8L)), "a", "b")
      between()
      graft.operators.Components.foldIntoParquet(spark, s"$dir/reg",
        edges((2L, 3L), (5L, 6L)), "a", "b")
      Seq(rowsAt(s"$dir/reg"))
    }
  }

  test("streamingCurriculum heals a torn registry swap at batch entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val weights = Map("a" -> 4, "b" -> 2, "c" -> 1, "d" -> 1)
    def batch(r: Range) = r.map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    checkRecovers("cur", dir => Seq(s"$dir/reg")) { (dir, between) =>
      twoBatches(df => Incremental.streamingCurriculum(df, s"$dir/ckpt",
          s"$dir/reg", "g", "id", "cur", weights, servedOf = _ / 2,
          nBuckets = 8),
        MemoryStream[(Long, String)], "id", "g")(
        batch(0 until 60), batch(1000 until 1040), between)
      Seq(rowsAt(s"$dir/reg"))
    }
  }

  test("streamingCurriculumSegmented heals a torn tail/ swap at batch entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val weights = Map("a" -> 4, "b" -> 2, "c" -> 1, "d" -> 1)
    def batch(r: Range) = r.map(i => (i.toLong, Seq("a", "b", "c", "d")(i % 4)))
    checkRecovers("curseg", dir => Seq(s"$dir/reg/tail")) { (dir, between) =>
      twoBatches(df => Incremental.streamingCurriculumSegmented(df,
          s"$dir/ckpt", s"$dir/reg", "g", "id", "cur", weights,
          servedOf = _ / 2, nBuckets = 8),
        MemoryStream[(Long, String)], "id", "g")(
        batch(0 until 60), batch(1000 until 1040), between)
      Seq(rows(Incremental.curriculumRegistry(spark, s"$dir/reg")
        .select(col("id"), col("g"), col("pos"))))
    }
  }

  test("streamingFunnel heals torn level registries at batch entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // event-time-ordered batches (the funnel's arrival contract) whose
    // batch-2 chains need batch 1's level registries: u1's c matches its
    // batch-1 b (level1), u2's b its batch-1 a (level0)
    val b1 = Seq((1L, 1L, 100L, "a"), (2L, 1L, 200L, "b"), (3L, 2L, 150L, "a"),
      (4L, 3L, 120L, "x"))
    val b2 = Seq((5L, 1L, 300L, "c"), (6L, 2L, 400L, "b"), (7L, 2L, 500L, "c"),
      (8L, 3L, 600L, "a"))
    checkRecovers("funnel",
        dir => Seq(s"$dir/state/level0", s"$dir/state/level1")) {
      (dir, between) =>
        twoBatches(df => Incremental.streamingFunnel(df, s"$dir/ckpt",
            s"$dir/state", s"$dir/out", "user_id", "ts", "event_id",
            "event_type", stepValues = Seq("a", "b", "c"),
            windows = Seq(5000L, 800L)),
          MemoryStream[(Long, Long, Long, String)],
          "event_id", "user_id", "ts", "event_type")(b1, b2, between)
        Seq(rowsAt(s"$dir/state/level0"), rowsAt(s"$dir/state/level1"),
          rows(spark.read.parquet(s"$dir/out")
            .select("user_id", "ts", "step3_id", "step1_id", "step2_id")))
    }
  }

  test("streamingVideoNovelty heals a torn registry compaction at batch " +
    "entry (compactEvery = 1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(47)
    def noisy(): Array[Byte] = Multimodal.Ppm.render(10, 8, 255,
      Array.fill(240)((rnd.nextInt(256) - 128).toByte))
    val a = noisy(); val b = noisy(); val c = noisy(); val d = noisy()
    def vid(fs: Array[Byte]*) = Multimodal.P6Stream.render(fs)
    // batch 2's video 3 re-uploads video 1: novel only if the registry
    // compacted by batch 1 was lost
    val b1 = Seq((1L, vid(a, b)), (2L, vid(a, c)))
    val b2 = Seq((3L, vid(a, b)), (4L, vid(d)))
    checkRecovers("video", dir => Seq(s"$dir/registry")) { (dir, between) =>
      twoBatches(df => Incremental.streamingVideoNovelty(df, s"$dir/ckpt",
          s"$dir/out", s"$dir/registry", "id", "video", minHamming = 8,
          compactEvery = 1),
        MemoryStream[(Long, Array[Byte])], "id", "video")(b1, b2, between)
      Seq(rowsAt(s"$dir/registry"), rowsAt(s"$dir/out"))
    }
  }
}
