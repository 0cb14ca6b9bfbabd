package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Mergeable sketches — the sub-linear summaries a 100 TB rollup pipeline
  * runs on (heavy-hitter tables, distinct-count dashboards, quantile
  * monitors) when the exact form's shuffle is the bottleneck:
  *
  *  - exact heavy-hitters = a full `groupBy(key)` — every distinct key
  *    crosses the exchange; the Count-Min sketch crosses with ≤ depth·width
  *    rows per map task, CONSTANT in corpus size and key cardinality.
  *  - exact distinct = `count(distinct key)` — a distinct shuffle; the KMV
  *    sketch crosses with ≤ k hashes per group per map task.
  *  - exact quantiles = [[Quantiles.byRank]]'s full sort shuffle; the
  *    histogram sketch crosses with ≤ bins counters per group.
  *
  * All three are DETERMINISTIC — md5-derived hashing ([[Text.baseHash32]] /
  * the [[Text.affine]] universal family), no `rand()`, no
  * implementation-defined sketch state — so each has an exact DuckDB twin
  * and a hash-checked oracle, unlike e.g. HLL whose estimate is private to
  * the implementation. And all three are MERGEABLE: per-partition (and
  * per-day, per-source, …) sketches combine by pure column algebra into
  * exactly the sketch of the union — the property that makes incremental
  * rollups (merge yesterday's sketch with today's delta) free.
  *
  * Group keys are passed BY NAME (the sketches re-reference them across
  * aggregations and windows); alias computed keys upstream.
  */
object Sketches {

  // -------------------------------------------------------------------
  // Count-Min sketch (Cormode–Muthukrishnan): depth hash rows × width
  // buckets of summed weights; point estimate = min over rows. Estimates
  // never undercount (each row's cell ≥ the true count) and overcount only
  // by hash collisions — a large overcount requires colliding with heavy
  // keys in EVERY one of the depth rows.
  // -------------------------------------------------------------------

  /** `h_j(key) = affine_j(baseHash32("cms:" + key)) mod width` — the
    * same universal family as the minhash signatures, so the SQL twin
    * reuses that oracle's hash CTE shape verbatim. The salt is one
    * constant, so a sketch and its estimate always hash alike.
    */
  private def cmsBase(key: Column): Column =
    Text.baseHash32(concat(lit("cms:"), key))

  private def cmsCells(base: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { j =>
      struct(lit(j).as("row"), (Text.affine(base, j) % width).as("bucket"))
    }: _*)

  /** Build a CMS per group (empty `groups` → one global sketch). Output:
    * `groups…, row, bucket, c` — at most depth·width cells per group ever
    * exist, and partial aggregation collapses map-side to that bound, so
    * the exchange traffic is constant in corpus size. `weight` is the
    * count column (`lit(1L)` for plain frequency).
    */
  def cmsSketch(df: DataFrame, key: Column, weight: Column, depth: Int,
                width: Int, groups: Seq[String] = Nil): DataFrame = {
    require(depth > 0 && width > 0, s"need positive depth/width, got $depth/$width")
    df.select(groups.map(col) ++ Seq(key.as("__k"), weight.as("__w")): _*)
      // the base hash lands in its own projection: the cell array below
      // references it `depth` times, and CollapseProject keeps a non-cheap
      // expression referenced more than once un-inlined (one md5 per row).
      .withColumn("__b", cmsBase(col("__k")))
      .select(groups.map(col) ++ Seq(
        explode(cmsCells(col("__b"), depth, width)).as("__cell"),
        col("__w")): _*)
      .groupBy(groups.map(col) :+ col("__cell.row").as("row") :+
        col("__cell.bucket").as("bucket"): _*)
      .agg(sum(col("__w")).as("c"))
  }

  /** Merge per-group sketches into the global sketch: sum cells. The
    * result is EXACTLY `cmsSketch` of the union — counts are additive and
    * the hash family is data-independent — which is what makes daily
    * sketch rollups equivalent to resketching the whole corpus.
    */
  def cmsMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("row"), col("bucket")).agg(sum(col("c")).as("c"))

  /** Point-estimate each probe key against a (merged, group-free) sketch:
    * `est = min_j cell(j, h_j(key))`, 0 for never-seen keys (missing
    * cell). The sketch side is ≤ depth·width rows by construction —
    * broadcast it; the probe side stays a scan, so estimating a million
    * keys is one broadcast-join pass. Output: `key, est`.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, key: Column,
                  depth: Int, width: Int): DataFrame =
    probes.select(key.as("key")).distinct()
      .withColumn("__b", cmsBase(col("key")))
      .select(col("key"), explode(cmsCells(col("__b"), depth, width)).as("__cell"))
      .select(col("key"), col("__cell.row").as("row"),
        col("__cell.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  // -------------------------------------------------------------------
  // KMV (k-minimum-values) distinct-count sketch — the θ-sketch core:
  // keep the k smallest distinct 60-bit hashes; if fewer than k exist the
  // count is EXACT, else est = (k−1) · 2⁶⁰ / v_k (the classic unbiased
  // estimator from the k-th order statistic of uniform hashes).
  // -------------------------------------------------------------------

  /** 60-bit content hash: 15 md5 hex digits — wide enough that collision
    * effects are negligible at any realistic cardinality, and directly
    * expressible in the SQL twin (`('0x' || substr(md5(…),1,15))::BIGINT`).
    */
  def hash60(value: Column, salt: String): Column =
    conv(substring(md5(concat(lit(s"$salt:"), value)), 1, 15), 16, 10)
      .cast("long")

  /** Bounded sorted-distinct buffer of the k smallest hashes — a typed
    * `Aggregator` like [[TopK.TopKByScore]]: ≤ k longs per group per map
    * task cross the exchange regardless of group size (`count(distinct)`
    * shuffles every distinct value). Merge folds one buffer into the
    * other, preserving distinctness — merge(A, B) ≡ sketch(A ∪ B), the
    * mergeability contract (ScalaCheck-pinned).
    */
  class KmvMins(k: Int) extends Aggregator[Long, List[Long], Seq[Long]] {
    require(k > 1, s"k must be > 1 (the estimator divides by k-1), got $k")
    private def insert(buf: List[Long], h: Long): List[Long] =
      if (buf.lengthCompare(k) >= 0 && buf.last <= h) buf
      else {
        val (pre, post) = buf.span(_ < h)
        post match {
          case hd :: _ if hd == h => buf // distinct: drop duplicate hash
          case _ => (pre ::: h :: post).take(k)
        }
      }
    def zero: List[Long] = Nil
    def reduce(buf: List[Long], h: Long): List[Long] = insert(buf, h)
    def merge(a: List[Long], b: List[Long]): List[Long] = b.foldLeft(a)(insert)
    def finish(buf: List[Long]): Seq[Long] = buf
    def bufferEncoder: Encoder[List[Long]] = ExpressionEncoder[List[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** `(k−1) · 2⁶⁰` as the ONE printed double constant both engines parse
    * to the same bits (`Double.toString` round-trips; the SQL twin embeds
    * the printed value).
    */
  def kmvScale(k: Int): Double = (k - 1).toDouble * (1L << 60).toDouble

  /** Distinct-count estimate per group. Output: `groups…, n_mins,
    * est_distinct` — exact (`n_mins < k`) or the KMV estimator. The
    * division is one IEEE double op over two exactly-represented operands,
    * so the SQL twin (same printed scale constant, same BIGINT→DOUBLE
    * cast) reproduces it bit-for-bit.
    */
  def kmvDistinct(df: DataFrame, groups: Seq[String], key: Column,
                  k: Int): DataFrame = {
    val agg = udaf(new KmvMins(k))
    df.select(groups.map(col) :+ hash60(key, "kmv").as("__h"): _*)
      .groupBy(groups.map(col): _*)
      .agg(agg(col("__h")).as("__mins"))
      .select(groups.map(col) ++ Seq(
        size(col("__mins")).cast("long").as("n_mins"),
        when(size(col("__mins")) < k, size(col("__mins")).cast("double"))
          .otherwise(lit(kmvScale(k)) /
            element_at(col("__mins"), k).cast("double"))
          .as("est_distinct")): _*)
  }

  // -------------------------------------------------------------------
  // Histogram quantile sketch: fixed [lo, hi) equi-width bins; the
  // quantile estimate is the LOWER EDGE of the bin holding rank ⌈p·n⌉.
  // Error ≤ one bin width by construction. The integer-rank rule is the
  // same micro-unit arithmetic as Quantiles.byRank — never a double
  // product against a rank.
  // -------------------------------------------------------------------

  /** Per-group quantile estimates from a bins-sized histogram. Output:
    * `groups…, n, q_<label>…` (bin lower edges, in `value`'s units).
    * Values below `lo` clamp to bin 0, at/above `hi` to the last bin.
    * `ps` follows [[Quantiles.byRank]]'s contract (micro-unit precision).
    * One partial-agg shuffle of ≤ groups·bins counter rows; the rank scan
    * over each group's ≤ bins cells rides the same partitioning. All bin
    * arithmetic is LONG `div` — a double floor near a bin edge could
    * disagree with the SQL twin's integer `//`.
    */
  def histQuantiles(df: DataFrame, groups: Seq[String], value: Column,
                    lo: Long, hi: Long, bins: Int,
                    ps: Seq[(String, Double)]): DataFrame = {
    require(bins > 0, s"need positive bins, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(ps.nonEmpty, "need at least one quantile")
    ps.foreach { case (label, p) =>
      val pMicro = math.round(p * 1e6)
      require(pMicro >= 1 && pMicro / 1e6 == p && p <= 1.0,
        s"quantile '$label': p=$p outside (0,1] or beyond 6-decimal precision")
    }
    val width = hi - lo
    require(width <= Long.MaxValue / bins,
      s"(hi-lo)·bins overflows Long: [$lo,$hi) with $bins bins")
    // clamp the VALUE into [lo, hi-1] BEFORE the multiply: clamping the
    // bin after would let an out-of-range value (e.g. a stray ns
    // timestamp) overflow `(v-lo)·bins` negative and land in bin 0
    // instead of the top bin. In-range values compute identically.
    val bin = expr(
      s"((least(${hi - 1}L, greatest(${lo}L, __v)) - ${lo}L) * ${bins}L) div ${width}L")
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(groups.map(col): _*)
    val hist = df
      .select(groups.map(col) :+ value.cast("long").as("__v"): _*)
      .groupBy(groups.map(col) :+ bin.as("__bin"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c"))
        .over(byGroup.orderBy(col("__bin").asc)))
      .withColumn("__n", sum(col("__c")).over(byGroup))
      .withColumn("__edge", expr(s"${lo}L + (__bin * ${width}L) div ${bins}L"))
    hist.groupBy(groups.map(col): _*)
      .agg(max(col("__n")).as("n"),
        ps.map { case (label, p) =>
          val pMicro = math.round(p * 1e6)
          // smallest edge among bins whose cumulative count reaches rank
          // ⌈p·n⌉ — edges grow with bin, so min() lands on the FIRST such
          // bin, the integer-rank rule of Quantiles.byRank.
          min(when(col("__cum") * 1000000L >= lit(pMicro) * col("__n"),
            col("__edge"))).as(s"q_$label")
        }: _*)
  }
}
