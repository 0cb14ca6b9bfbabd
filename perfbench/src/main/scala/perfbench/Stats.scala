package perfbench

/** Order statistics the benchmark reports. Pure, so the self-test pins
  * them without a Spark session.
  */
object Stats {

  /** Median; the mean of the two middle values on an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` in (0, 1]: the smallest sample with at
    * least `p` of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** A tail reading: which percentile was taken, its value, and n. */
  final case class Tail(p: Double, value: Double, n: Int)

  /** The tail-reporting rule: the highest of p99, p95, p90 and p75 that
    * leaves at least ten samples strictly above its rank; when none does,
    * the median, with n stated so the reader knows why.
    */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    Seq(0.99, 0.95, 0.9, 0.75).find(p => n - math.ceil(p * n).toInt >= 10)
      .map(p => Tail(p, percentile(xs, p), n))
      .getOrElse(Tail(0.5, median(xs), n))
  }

  /** Total length of the union of half-open intervals `[start, end)`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span over `[start, end)`: its length minus the part
    * of it that `inner` intervals (child spans, Spark actions) cover.
    * Inner intervals are clipped to the span first.
    */
  def selfTime(start: Long, end: Long, inner: Seq[(Long, Long)]): Long =
    (end - start) - covered(inner.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
