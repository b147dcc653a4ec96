package clibench

/** Summary statistics the report uses. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p < 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Int): Int = math.ceil(p * n / 100.0).toInt

  /** Samples strictly beyond the `p`-th percentile's rank. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** The highest whole percentile, at most `cap`, that still has at
    * least `minBeyond` samples beyond it — the tail a sample of this
    * size supports. None when not even the median qualifies.
    */
  def supportedTail(n: Int, cap: Int = 90, minBeyond: Int = 10): Option[Int] =
    (cap to 50 by -1).find(p => beyond(n, p) >= minBeyond)

  /** Length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`. */
  def coverage(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
