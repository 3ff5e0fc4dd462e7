package perfbench

/** Order statistics over operation samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** Samples strictly above the nearest-rank `p`-th percentile position. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** p90 is reported only when at least ten samples lie beyond it, which
    * under the nearest-rank rule means at least 100 samples; a tail
    * percentile resting on fewer points is one or two outliers. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (beyond(xs.length, 90) >= 10) Some(percentile(xs, 90)) else None

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
