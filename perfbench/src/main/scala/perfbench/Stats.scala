package perfbench

/** Order statistics used for every reported figure.
  *
  * Quantiles interpolate linearly between the two closest ranks
  * (Hyndman–Fan type 7, numpy's default): for sorted `x` of length `n`,
  * q(p) = x(h) + (h - floor(h)) * (x(floor h + 1) - x(floor h)) with
  * h = (n - 1) * p, zero-based. The median is q(0.5), which is the mean
  * of the two middle values for even `n`.
  */
object Stats {

  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"quantile level out of [0, 1]: $p")
    val s = xs.toArray.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it, i.e. n * (1 - p) >= 10: p99 needs 1000 samples, p90
    * needs 100. Otherwise the "tail" would be one or two outliers. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.length * (1.0 - p) >= 10.0 - 1e-9) Some(quantile(xs, p)) else None
}
