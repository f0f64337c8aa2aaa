package perfbench

/** Order statistics used by every workload. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail rule: the highest whole percentile that still has at
    * least 10 samples beyond it (p ≤ 1 − 10/n), at least the median.
    * Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    val p = math.max(50, math.min(99,
      math.floor(100.0 * (1.0 - 10.0 / n) + 1e-9).toInt))
    (quantile(xs, p / 100.0), p, n)
  }

  def ms(ns: Long): Double = ns / 1e6
  def s(ns: Long): Double = ns / 1e9
}
