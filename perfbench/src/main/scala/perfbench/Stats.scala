package perfbench

/** Order statistics shared by every workload's report. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The latency at the highest percentile that still has `beyond` samples
    * above it: the order statistic x(n-1-beyond) of the ascending sample.
    * Returns (value, percentile, sample count). With `beyond` samples or
    * fewer no such percentile exists; the maximum is returned then and the
    * percentile reads 100. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= beyond) (s.last, 100.0, n)
    else {
      val k = n - 1 - beyond
      (s(k), 100.0 * (k + 1) / n, n)
    }
  }
}
