package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank `p` position. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** The highest of the reported tail percentiles that still has at least
    * `minBeyond` samples above it, if any does. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => beyond(n, p) >= minBeyond)
}
