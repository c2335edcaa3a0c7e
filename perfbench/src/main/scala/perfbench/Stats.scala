package perfbench

/** Order statistics for the benchmark's reported timings. */
object Stats {
  /** Percentile `p` (0 to 100) by linear interpolation between closest
    * ranks, the rule Python's `statistics.quantiles(method="inclusive")`
    * and numpy's default use.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Whether `n` samples put at least ten beyond percentile `p`, the
    * least a tail percentile is reported on.
    */
  def hasTail(n: Int, p: Double): Boolean = n * (100 - p) >= 1000
}
