package perfbench

/** Order statistics over timing samples. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentile `p` in [0, 1] by linear interpolation between closest
    * ranks (the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The percentile to report in place of `want` so that at least
    * `beyond` samples lie above it: `want` itself when there are enough
    * samples, else the highest percentile that keeps `beyond` samples
    * above it (never below the median). */
  def reportable(n: Int, want: Double, beyond: Int = 10): Double =
    if (n <= 0) 0.5
    else math.max(0.5, math.min(want, 1.0 - beyond.toDouble / n))
}
