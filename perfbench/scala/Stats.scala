package perfbench

/** Order statistics with their sample count.
  *
  * Percentiles interpolate linearly between closest ranks (the R-7 /
  * numpy-default rule), so the median of an even-sized sample is the mean
  * of the two middle values — never the upper-middle element. */
object Stats {
  final case class Summary(n: Int, p25: Double, p50: Double, p75: Double) {
    def iqrShare: Double = if (p50 == 0.0) 0.0 else (p75 - p25) / p50
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 100.0, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val rank = (s.size - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def summary(xs: Seq[Double]): Summary =
    Summary(xs.size, percentile(xs, 25.0), median(xs), percentile(xs, 75.0))
}
