package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  /** Linear-interpolated quantile (the `numpy.percentile` default) of a
    * non-empty sample, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples that rank strictly above the `q` quantile of `n` samples. */
  def samplesBeyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it; below that it is one or two outliers, not a tail. */
  val MinTailSamples = 10

  def tailQuantile(xs: Seq[Double], q: Double): Option[Double] =
    if (samplesBeyond(xs.length, q) >= MinTailSamples) Some(quantile(xs, q)) else None
}
