package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of positive values: each value moves it by the same
    * factor, however large or small the value is. */
  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Samples lying above the `p`-th percentile of a sample of `n`. */
  def samplesBeyond(n: Int, p: Int): Int = n - math.ceil(p / 100.0 * n).toInt
}
