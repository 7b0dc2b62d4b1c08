package graft.perfbench

/** Order statistics for the reported metrics. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile that still has at least ten samples beyond
    * it, never below the median: (percentile, value, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val q = math.max(0.5, 1.0 - 10.0 / xs.size)
    val v = quantile(xs, q)
    (q * 100, v, xs.count(_ > v))
  }

  /** JSON number with every digit the double carries. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
