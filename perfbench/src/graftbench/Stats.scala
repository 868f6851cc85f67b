package graftbench

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values; 0 for none. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The highest of p99.9/p99/p95/p90/p75 that has at least ten samples
    * beyond it (the median when none has), with its label and the sample
    * count. */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    val p = Seq(0.999, 0.99, 0.95, 0.9, 0.75).find(p => xs.size * (1 - p) >= 10 - 1e-9)
      .getOrElse(0.5)
    Map("percentile" -> f"p${p * 100}%.1f".replace(".0", ""), "value" -> quantile(xs, p),
      "samples" -> xs.size)
  }
}
