package perfbench

/** Order statistics for the per-run summaries. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)

  /** The highest of p90/p99/p999 with at least ten samples beyond it,
    * as (label, value), or None when fewer than 100 samples exist. */
  def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    Seq(("p999", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, p) => s.length * (1 - p) >= 10 - 1e-9 }
      .map { case (l, p) => l -> s(math.min(s.length - 1, (p * s.length).toInt)) }
  }
}
