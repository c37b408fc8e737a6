package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[Ladder]] that has at least `beyond`
    * samples above it, with its value; `None` when even the median has
    * fewer than `beyond` samples above it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    Ladder.find(p => xs.size * (100.0 - p) / 100.0 >= beyond - 1e-9)
      .map(p => (p, percentile(xs, p)))
}
