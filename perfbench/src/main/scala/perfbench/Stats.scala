package perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** Samples that must lie strictly beyond a percentile before it is reported. */
  val TailMinBeyond = 10

  /** The highest ladder percentile with at least [[TailMinBeyond]] samples
    * above its nearest-rank position, as (percentile, value); None when
    * even the median has fewer than that many samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.find { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * xs.size).toInt)
      xs.size - rank >= TailMinBeyond
    }.map(p => (p, percentile(xs, p)))
}
