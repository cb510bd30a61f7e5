package perfbench

/** Summary statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail may be reported at, highest last. */
  val TailPercentiles: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** A tail latency: the highest of [[TailPercentiles]] that leaves at
    * least `beyond` samples strictly above its nearest-rank position.
    * None when even the median leaves fewer than `beyond` samples.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val n = s.size
    TailPercentiles.reverse.collectFirst {
      case p if n > 0 && n - rank(p, n) >= beyond => Tail(p, s(rank(p, n) - 1), n)
    }
  }

  /** 1-based nearest-rank position of percentile `p` among `n` samples. */
  private[perfbench] def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
}
