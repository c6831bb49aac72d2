package perfbench

/** Order statistics over per-operation samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail value, the percentile it sits at, and the sample count. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  /** The highest order statistic that still has at least `beyond`
    * samples strictly above it, so the tail rests on more than one or two
    * outliers. `percentile` is the share of samples at or below it. With
    * too few samples for any such statistic the result is `None`. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val s = xs.sorted
    val i = s.size - 1 - beyond
    if (i < 0) None else Some(Tail(s(i), 100.0 * (i + 1) / s.size, s.size))
  }
}
