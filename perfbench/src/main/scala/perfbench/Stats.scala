package perfbench

/** Order statistics for per-op latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest percentile that still has `beyond`
    * samples above it, with the percentile it sits at and the sample count.
    * For ascending samples x(1..n) that is x(n - beyond), at percentile
    * 100 * (n - beyond) / n. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    if (xs.length <= beyond) None
    else {
      val s = xs.sorted
      val n = s.length
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
