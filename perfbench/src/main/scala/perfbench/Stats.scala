package perfbench

/** Pure measurement arithmetic, kept free of Spark so the unit spec
  * can pin it. */
object Stats {

  /** A percentile together with how many samples it was taken over:
    * a p99 over 40 samples is the maximum, not a tail estimate, and
    * the report has to say so. */
  final case class Pct(value: Double, samples: Int)

  /** Linear-interpolated percentile (the `numpy.percentile` default)
    * of `xs`, `p` in [0, 100]. Empty input has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(Pct(s(lo) + (s(hi) - s(lo)) * (pos - lo), s.size))
    }

  def median(xs: Seq[Double]): Double =
    percentile(xs, 50).map(_.value).getOrElse(Double.NaN)

  /** Total length covered by a set of [start, end) intervals, each
    * clipped to [lo, hi). Overlaps count once. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Driver gap over [lo, hi): the wall time during which no stage
    * was running — planning, scheduling and driver-side work. */
  def driverGap(stages: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - covered(stages, lo, hi)
}
