package perfbench

/** Order statistics and interval arithmetic the report is built from. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in [0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** A tail percentile with the sample it was read from. */
  final case class Tail(percentile: Double, value: Double, samples: Int,
                        beyond: Int)

  /** The highest percentile of [[TailLadder]] with at least ten samples
    * beyond it. A sample too small for any of them (fewer than 40) has no
    * tail; the median stands in and `beyond` says how thin that is. */
  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    def beyond(p: Double): Int = n - math.ceil(p / 100.0 * n).toInt
    TailLadder.find(p => beyond(p) >= 10) match {
      case Some(p) => Tail(p, percentile(xs, p), n, beyond(p))
      case None => Tail(50, median(xs), n, beyond(50))
    }
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time in [start, end) that no interval covers: an operation's
    * driver-only time when the intervals are its Spark jobs, a span's self
    * time when they are its children. Intervals are clipped to the window. */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(intervals.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
