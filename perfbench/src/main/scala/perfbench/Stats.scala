package perfbench

/** The benchmark's own arithmetic: medians, the tail rule and span self
  * time. Pure functions, pinned by StatsSpec.
  */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median over operation kinds of each kind's median latency. A
    * plain median over a mix of a few kinds jumps between kinds when one
    * sample is noisy; this one moves only when a kind's median does.
    */
  def medianOfKinds(ops: Seq[(String, Double)]): Double =
    median(ops.groupBy(_._1).values.map(s => median(s.map(_._2))).toSeq)

  /** The tail: the highest percentile with at least ten samples beyond
    * it. With n samples sorted ascending that is the (n-10)-th value
    * (1-based), at percentile 100 * (n - 10) / n. With ten samples or
    * fewer no percentile qualifies and the tail is None.
    */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  val TailBeyond = 10

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= TailBeyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n))
    }
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Children are clipped to the parent and may
    * overlap each other; overlapping time is counted once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
