package perfbench

/** The benchmark's own arithmetic, kept apart so the self-test can pin it. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def failRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "fail ratio of nothing attempted")
    require(failed >= 0 && failed <= attempted, s"$failed failed of $attempted")
    failed.toDouble / attempted
  }

  /** Length of the union of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
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

  /** Self time: the span's duration minus the part its children cover,
    * with children clipped to the span.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
