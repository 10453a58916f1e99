package qbench

/** Pure summary arithmetic over samples and spans. Times are in whatever
  * unit the caller passes; intervals are half-open `[start, end)`. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in (0, 1), reported only when at least
    * ten samples lie above it, so a tail figure never rests on a
    * handful of points. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1), got $p")
    val s = xs.sorted
    val idx = math.ceil(p * s.length).toInt - 1
    if (s.isEmpty || s.length - 1 - idx < 10) None else Some(s(idx))
  }

  /** Total length covered by the union of `intervals`, clipped to
    * `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)

  /** Wall time of an op not covered by any job it ran: driver-side
    * construction, planning, result handling and waiting. */
  def driverOnly(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)]): Long =
    selfTime(opStart, opEnd, jobs)

  /** Worst stage's max ÷ median task run time over stages with at least
    * two tasks; 1 when no stage has two tasks or every run time is 0. */
  def taskSkew(taskTimesByStage: Iterable[Seq[Double]]): Double = {
    val ratios = taskTimesByStage.filter(_.length >= 2).flatMap { ts =>
      val m = median(ts)
      if (m > 0) Some(ts.max / m) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
