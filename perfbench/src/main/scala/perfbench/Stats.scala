package perfbench

/** Order statistics and interval arithmetic shared by the workloads and the
  * trace report. Pure functions, covered by the harness self-tests.
  */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(rank(s.size, p) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly above the nearest-rank percentile `p` of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest whole percentile from 50 to 99 that still has at least
    * `minBeyond` samples beyond it among `n`, or None when even the median
    * has fewer. A tail read off fewer samples than that is one or two
    * outliers, not a percentile.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => beyond(n, p) >= minBeyond)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val s = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its length minus the union of its children's
    * intervals, each clipped to the span.
    */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (a, b) = span
    b - a - unionLength(children.map { case (c, d) => (math.max(a, c), math.min(b, d)) })
  }
}
