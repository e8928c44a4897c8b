package perfbench

/** The benchmark's arithmetic: order statistics, interval unions and span
  * self time. Pure functions, pinned by StatsSpec. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * above its rank, with its value; None while that percentile would not
    * lie above the median. */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    val p = if (n == 0) 0 else math.floor(100.0 * (n - beyond) / n).toInt
    if (p <= 50) None else Some(p -> percentile(xs, p))
  }

  /** Total length of the union of half-open [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1

  final case class Span(id: Int, parent: Option[Int], name: String,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** A span's duration minus the part of its interval its direct children
    * cover; overlapping children are counted once. */
  def selfTimeNs(span: Span, all: Seq[Span]): Long =
    span.durNs - unionLength(all.filter(_.parent.contains(span.id))
      .map(k => (math.max(k.startNs, span.startNs), math.min(k.endNs, span.endNs))))
}
