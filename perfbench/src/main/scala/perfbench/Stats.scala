package perfbench

/** Order statistics and the result record the runner prints. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value, sample count). With ten or fewer samples no
    * such percentile exists and the maximum is reported as p100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (100.0, s.last, n)
    else (100.0 * (n - 10) / n, s(n - 11), n)
  }

  /** Sorted-interval union length, for self time and driver gaps. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
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
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One metric as the runner prints it. */
final case class Metric(value: Double, unit: String)

/** The last line of the benchmark's standard output. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Metric)]) {
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
