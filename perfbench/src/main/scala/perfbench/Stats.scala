package perfbench

/** The benchmark's own statistics: sample summaries and interval
  * arithmetic over spans and Spark job intervals. Pure functions, so the
  * self-test pins them without a Spark session. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when the
    * count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the highest percentile that still has at
    * least ten samples beyond it. With `n` sorted samples, the value of rank
    * `r` (1-based) has `n - r` samples above it, so the tail is rank
    * `n - 10` and its percentile is `100 * (n - 10) / n`. None when the
    * sample has ten values or fewer. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= 10) None
    else {
      val r = n - 10
      Some(Tail(100.0 * r / n, xs.sorted.apply(r - 1), n))
    }
  }

  /** Half-open time interval [start, end) in milliseconds. */
  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
    def clip(lo: Double, hi: Double): Interval =
      Interval(math.max(start, lo), math.min(end, hi))
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(xs: Seq[Interval]): Double = {
    val sorted = xs.filter(_.length > 0).sortBy(_.start)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { iv =>
      if (curS.isNaN) { curS = iv.start; curE = iv.end }
      else if (iv.start <= curE) curE = math.max(curE, iv.end)
      else { total += curE - curS; curS = iv.start; curE = iv.end }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of it that its child
    * spans cover (children may overlap each other and may stick out). */
  def selfTime(span: Interval, children: Seq[Interval]): Double =
    span.length - unionLength(children.map(_.clip(span.start, span.end)))

  /** Time inside `wall` during which no Spark job was running: the driver
    * gap. Jobs overlapping each other are counted once. */
  def driverGap(wall: Interval, jobs: Seq[Interval]): Double =
    selfTime(wall, jobs)
}
