package graftbench

/** The benchmark's own arithmetic: percentiles with their sample counts,
  * interval unions, span self time and driver gap. Pure functions, pinned
  * by [[SelfTest]].
  */
object Stats {

  /** A percentile together with the samples it rests on: `n` samples in
    * all, `beyond` of them strictly above `value`.
    */
  final case class Pct(q: Double, value: Double, n: Int, beyond: Int)

  /** Linear-interpolation quantile (the `(n - 1) * q` rule, as numpy's
    * default and Python's `statistics.quantiles(method="inclusive")`).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = (s.size - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def pct(xs: Seq[Double], q: Double): Pct = {
    val v = quantile(xs, q)
    Pct(q, v, xs.size, xs.count(_ > v))
  }

  /** The highest of `candidates` that still has at least `minBeyond`
    * samples above it; the median when none does.
    */
  def tailPct(xs: Seq[Double], minBeyond: Int = 10,
      candidates: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75)): Pct =
    candidates.map(pct(xs, _)).find(_.beyond >= minBeyond).getOrElse(pct(xs, 0.5))

  /** Total length covered by a set of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of `[start, end)` covered by `intervals`, each clipped to it. */
  def coveredWithin(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double =
    unionLength(intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** Self time of a span: its duration minus the part its children cover. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - coveredWithin(start, end, children)

  /** Driver gap of a span: wall time during which none of its Spark jobs ran. */
  def driverGap(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    (end - start) - coveredWithin(start, end, jobs)
}
