package perfbench

/** Order statistics and interval arithmetic used to turn raw samples and
  * listener events into metrics.
  */
object Stats {

  /** Quantile `q` in [0, 1] by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile with the evidence behind it. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** Percentile levels the tail rule chooses from, highest first. */
  val TailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  /** Samples strictly beyond percentile `p` of `n` samples: those ranked
    * after position ceil(p·n).
    */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** The highest percentile in [[TailLevels]] with at least `minBeyond`
    * samples beyond it, or None when even the lowest level lacks them.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] =
    TailLevels.find(p => beyond(xs.length, p) >= minBeyond)
      .map(p => Tail(p, quantile(xs, p), xs.length))

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of [start, end) not covered by any of `inner`, each clipped to
    * the window first. This is a span's self time given its children, and
    * an op's driver gap given its job intervals.
    */
  def uncovered(start: Double, end: Double, inner: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(
      inner.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
