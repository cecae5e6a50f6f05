package graft.perfbench

/** A percentile of a sample together with the number of samples it rests on
  * and how many of them lie strictly above it.
  */
final case class Percentile(p: Double, value: Double, n: Int, beyond: Int)

object Stats {

  /** Linearly interpolated percentile (`p` in [0, 1]) of a non-empty sample;
    * p = 0.5 is the usual median.
    */
  def percentile(xs: Seq[Double], p: Double): Percentile = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile rank $p outside [0, 1]")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    val v = s(lo) + (s(hi) - s(lo)) * (pos - lo)
    Percentile(p, v, s.size, s.count(_ > v))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5).value

  /** Geometric mean of a non-empty sample of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[from, to)`.
    */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
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
