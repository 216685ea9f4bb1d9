package perfbench

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  private val TailLadder = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile with at least `beyond` samples above
    * it, as (percentile, value, samples above). With fewer than
    * 2 x `beyond` samples no rung qualifies and it is p90, which unlike
    * the maximum does not rest on one sample. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val p = TailLadder.find(p => xs.size * (100 - p) / 100 >= beyond)
      .getOrElse(90.0)
    val v = percentile(xs, p)
    (p, v, xs.count(_ > v))
  }
}
