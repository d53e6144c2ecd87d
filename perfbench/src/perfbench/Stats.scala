package perfbench

/** Order statistics over a run's samples. */
object Stats {

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that leaves at least ten samples above
    * it, with its value; None below forty samples, where it would be no
    * tail at all. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 40) None
    else {
      val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
      Some(p -> percentile(xs, p))
    }
}
