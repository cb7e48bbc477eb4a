package graftbench

/** Order statistics over timing samples. */
object Stats {

  /** Percentile `p` (0-100) by linear interpolation between order
    * statistics; 0 for no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail percentiles with at least ten
    * samples beyond it, or None when there are too few samples for any.
    */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100.0) >= 10.0)
}
