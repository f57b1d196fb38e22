package graft.vecbench

/** Order statistics over a run's samples. */
object Stats {

  /** The `p`-th percentile (0..100) by linear interpolation between
    * closest ranks (the same rule as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`). NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of the usual tail levels that still has at least
    * `beyond` samples above it, so a reported tail is never a single
    * outlier; None when even p50 lacks that many (fewer than
    * 2·`beyond` samples). */
  def tailLevel(n: Int, beyond: Int = 10,
                levels: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)): Option[Double] =
    levels.find(p => n * (1 - p / 100) >= beyond - 1e-9)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
