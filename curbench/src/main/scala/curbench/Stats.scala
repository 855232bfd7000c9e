package curbench

/** The benchmark's arithmetic: the percentile rule it reports, quartiles
  * for the baseline record, and span self times.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it (sorted(ceil(p/100 * n) - 1)). Always a
    * real sample, never an interpolation, so a p90 over n samples has
    * floor(n / 10) samples strictly above it when values are distinct.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Middle value; the mean of the two middle values for even n. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples strictly above the reported p-th percentile. */
  def aboveCount(xs: Seq[Double], p: Double): Int = {
    val q = percentile(xs, p)
    xs.count(_ > q)
  }

  /** A span's own time: its wall time minus the wall time of its direct
    * children (children run inside the parent on the caller thread, so
    * they never overlap each other). Clamped at 0 against clock jitter.
    */
  def selfTime(spanS: Double, childS: Seq[Double]): Double =
    math.max(0.0, spanS - childS.sum)
}
