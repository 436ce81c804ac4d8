package perfbench

/** Order statistics used by every reported latency. */
object Stats {

  /** A nearest-rank percentile: `value` is the sample at 1-based `rank` of
    * the sorted sample, and `beyond` counts the samples strictly greater
    * than `value` (the tail the percentile does not cover).
    */
  final case class Pct(value: Double, rank: Int, beyond: Int, n: Int)

  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size - 1e-9).toInt)
    val v = s(rank - 1)
    Pct(v, rank, s.count(_ > v), s.size)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
