package perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Linear-interpolation quantile (the "type 7" rule numpy uses). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"quantile level $p outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile as reported: its level, its value, the sample count
    * and how many samples lie beyond its rank.
    */
  case class Tail(level: Double, value: Double, n: Int, beyond: Int)

  val TailLevels: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  /** Samples strictly beyond the rank of level `p` in a sample of `n`. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** The highest of [[TailLevels]] with at least `minBeyond` samples
    * beyond it. A sample too small for any level above the median (fewer
    * than 40 samples at the default) reports its maximum, with
    * `beyond = 0`, so the label says so.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val n = xs.size
    TailLevels.find(p => beyond(n, p) >= minBeyond) match {
      case Some(p) => Tail(p, quantile(xs, p), n, beyond(n, p))
      case None    => Tail(1.0, xs.max, n, 0)
    }
  }

  /** Least-squares slope of `ys` against their index (per-step creep). */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.size
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
  }
}
