package graft.perfbench

/** The order statistics the benchmark reports. */
object Stats {

  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail latency: the value at `percentile` (nearest rank), with
    * `beyond` of the `n` samples above that rank. */
  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it, when that percentile is above the median (at least
    * 2·minBeyond + 1 samples). A smaller sample has no tail by that rule
    * and reports its nearest-rank 75th percentile instead: the maximum
    * of a handful of ops is too noisy to bound. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val at =
      if (n > 2 * minBeyond) n - 1 - minBeyond
      else math.max(0, math.ceil(0.75 * n).toInt - 1)
    Tail(100.0 * (at + 1) / n, s(at), n - 1 - at, n)
  }

  /** Median of the last quarter over median of the first quarter (at
    * least two samples each once there are four): > 1 means ops slow
    * down as the run goes. */
  def drift(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "drift of an empty sample")
    val q = if (xs.size >= 4) math.max(2, xs.size / 4) else 1
    median(xs.takeRight(q)) / median(xs.take(q))
  }
}
