package perfbench

/** Order statistics and interval arithmetic shared by the workloads and
  * the trace roll-up.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.ceil(p / 100.0 * s.size).toInt - 1)
  }

  /** Samples strictly above the nearest-rank `p` position. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it; below that it is one or two outliers, not a percentile.
    */
  def tailAllowed(n: Int, p: Double): Boolean = beyond(n, p) >= 10

  /** A pass's cost as the sum over its operations of `stat` over the
    * passes: with the median, the way `Bench` totals a suite, one slow
    * repetition of one operation does not move it.
    */
  def passTime(passes: Seq[Seq[Double]], stat: Seq[Double] => Double): Double = {
    require(passes.nonEmpty && passes.forall(_.size == passes.head.size),
      s"passes of unequal length: ${passes.map(_.size)}")
    passes.transpose.map(stat).sum
  }

  /** Sorted, non-overlapping union of half-open intervals. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  def covered(iv: Seq[(Double, Double)]): Double =
    union(iv).map { case (a, b) => b - a }.sum

  /** Length of `iv`'s union clipped to the window [lo, hi). */
  def coveredWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    covered(iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })

  /** Wall time of [lo, hi) that no busy interval covers. */
  def idle(lo: Double, hi: Double, busy: Seq[(Double, Double)]): Double =
    (hi - lo) - coveredWithin(busy, lo, hi)
}
