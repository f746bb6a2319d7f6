package graft.perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail of a latency sample: the value at the highest percentile
    * that still has at least `minBeyond` samples above it, with that
    * percentile and the count beyond it. With `minBeyond` samples or
    * fewer no percentile qualifies; the maximum is returned and
    * `ruleMet` is false so the reader sees the tail is under-sampled.
    */
  final case class Tail(value: Double, pct: Double, beyond: Int, n: Int,
      ruleMet: Boolean)

  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n > minBeyond) {
      val rank = n - minBeyond // 1-based; exactly minBeyond samples sit above
      Tail(s(rank - 1), 100.0 * rank / n, minBeyond, n, ruleMet = true)
    } else Tail(s.last, 100.0, 0, n, ruleMet = false)
  }

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`.
    */
  def unionLength(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
