package graft.perfbench

import java.util.SplittableRandom

/** The benchmark's own arithmetic, kept in one place so `SelfTest` can
  * pin it. */
object Stats {

  /** Median; the mean of the two middle samples when the count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `p` percentile (0 < p < 1), or None unless at least 10 samples lie
    * beyond it: a p90 needs 100 samples, a p50 needs 20. The median rule
    * applies at p = 0.5; above it the nearest-rank sample is reported. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    if (xs.length * (1 - p) < 10 - 1e-9) None
    else if (p == 0.5) Some(median(xs))
    else {
      val s = xs.sorted
      Some(s(math.ceil(p * s.length).toInt - 1))
    }
  }

  /** Total length of the union of `[start, end)` intervals after clipping
    * each to `[lo, hi)`: the time at least one of them was open. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A seeded permutation of `0 until n` (Fisher-Yates): the same seed
    * always gives the same order. */
  def permutation(n: Int, seed: Long): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    val r = new SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }
}
