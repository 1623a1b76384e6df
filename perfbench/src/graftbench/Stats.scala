package graftbench

/** Order statistics used by every reported figure. Quartiles follow
  * Python's `statistics.quantiles(data, n=4)` (the default "exclusive"
  * method), so the figures printed here are the ones a reader recomputes
  * from the raw samples with the standard library.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3), exclusive method; one sample gives that sample thrice. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no samples")
    val d = xs.sorted.toIndexedSeq
    val ld = d.length
    if (ld == 1) return (d(0), d(0), d(0))
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Percentile by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p >= 0 && p <= 100)
    val s = xs.sorted.toIndexedSeq
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of `candidates` that still leaves at least `minBeyond` of
    * `n` samples above it: a tail percentile backed by fewer samples than
    * that is one or two outliers, not a distribution. 24 batches give p50
    * (12 beyond); 40 give p75; 100 give p90. None when even p50 is thin.
    */
  def supportedPercentile(n: Int, minBeyond: Int = 10,
      candidates: Seq[Int] = Seq(99, 95, 90, 75, 50)): Option[Int] =
    candidates.sorted(Ordering[Int].reverse)
      .find(p => n * (100 - p) / 100.0 >= minBeyond)
}
