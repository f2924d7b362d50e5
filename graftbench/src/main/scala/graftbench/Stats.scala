package graftbench

/** Summary statistics for the benchmark's timing samples. */
object Stats {

  /** Percentiles the tail rule may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.min(s.length - 1, rank(s.length, p) - 1)))
  }

  /** 1-based nearest rank of percentile `p` in a sample of `n`. */
  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Mean over groups of each group's median: one figure for a mix of
    * operation kinds that weighs every kind alike, however many samples
    * each has, and does not jump between kinds as the median of the
    * pooled sample does. */
  def meanOfMedians(groups: Seq[Seq[Double]]): Double = {
    require(groups.nonEmpty, "mean of medians of no groups")
    groups.map(median).sum / groups.size
  }

  /** The highest percentile of `TailLadder` that has at least `beyond`
    * samples above its nearest rank, with its value; None when the
    * sample is too small for even the median to qualify. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    TailLadder.find(p => n - rank(n, p) >= beyond).map(p => (p, percentile(xs, p)))
  }
}
