package perfbench

/** Summary statistics over the samples one run collects. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. The value is always a
    * measured sample, never an interpolation between two.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples that lie strictly beyond the nearest-rank `p`-th percentile. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest whole percentile with at least `beyond` samples above
    * it, or None when `n` is too small for any. A tail percentile read
    * from fewer samples than that is a single observation, not a tail.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 0 by -1).find(p => samplesBeyond(n, p) >= beyond)

  /** Total length covered by a set of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s >= reach) { covered += e - s; reach = e }
      else if (e > reach) { covered += e - reach; reach = e }
    }
    covered
  }

  /** Length of [from, to) that none of the intervals covers: for a span
    * and the tasks that ran in it, the time no task was running.
    */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(intervals.map { case (s, e) =>
      (math.max(s, from), math.min(e, to))
    })

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
