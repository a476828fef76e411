package perfbench

/** Spark-free rules the workloads report by: percentiles, the tail
  * percentile a sample supports and the processing rate of a rung.
  */
object Stats {

  /** Nearest-rank percentile (`pm` in per-mille: 500 = p50, 990 = p99). */
  def percentile(xs: Array[Double], pm: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(1, rank(s.length, pm)) - 1)
  }

  def median(xs: Array[Double]): Double = percentile(xs, 500)

  private def rank(n: Int, pm: Int): Int = ((pm.toLong * n + 999) / 1000).toInt

  /** Percentiles a tail may be reported at, in per-mille. */
  val TailCandidates: Seq[Int] = Seq(500, 900, 950, 990, 999)

  /** The highest candidate percentile with at least 10 samples beyond its
    * nearest rank, or None when even the median has fewer.
    */
  def tailPercentile(n: Int): Option[Int] =
    TailCandidates.filter(pm => n - rank(n, pm) >= 10).lastOption

  /** Processing rate, events per second: the events some micro-batches
    * read over the time their triggers ran.
    */
  def processingRate(events: Seq[Long], triggerMs: Seq[Double]): Double = {
    require(events.size == triggerMs.size && events.nonEmpty, "no batches to rate")
    val ms = triggerMs.sum
    require(ms > 0, "triggers took no time")
    events.sum * 1000.0 / ms
  }
}
