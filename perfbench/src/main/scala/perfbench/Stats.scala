package perfbench

/** Order statistics over latency samples.
  *
  * Every figure is an observed sample (nearest rank), never an
  * interpolation, so a reported latency is one that some operation really
  * took. A failed operation enters the sample as a penalty no smaller than
  * any completed latency, so a failure can raise a percentile but never
  * lower it.
  */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Number of samples ranked above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** Candidate tail percentiles, highest first; p90 is the target. */
  val TailLadder: Seq[Double] = Seq(0.9, 0.75, 0.5)

  /** The highest percentile of [[TailLadder]] that leaves at least
    * `minBeyond` samples beyond it, or None when even the median does not. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= minBeyond)

  /** Latency samples of a closed loop. `completed` holds the latencies of
    * operations that returned; `failures` counts those that threw. Each
    * failure is charged `penalty`, which the caller sets no lower than the
    * loop's wall time. */
  final case class Sample(completed: Seq[Double], failures: Int, penalty: Double) {
    require(penalty >= (if (completed.isEmpty) 0.0 else completed.max),
      "the failure penalty must not undercut a completed latency")
    def values: Seq[Double] = completed ++ Seq.fill(failures)(penalty)
    def n: Int = completed.size + failures
    def p50: Double = median(values)
    def tail: Option[(Double, Double)] = tailPercentile(n).map(p => p -> percentile(values, p))
  }
}
