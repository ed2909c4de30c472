package perfbench

/** The benchmark's arithmetic, kept free of Spark so the tests in
  * `src/test` can pin it exactly. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile that leaves at least `beyond`
    * samples above it in `n` samples, or None when even the median
    * does not. A tail is only reported at a percentile the sample
    * supports: p90 needs 100 samples, p99 needs 1000. */
  def highestSupported(n: Int, beyond: Int = 10): Option[Int] = {
    val p = math.floor(100.0 * (n - beyond) / n + 1e-9).toInt
    if (n <= 0 || p < 50) None else Some(math.min(p, 99))
  }

  /** `p`'s value when the sample supports it (at least ten samples
    * beyond), else None. */
  def tail(xs: Seq[Double], p: Int): Option[Double] =
    highestSupported(xs.size).filter(_ >= p).map(_ => percentile(xs, p))

  /** Self time of a span [start, end): its duration minus the part of
    * it that its children cover. Children may overlap each other and
    * stick out of the parent; each instant is subtracted once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** A task's scheduler delay as Spark's UI derives it: the part of
    * the task's launch-to-finish duration spent neither deserializing,
    * running, serializing its result nor fetching that result — i.e.
    * queueing and transport. Never negative (the five clocks are read
    * at different places and can disagree by a millisecond). */
  def schedulerDelay(durationMs: Long, runMs: Long, deserializeMs: Long,
      resultSerMs: Long, gettingResultMs: Long): Long =
    math.max(0L, durationMs - runMs - deserializeMs - resultSerMs - gettingResultMs)
}
