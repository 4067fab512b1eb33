package perfbench

/** Pure statistics used by the harness; no Spark here so the rules are
  * unit-testable on their own.
  */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile at or below `wanted` that leaves at
    * least `beyond` samples above it: p such that n·(1 − p/100) ≥ beyond.
    * Never below the median — a sample too small for even p50 reports p50.
    */
  def supportedPercentile(n: Int, wanted: Int, beyond: Int = 10): Int = {
    val best = if (n <= beyond) 0 else ((n - beyond).toLong * 100 / n).toInt
    math.max(50, math.min(wanted, best))
  }

  /** Percentile under the "at least ten samples beyond" rule.
    * Returns (value, percentile used, sample count).
    */
  def tailPercentile(xs: Seq[Double], wanted: Int): (Double, Int, Int) = {
    val p = supportedPercentile(xs.length, wanted)
    (quantile(xs, p / 100.0), p, xs.length)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of a span minus the union of the job intervals inside it,
    * each job clipped to the span: the time no job was running.
    */
  def driverGap(spanStart: Long, spanEnd: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (s, e) =>
      (math.max(s, spanStart), math.min(e, spanEnd))
    }
    math.max(0L, (spanEnd - spanStart) - unionLength(clipped))
  }

  /** Staleness samples: at each sample time t, t minus the creation time of
    * the newest input whose output was committed by t. `commits` holds
    * (commit time, creation time of the newest input in that commit).
    * Before the first commit the window start counts as the creation time.
    */
  def backlogSamples(windowStart: Long, windowEnd: Long, stepMs: Long,
                     commits: Seq[(Long, Long)]): Seq[Double] = {
    val byCommit = commits.sortBy(_._1)
    val out = Seq.newBuilder[Double]
    var i = 0
    var newest = windowStart
    var t = windowStart + stepMs
    while (t <= windowEnd) {
      while (i < byCommit.length && byCommit(i)._1 <= t) {
        newest = math.max(newest, byCommit(i)._2)
        i += 1
      }
      out += (t - newest) / 1000.0
      t += stepMs
    }
    out.result()
  }
}

/** Open-loop schedule: send k is due at `start + k·period`, whatever time
  * the generator actually got to it. Latency is measured from the due time,
  * so a generator that falls behind cannot hide the wait it caused.
  */
final case class Schedule(startMs: Long, periodMs: Long) {
  def dueMs(k: Int): Long = startMs + k.toLong * periodMs
}

object Latency {

  /** Latency of each emitted output in seconds: end of the micro-batch that
    * emitted it minus the scheduled send time of the input that made it
    * final. `emitted` holds (input index, emitting batch end ms).
    */
  def fromSchedule(schedule: Schedule, emitted: Seq[(Int, Long)]): Seq[Double] =
    emitted.map { case (k, endMs) => (endMs - schedule.dueMs(k)) / 1000.0 }
}
