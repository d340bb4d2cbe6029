package perfbench

/** The benchmark's arithmetic: percentiles with the sample-count rule,
  * interval unions for driver-gap accounting, core utilization and the
  * span reconciliation rule. Pure functions, unit-tested in StatsSpec.
  */
object Stats {

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Median: the mean of the two middle values for an even sample. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** A percentile is reported only when at least `minBeyond` samples lie
    * beyond it: p90 needs 100 samples, p99 needs 1000.
    */
  def supports(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    n * (100.0 - p) / 100.0 >= minBeyond - 1e-9

  /** The highest of `ps` that `n` samples support, if any. */
  def highestSupported(n: Int, ps: Seq[Double] = Seq(99.0, 90.0, 75.0, 50.0)): Option[Double] =
    ps.sorted.reverse.find(supports(n, _))

  /** Total length covered by a set of half-open intervals `[s, e)`;
    * overlapping and nested intervals are counted once.
    */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside `[start, end)` that no interval covers: the driver gap
    * of a request whose Spark jobs ran over `jobs`.
    */
  def gap(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double = {
    val clipped = jobs.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }

  /** Share of the available core time that executors were busy:
    * executor run time over wall time times cores.
    */
  def coreUtilization(executorMs: Double, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0 || cores <= 0) 0.0 else executorMs / (wallMs * cores)

  /** Reconciliation tolerance for one request: 2 ms of clock granularity
    * at the job edges plus 2% of the request's wall time.
    */
  def toleranceMs(wallMs: Double): Double = 2.0 + 0.02 * wallMs

  /** Job time (the UNCLIPPED union of the request's job intervals) plus
    * the driver gap must equal the request's wall time within the
    * tolerance. A job attributed to the wrong request, or one that
    * started before or ended after its request, breaks the equality.
    */
  def reconcileErrorMs(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    math.abs(unionLength(jobs) + gap(start, end, jobs) - (end - start))

  def reconciles(start: Double, end: Double, jobs: Seq[(Double, Double)]): Boolean =
    reconcileErrorMs(start, end, jobs) <= toleranceMs(end - start)
}
