package graft.perfbench

/** Order statistics for the reported timings. */
object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile with at least ten samples above it, and
    * its value. With ten samples or fewer no percentile qualifies; the
    * maximum is returned as p100.
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.length
    val p = if (n <= 10) 100 else math.floor(100.0 * (n - 10) / n).toInt
    (pct(xs, p), p)
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Derives the per-layer breakdown from the traced run's spans and the
  * listener's job records.
  *
  * `window` is the span around the measured loop; `ops` are the timed
  * calls inside it (one per query, round or feed operation). Job times
  * are wall-clock milliseconds and are mapped onto the spans' nanoTime
  * axis through one (nanoTime, currentTimeMillis) pair read at start.
  */
final class Report(spans: Seq[Span], jobs: Seq[JobRec], nano0: Long,
    milli0: Long, cores: Int) {
  private def ns(ms: Long): Long = nano0 + (ms - milli0) * 1000000L

  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val jobsBySpan: Map[Long, Seq[JobRec]] = jobs.groupBy(_.span)

  def subtree(root: Span): Seq[Span] =
    root +: children.getOrElse(root.id, Nil).flatMap(subtree)

  def jobsUnder(root: Span): Seq[JobRec] =
    subtree(root).flatMap(s => jobsBySpan.getOrElse(s.id, Nil))

  def jobInterval(j: JobRec): (Long, Long) = (ns(j.startMs), ns(j.endMs))

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of `s` covered by at least one of its jobs. */
  def jobNs(s: Span): Long = covered(jobsUnder(s).map(jobInterval), s.start, s.end)

  /** Self time per layer over the window: a span's duration minus what its
    * child spans and its own jobs cover; a span's own jobs count as
    * `spark` self time.
    */
  def selfTimes(window: Span): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    subtree(window).foreach { s =>
      val own = jobsBySpan.getOrElse(s.id, Nil).map(jobInterval)
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      acc(s.layer) += s.dur - covered(kids ++ own, s.start, s.end)
      acc("spark") += covered(own, s.start, s.end)
    }
    Report.Layers.map(l => s"self_s.$l" -> acc(l) / 1e9).toMap
  }

  /** The `spark.*` metrics over the given timed calls. */
  def sparkMetrics(window: Span, ops: Seq[Span]): Map[String, Double] = {
    val js = jobsUnder(window)
    val jobS = ops.map(jobNs).sum / 1e9
    val driverS = ops.map(_.dur).sum / 1e9 - jobS
    val cpuS = js.map(_.cpuNs.get).sum / 1e9
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.driver_s" -> driverS,
      "spark.job_s" -> jobS,
      "spark.executor_cpu_s" -> cpuS,
      "spark.core_busy_frac" -> (if (jobS > 0) cpuS / (jobS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite.get).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill.get).sum.toDouble,
      "spark.input_records" -> js.map(_.inputRecords.get).sum.toDouble,
      "spark.output_bytes" -> js.map(_.outputBytes.get).sum.toDouble)
  }

  def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)
  def ownJobs(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)
}

object Report {
  /** The layers self time is reported for; `harness` is the benchmark's
    * own loop.
    */
  val Layers: Seq[String] =
    Seq("harness", "queries", "api", "catalog", "graph", "spark")
}
