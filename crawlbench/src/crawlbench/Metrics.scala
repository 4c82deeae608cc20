package crawlbench

/** The benchmark's printed result: the JSON object's four keys. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric])

final case class Metric(name: String, unit: String, value: Double)

/**
 * Metric definitions, over the run's one crawl.
 *
 * End to end (untraced):
 *  - `fetched_per_s`: fetched URLs (Completed + WithError) per second of
 *    crawl wall time (seeding and cycles; set-up excluded);
 *  - `exec_ms_per_url`: executor task milliseconds per fetched URL;
 *  - `cycle_s_p50`: median micro-cycle wall time, one commit to the next;
 *  - `state_mb_per_kurl`: bytes of the files the final snapshot references
 *    per 1,000 frontier rows;
 *  - `setup_s`: session start, corpus synthesis and `prepareCorpus`;
 *  - `peak_rss_mb`: the JVM's peak resident set (VmHWM) at the end of the
 *    crawl, before the correctness check.
 *
 * Per layer (traced). `CrawlEngine.*` covers the whole `drive` call, commits
 * and reads included, per micro-cycle where the name says so, and per crawl
 * otherwise; `robots_cycle_s` and `page_cycle_s` are the first cycle (every
 * host's robots.txt, no page) and the last (the page wave), so their
 * difference is what the pages cost over a cycle's fixed part.
 * `SnapTable.*` is the store's part, per commit (`reads` per cycle).
 * `SeenSketch.*` builds the engine's URL-seen sketch over the final frontier
 * and probes it with URLs never enqueued. The `trace.*` metrics check the
 * tracing itself: the traced crawl's own `fetched_per_s` (to set against
 * the untraced runs'), tracing's bookkeeping time as a share of crawl wall
 * time, jobs submitted while no span was open, the share of all task time
 * charged to a span, and jobs whose Spark job group differs from their span
 * (jobs the engine submits from its own threads).
 */
object Metrics {
  val NamePattern = "[A-Za-z0-9_.-]+"
  /** The traced run fails its attribution check below this share. */
  val MinAttributed = 0.95

  val EndToEnd: Seq[(String, String)] = Seq(
    "fetched_per_s" -> "1/s", "exec_ms_per_url" -> "ms", "cycle_s_p50" -> "s",
    "state_mb_per_kurl" -> "MB", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "CrawlEngine.cycles" -> "count", "CrawlEngine.fetched" -> "count",
    "CrawlEngine.robots_cycle_s" -> "s", "CrawlEngine.page_cycle_s" -> "s",
    "CrawlEngine.jobs_per_cycle" -> "count", "CrawlEngine.stages_per_cycle" -> "count",
    "CrawlEngine.driver_s_per_cycle" -> "s", "CrawlEngine.task_s_per_cycle" -> "s",
    "CrawlEngine.task_ms_p50" -> "ms", "CrawlEngine.task_ms_max" -> "ms",
    "CrawlEngine.gc_s" -> "s", "CrawlEngine.shuffle_mb" -> "MB", "CrawlEngine.input_mb" -> "MB",
    "CrawlEngine.drained" -> "count", "CrawlEngine.enqueued" -> "count",
    "CrawlEngine.deduped" -> "count", "CrawlEngine.dedup_ratio" -> "ratio",
    "CrawlEngine.deferred_polite" -> "count",
    "SnapTable.commit_s" -> "s", "SnapTable.commit_jobs" -> "count",
    "SnapTable.commit_mb_written" -> "MB", "SnapTable.commit_files" -> "count",
    "SnapTable.reads" -> "count",
    "Corpus.synth_s" -> "s", "Corpus.prepare_s" -> "s",
    "SeenSketch.build_s" -> "s", "SeenSketch.fpp" -> "ratio",
    "trace.fetched_per_s" -> "1/s", "trace.overhead_frac" -> "ratio",
    "trace.unattributed_jobs" -> "count", "trace.task_s_attributed_frac" -> "ratio",
    "trace.offgroup_jobs" -> "count")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def endToEnd(set: Main.Setup, c: Main.Crawl): Map[String, Double] = Map(
    "fetched_per_s" -> c.fetched / c.wallSecs,
    "exec_ms_per_url" -> c.taskSecs * 1e3 / c.fetched,
    "cycle_s_p50" -> median(c.cycleSecs),
    "state_mb_per_kurl" -> c.stateBytes / 1e6 / (c.frontierRows / 1e3),
    "setup_s" -> set.secs,
    "peak_rss_mb" -> c.peakRssMb)

  def perLayer(set: Main.Setup, c: Main.Crawl): Map[String, Double] = {
    val drive = Set("CrawlEngine.cycle", "SnapTable.commit", "SnapTable.read")
    val g = c.trace.groups
    val d = g.collect { case (k, a) if drive(k) => a }.foldLeft(Trace.Agg())(_ + _)
    val commit = g.getOrElse("SnapTable.commit", Trace.Agg())
    val commits = c.store.commits
    val n = commits.size.toDouble
    def sum(k: String) = commits.map(_.metrics.getOrElse(k, 0.0)).sum
    val (ms0, ms1) = c.driveMs
    val tasks = d.taskMs.map(_.toDouble)
    val (buildS, fpp) = c.sketch.get
    val deduped = sum("deduped")
    val enqueued = sum("enqueued")
    val groups = Seq(set.trace.groups, g)
    val all = groups.flatMap(_.values).foldLeft(Trace.Agg())(_ + _)
    val unattributed = groups.flatMap(_.get(Trace.Unattributed)).foldLeft(Trace.Agg())(_ + _)
    val listenerTaskSecs = set.trace.taskSeconds + c.trace.taskSeconds
    Map(
      "CrawlEngine.cycles" -> n, "CrawlEngine.fetched" -> c.fetched.toDouble,
      "CrawlEngine.robots_cycle_s" -> c.cycleSecs.head,
      "CrawlEngine.page_cycle_s" -> c.cycleSecs.last,
      "CrawlEngine.jobs_per_cycle" -> d.jobs / n,
      "CrawlEngine.stages_per_cycle" -> d.stages / n,
      "CrawlEngine.driver_s_per_cycle" -> (ms1 - ms0 - c.trace.busyMs(ms0, ms1)) / 1e3 / n,
      "CrawlEngine.task_s_per_cycle" -> d.taskNanos / 1e9 / n,
      "CrawlEngine.task_ms_p50" -> median(tasks),
      "CrawlEngine.task_ms_max" -> (if (tasks.isEmpty) 0.0 else tasks.max),
      "CrawlEngine.gc_s" -> d.gcMs / 1e3,
      "CrawlEngine.shuffle_mb" -> d.shuffleBytes / 1e6,
      "CrawlEngine.input_mb" -> d.inputBytes / 1e6,
      "CrawlEngine.drained" -> sum("drained"), "CrawlEngine.enqueued" -> enqueued,
      "CrawlEngine.deduped" -> deduped,
      "CrawlEngine.dedup_ratio" -> deduped / math.max(1.0, deduped + enqueued),
      "CrawlEngine.deferred_polite" -> c.deferredPolite.toDouble,
      "SnapTable.commit_s" -> commits.map(_.secs).sum / n,
      "SnapTable.commit_jobs" -> commit.jobs / n,
      "SnapTable.commit_mb_written" -> commits.map(_.bytes).sum / 1e6 / n,
      "SnapTable.commit_files" -> commits.map(_.files).sum / n,
      "SnapTable.reads" -> c.store.reads / n,
      "Corpus.synth_s" -> set.synthSecs,
      "Corpus.prepare_s" -> set.prepareSecs,
      "SeenSketch.build_s" -> buildS, "SeenSketch.fpp" -> fpp,
      "trace.fetched_per_s" -> c.fetched / c.wallSecs,
      "trace.overhead_frac" -> c.traceSecs / c.wallSecs,
      "trace.unattributed_jobs" -> unattributed.jobs.toDouble,
      "trace.task_s_attributed_frac" ->
        ((all.taskNanos - unattributed.taskNanos) / 1e9 / listenerTaskSecs),
      "trace.offgroup_jobs" -> all.offGroupJobs.toDouble)
  }

  /**
   * The run's result. Traced, the attribution check is one more operation:
   * it fails when any job ran outside a span or the spans' task time falls
   * short of [[MinAttributed]] of the listener's total.
   */
  def result(set: Main.Setup, c: Main.Crawl, trace: Boolean): Result = {
    val (defs, values) =
      if (!trace) (EndToEnd, endToEnd(set, c))
      else (PerLayer, perLayer(set, c))
    val checked =
      if (!trace) c.check
      else c.check + Check.Result(1, if (attributed(values)) 0 else 1)
    Result(checked.failed == 0, checked.attempted, checked.failed,
      defs.map { case (n, u) => Metric(n, u, values(n)) })
  }

  def attributed(perLayer: Map[String, Double]): Boolean =
    perLayer("trace.unattributed_jobs") == 0 &&
      perLayer("trace.task_s_attributed_frac") >= MinAttributed
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(r: Result): String =
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString("\"metrics\": {", ", ", "}}")
}
