package perfbench

/** Per-layer metrics of a traced run, from the listener records and the
  * harness counters of the traced passes only.
  *
  * Counts and times are per traced pass (on etl_spotify a pass holds one
  * daily run, so `extract.*` is per daily run), except `transform.*`,
  * `load.*` and `pipeline.jobs`, which are per pipeline run. Ratios and
  * peaks are over the traced passes as a whole.
  */
final class Layers(val metrics: Seq[(String, Double)], val self: Map[String, Double])

object Layers {
  val names: Seq[String] = Seq(
    "extract.s", "extract.requests",
    "transform.s", "transform.raw_scans", "transform.parse_tasks",
    "load.s", "load.jobs", "load.files", "load.mb_written", "pipeline.jobs",
    "entry.construct_s", "entry.action_s") ++
    CatalogWorkload.modules.map(m => s"ops.$m.s") ++ Seq(
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.executions",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.task_s", "engine.cpu_s",
    "engine.gc_s", "engine.input_mb", "engine.shuffle_write_mb", "engine.shuffle_read_mb",
    "engine.spill_mb", "engine.failed_tasks", "engine.driver_gap_s",
    "engine.empty_task_ratio", "engine.core_util",
    "cache.release_s", "cache.blocks", "cache.peak_mb",
    "streaming.get_batch_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.commit_s", "streaming.state_rows", "streaming.state_mb", "streaming.late_rows",
    "heap.peak_live_mb", "trace.overhead_s", "trace.overhead_share")

  private def within(ms: Long, windows: Seq[(Long, Long)]) =
    windows.exists { case (a, b) => ms >= a && ms <= b }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(engine: EngineProbe, plans: PlanProbe, batches: Seq[BatchRec],
      windows: Seq[(Long, Long)], passS: Seq[(Boolean, Double)], rec: Recorder,
      spans: Spans, cores: Int, peakLiveMb: Double): Layers = {
    val nPass = windows.size.max(1).toDouble
    val runs = rec.counters.getOrElse("pipeline.runs", 0.0)
    val perRun = if (runs > 0) 1.0 / runs else 0.0
    val jobs = engine.jobs.filter(j => within(j.startMs, windows)).toList
    val stages = engine.stages.filter(s => within(s.submitMs, windows)).toList
    val tasks = engine.tasks.filter(t => within(t.launchMs, windows)).toList
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach(n => m(n) = 0.0)
    rec.counters.foreach { case (k, v) => if (m.contains(k)) m(k) = v / nPass }

    // spotify layers: jobs inside Pipeline.run, attributed by call site
    val pipelineSpans = spans.spans.filter(_.layer == "spotify/Pipeline").toList
    def inPipeline(ms: Long) = pipelineSpans.exists(s => ms * 1000000L >= s.startNs && ms * 1000000L <= s.endNs)
    val pJobs = jobs.filter(j => inPipeline(j.startMs))
    val loadJobs = pJobs.filter(_.callSite.contains("graft.spotify.Writers"))
    m("load.s") = loadJobs.map(j => (j.endMs - j.startMs) / 1000.0).sum * perRun
    m("load.jobs") = loadJobs.size * perRun
    m("load.files") = rec.counters.getOrElse("load.files", 0.0) * perRun
    m("load.mb_written") = rec.counters.getOrElse("load.mb_written", 0.0) * perRun
    m("pipeline.jobs") = pJobs.size * perRun
    pipelineSpans.foreach { s =>
      pJobs.filter(j => j.startMs * 1000000L >= s.startNs && j.startMs * 1000000L <= s.endNs)
        .foreach(j => spans.add(s"job ${j.jobId}",
          if (j.callSite.contains("graft.spotify.Writers")) "spotify/Writers" else "spotify/Pipeline",
          s.id, j.startMs * 1000000L, j.endMs * 1000000L, s.op))
    }

    // catalyst, and the actions that parsed the raw document
    val pr = plans.recs.filter(r => within(r.endMs, windows)).toList
    val parsing = pr.filter(r => r.rawScans > 0 && inPipeline(r.endMs))
    m("transform.s") = parsing.map(_.durationMs).sum / 1000.0 * perRun
    m("transform.raw_scans") = parsing.map(_.rawScans).sum * perRun
    m("transform.parse_tasks") = parsing.map(_.rawScanPartitions).sum * perRun
    m("plans.analysis_s") = pr.map(_.analysisMs).sum / 1000.0 / nPass
    m("plans.optimization_s") = pr.map(_.optimizationMs).sum / 1000.0 / nPass
    m("plans.planning_s") = pr.map(_.planningMs).sum / 1000.0 / nPass
    m("plans.executions") = pr.size / nPass

    // scheduler and executors
    val wallS = windows.map { case (a, b) => (b - a) / 1000.0 }.sum
    val taskS = tasks.map(_.runMs).sum / 1000.0
    m("engine.jobs") = jobs.size / nPass
    m("engine.stages") = stages.size / nPass
    m("engine.tasks") = tasks.size / nPass
    m("engine.task_s") = taskS / nPass
    m("engine.cpu_s") = tasks.map(_.cpuNs).sum / 1e9 / nPass
    m("engine.gc_s") = tasks.map(_.gcMs).sum / 1000.0 / nPass
    m("engine.input_mb") = tasks.map(_.inBytes).sum / 1e6 / nPass
    m("engine.shuffle_write_mb") = tasks.map(_.shufWriteBytes).sum / 1e6 / nPass
    m("engine.shuffle_read_mb") = tasks.map(_.shufReadBytes).sum / 1e6 / nPass
    m("engine.spill_mb") = tasks.map(_.spillBytes).sum / 1e6 / nPass
    m("engine.failed_tasks") = tasks.count(_.failed) / nPass
    m("engine.driver_gap_s") = (wallS - covered(tasks.map(t => t.launchMs -> t.finishMs))) / nPass
    m("engine.empty_task_ratio") =
      if (tasks.isEmpty) 0.0 else tasks.count(t => t.inRecords + t.shufReadRecords == 0).toDouble / tasks.size
    m("engine.core_util") = if (wallS > 0) taskS / (wallS * cores) else 0.0

    // streaming micro-batches
    val tb = batches.filter(b => within(b.startMs, windows))
    def dur(k: String) = tb.map(_.durations.getOrElse(k, 0L)).sum / 1000.0 / nPass
    m("streaming.get_batch_s") = dur("getBatch") + dur("latestOffset")
    m("streaming.add_batch_s") = dur("addBatch")
    m("streaming.planning_s") = dur("queryPlanning")
    m("streaming.commit_s") = dur("commitOffsets") + dur("walCommit")
    m("streaming.state_rows") = if (tb.isEmpty) 0.0 else tb.map(_.stateRows).max.toDouble
    m("streaming.state_mb") = if (tb.isEmpty) 0.0 else tb.map(_.stateBytes).max / 1e6
    m("streaming.late_rows") = tb.map(_.lateRows).sum / nPass

    m("cache.peak_mb") = rec.counters.getOrElse("cache.peak_mb", 0.0)
    m("heap.peak_live_mb") = peakLiveMb
    val plain = median(passS.filterNot(_._1).map(_._2))
    val traced = median(passS.filter(_._1).map(_._2))
    m("trace.overhead_s") = traced - plain
    m("trace.overhead_share") = (traced - plain) / plain

    // scheduler jobs as children of the innermost harness span holding them
    val harness = spans.spans.toList
    jobs.foreach { j =>
      val s0 = j.startMs * 1000000L
      val holder = harness.filter(s => s.startNs <= s0 && s0 <= s.endNs && !s.layer.startsWith("spotify/"))
      if (holder.nonEmpty && !inPipeline(j.startMs)) {
        val h = holder.minBy(s => s.endNs - s.startNs)
        spans.add(s"job ${j.jobId}", "engine", h.id, s0, j.endMs * 1000000L, h.op)
      }
    }
    new Layers(m.toSeq, spans.selfSeconds)
  }

  /** Seconds during which at least one task ran. */
  private def covered(intervals: Seq[(Long, Long)]): Double = {
    val sorted = intervals.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    sorted.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total / 1000.0
  }
}
