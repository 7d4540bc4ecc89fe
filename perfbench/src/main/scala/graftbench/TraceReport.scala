package graftbench

import scala.collection.mutable

import graftbench.Harness.{Op, Pass}

/** Per-layer metrics, spans, self times and the job census of a traced
  * run's traced passes. Layer metrics are per traced pass (totals divided
  * by the number of traced passes); `streaming.*_ms` are per micro-batch.
  */
final case class TraceReport(layers: Map[String, Double], spans: Seq[Map[String, Any]],
                             census: Map[String, Seq[Map[String, Long]]],
                             selfSeconds: Map[String, Double])

object TraceReport {

  def apply(passes: Seq[Pass], tracer: Tracer, byEntry: Boolean): TraceReport = {
    val n = passes.size.max(1).toDouble
    val ops = passes.flatMap(_.ops)
    val cs = ops.map(o => o -> tracer.counters(o.id))
    def perPass(f: OpCounters => Long): Double = cs.map(x => f(x._2)).sum / n
    def perBatch(f: OpCounters => Long): Double =
      cs.map(x => f(x._2)).sum.toDouble / cs.map(_._2.batches).sum.max(1L)
    val cpus = Runtime.getRuntime.availableProcessors
    val wallS = passes.map(p => p.endMs - p.startMs).sum / 1e3 / n
    val runS = perPass(_.runMs) / 1e3
    val gapS = cs.map { case (o, c) => (o.endMs - o.startMs) - covered(o, c, _ => true) }.sum / 1e3 / n
    val last = cs.lastOption.map(_._2)

    val layers = mutable.LinkedHashMap[String, Double](
      "operators.build_s" -> ops.map(o => o.buildEndMs - o.startMs).sum / 1e3 / n,
      "operators.build_jobs" -> perPass(_.buildJobs),
      "catalyst.analysis_s" -> perPass(_.analysisMs) / 1e3,
      "catalyst.optimizer_s" -> perPass(_.optimizerMs) / 1e3,
      "catalyst.planning_s" -> perPass(_.planningMs) / 1e3,
      "catalyst.queries" -> perPass(_.queries),
      "scheduler.jobs" -> perPass(_.jobs),
      "scheduler.stages" -> perPass(_.stages),
      "scheduler.skipped_stages" -> perPass(_.skippedStages),
      "scheduler.tasks" -> perPass(_.tasks),
      "scheduler.driver_gap_s" -> gapS,
      "scheduler.sched_delay_s" -> perPass(_.schedDelayMs) / 1e3,
      "executor.run_s" -> runS,
      "executor.cpu_s" -> perPass(_.cpuNs) / 1e9,
      "executor.gc_s" -> perPass(_.gcMs) / 1e3,
      "executor.busy_frac" -> (if (wallS > 0) runS / (wallS * cpus) else 0.0),
      "executor.task_success_frac" ->
        (if (perPass(_.tasks) > 0) perPass(_.tasksOk) / perPass(_.tasks) else 1.0),
      "executor.peak_task_mem_bytes" -> cs.map(_._2.peakTaskMemBytes).maxOption.getOrElse(0L).toDouble,
      "exchange.shuffle_write_bytes" -> perPass(_.shuffleWriteBytes),
      "exchange.shuffle_read_bytes" -> perPass(_.shuffleReadBytes),
      "exchange.shuffle_records" -> perPass(_.shuffleRecords),
      "exchange.fetch_wait_s" -> perPass(_.fetchWaitMs) / 1e3,
      "exchange.spill_bytes" -> perPass(_.spillBytes),
      "sources.input_bytes" -> perPass(_.inputBytes),
      "sources.input_rows" -> perPass(_.inputRows),
      "sources.output_bytes" -> perPass(_.outputBytes),
      "sources.output_rows" -> perPass(_.outputRows),
      "sources.files_written" -> perPass(_.filesWritten),
      "streaming.add_batch_ms" -> perBatch(_.addBatchMs),
      "streaming.query_planning_ms" -> perBatch(_.queryPlanningMs),
      "streaming.wal_commit_ms" -> perBatch(_.walCommitMs),
      "streaming.commit_offsets_ms" -> perBatch(_.commitOffsetsMs),
      "streaming.latest_offset_ms" -> perBatch(_.latestOffsetMs),
      "streaming.state_rows" -> last.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mem_bytes" -> last.map(_.stateMemBytes.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> perBatch(_.stateCommitMs))

    // Self time per layer: the part of a span its children do not cover.
    val buildS = cs.map { case (o, c) =>
      (o.buildEndMs - o.startMs) - covered(o, c, _ == "build") }.sum / 1e3 / n
    val planS = perPass(_.runPlanMs) / 1e3
    val jobS = cs.map { case (o, c) => covered(o, c, _ => true) }.sum / 1e3 / n
    val selfSeconds = Map(
      "operators" -> buildS,
      "catalyst" -> planS,
      "scheduler" -> math.max(0.0, gapS - buildS - planS),
      "executor" -> jobS)

    val census =
      if (!byEntry) Map.empty[String, Seq[Map[String, Long]]]
      else cs.groupBy(_._1.name).map { case (name, xs) =>
        name -> xs.map { case (_, c) =>
          Map("jobs" -> c.jobs, "stages" -> c.stages, "skipped_stages" -> c.skippedStages)
        }
      }

    TraceReport(layers.toMap, spans(passes, tracer, byEntry), census, selfSeconds)
  }

  /** Milliseconds of the operation's interval during which at least one of
    * its jobs (of a phase `phase` accepts) was running.
    */
  private def covered(o: Op, c: OpCounters, phase: String => Boolean): Double = {
    val lo = Harness.epochMs(o.startMs).toDouble
    val hi = Harness.epochMs(o.endMs).toDouble + 1
    val iv = c.jobSpans.collect { case (s, e, p, _) if phase(p) =>
      (math.max(lo, s.toDouble), math.min(hi, e.toDouble)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total, end = 0.0
    var start = Double.NaN
    iv.foreach { case (s, e) =>
      if (start.isNaN || s > end) {
        if (!start.isNaN) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (!start.isNaN) total += end - start
    total
  }

  /** workload -> pass -> entry -> {build, plan, execute} -> job, or
    * workload -> pass -> micro-batch -> its `durationMs` parts and jobs.
    * Times are milliseconds since the JVM started.
    */
  private def spans(passes: Seq[Pass], tracer: Tracer, byEntry: Boolean): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    def span(name: String, parent: Int, start: Double, end: Double,
             attrs: Map[String, Any] = Map.empty): Int = {
      out += Map("id" -> out.size, "parent" -> parent, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ attrs
      out.size - 1
    }
    def rel(epoch: Long): Double = epoch - Harness.epochMs(0)
    if (passes.isEmpty) return Seq.empty
    val root = span("workload", -1, passes.head.startMs, passes.last.endMs)
    passes.foreach { p =>
      val ps = span("pass", root, p.startMs, p.endMs, Map("index" -> p.index))
      p.ops.foreach { o =>
        val c = tracer.counters(o.id)
        val counts = Map("jobs" -> c.jobs, "stages" -> c.stages,
          "skipped_stages" -> c.skippedStages, "tasks" -> c.tasks, "ok" -> o.ok)
        val es = span(if (byEntry) "entry" else "micro_batch", ps, o.startMs, o.endMs,
          counts + ("op" -> o.name))
        val parentOf: String => Int =
          if (byEntry) {
            val b = span("build", es, o.startMs, o.buildEndMs, Map("jobs" -> c.buildJobs))
            val planEnd = math.min(o.endMs, o.buildEndMs + c.runPlanMs)
            span("plan", es, o.buildEndMs, planEnd)
            val x = span("execute", es, planEnd, o.endMs)
            phase => if (phase == "build") b else x
          } else {
            var t = o.startMs
            c.progress.foreach(_.foreach { case (part, ms) =>
              span(part, es, t, t + ms); t += ms })
            _ => es
          }
        c.jobSpans.foreach { case (s, e, phase, id) =>
          span("job", parentOf(phase), rel(s), rel(e), Map("job_id" -> id))
        }
      }
    }
    out.toSeq
  }
}
