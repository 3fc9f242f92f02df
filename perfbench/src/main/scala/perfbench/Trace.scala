package perfbench

import perfbench.Harness._

/** Per-layer figures of a traced run, read off its spans and the listener's
  * per-span accumulators. Layer figures are per traced warm pass (summed
  * over the traced warm passes, divided by their number), except
  * `stages.*` (the cold pass's explicit stage builds), `tables.*` (the
  * median call of the probe) and `jvm.*` (the whole measured window).
  *
  * The reconciliation checks that the trace accounts for the run:
  *  - every Spark job carries a span or a named bucket (`unattributed_jobs`);
  *  - the listener's count of the jobs submitted inside each traced pass
  *    (by job id, between the barrier jobs that bracket the pass) equals
  *    the jobs booked to its `operators` and `exec` spans, plus the cold
  *    pass's `stages.<stage>` builds;
  *  - within each traced pass the self times of its spans add up to the
  *    pass's wall time. */
object Trace {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
    }

  def summary(o: Opts, tracer: Tracer, rec: Recorder, passes: Seq[Pass],
    probe: Seq[(String, Int)], stagesCachedMb: Double, gcMs: Long,
    heapMb: Double): String = rec.synchronized {
    val spans = tracer.spans.toIndexedSeq
    val children = spans.groupBy(_.parent)
    def kids(id: Int) = children.getOrElse(id, Nil)
    def subtree(id: Int): Seq[Span] = kids(id).flatMap(c => c +: subtree(c.id))
    /** Duration minus the part of it that child spans cover. */
    def selfMs(s: Span): Double = {
      val iv = kids(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.end - s.start - covered) / 1e6
    }
    def acc(s: Span) = rec.acc.getOrElse(s.id.toString, new Acc)

    val warm = passes.filter(p => p.traced && !p.cold)
    val nW = math.max(1, warm.size).toDouble
    val warmSpans = warm.flatMap(p => subtree(p.span))
    val ops = warmSpans.filter(_.name == "operators")
    val exe = warmSpans.filter(_.name == "exec")
    val qs = warmSpans.filter(_.name.startsWith("query."))
    def sum(ss: Seq[Span])(f: Acc => Long): Double = ss.map(s => f(acc(s)).toDouble).sum / nW
    val execMs = exe.map(_.ms).sum / nW
    val execRun = sum(exe)(_.runMs)

    // streaming: micro-batches that started inside a traced warm pass,
    // matched to the operators span they ran in (streams run to completion
    // inside the query builder)
    val batches = rec.batches.toSeq
    val off = System.currentTimeMillis() - System.nanoTime() / 1000000L
    def in(b: Batch, s: Span): Boolean = {
      val a = s.start / 1000000L + off; val z = s.end / 1000000L + off
      b.startMs >= a - 1 && b.startMs <= z + 1
    }
    val warmBatches = batches.filter(b => warm.exists(p => b.startMs >= p.startMs && b.startMs <= p.endMs))
    def dsum(k: String) = warmBatches.map(_.durations.getOrElse(k, 0L).toDouble).sum / nW
    val streamOps = ops.filter(s => warmBatches.exists(b => in(b, s)))
    val overhead = streamOps.map(s => s.ms - warmBatches.filter(b => in(b, s)).map(_.batchMs).sum).sum / nW
    val batchMs = warmBatches.map(_.batchMs.toDouble)

    val cold = passes.find(p => p.cold && p.traced)
    val stageSpans = cold.toSeq.flatMap(p => kids(p.span)).filter(_.name.startsWith("stages."))
    def probeMed(kind: String)(f: Span => Double) =
      median(probe.filter(_._1 == kind).map { case (_, id) => f(spans(id)) })

    val untracedWarm = passes.filter(p => !p.traced && !p.cold).map(_.wallS)
    val tracedWarm = warm.map(_.wallS)
    val traceOverhead =
      if (untracedWarm.isEmpty || tracedWarm.isEmpty) 0.0
      else median(tracedWarm) / median(untracedWarm) - 1.0

    val layers = Seq(
      "tables.register_ms" -> probeMed("register")(_.ms),
      "tables.register_jobs" -> probeMed("register")(s => acc(s).jobs.toDouble),
      "tables.read_ms" -> probeMed("read")(_.ms),
      "tables.read_jobs" -> probeMed("read")(s => acc(s).jobs.toDouble),
      "operators.ms" -> ops.map(_.ms).sum / nW,
      "operators.jobs" -> sum(ops)(_.jobs),
      "operators.tasks" -> sum(ops)(_.tasks),
      "operators.task_cpu_ms" -> sum(ops)(_.cpuNs) / 1e6,
      "plans.analysis_ms" -> sum(qs)(_.analysisMs),
      "plans.optimization_ms" -> sum(qs)(_.optimizationMs),
      "plans.planning_ms" -> sum(qs)(_.planningMs),
      "plans.executions" -> sum(qs)(_.executions),
      "exec.ms" -> execMs,
      "exec.jobs" -> sum(exe)(_.jobs),
      "exec.stages" -> sum(exe)(_.stages),
      "exec.tasks" -> sum(exe)(_.tasks),
      "exec.task_run_ms" -> execRun,
      "exec.task_cpu_ms" -> sum(exe)(_.cpuNs) / 1e6,
      "exec.task_gc_ms" -> sum(exe)(_.gcMs),
      "exec.task_wait_ms" -> sum(exe)(_.waitMs),
      "exec.core_util" -> (if (execMs > 0) execRun / (execMs * o.cores) else 0.0),
      "exec.input_rows" -> sum(exe)(_.inputRows),
      "exec.shuffle_write_bytes" -> sum(exe)(_.shWrite),
      "exec.shuffle_read_bytes" -> sum(exe)(_.shRead),
      "exec.spill_bytes" -> sum(exe)(_.spill),
      "exec.peak_task_mem_bytes" -> exe.map(s => acc(s).peakMem.toDouble).maxOption.getOrElse(0.0),
      "exec.failed_tasks" -> sum(exe)(_.failedTasks),
      "stages.build_ms" -> stageSpans.map(_.ms).sum,
      "stages.built" -> stageSpans.size.toDouble,
      "stages.cached_mb" -> stagesCachedMb,
      "streaming.batches" -> warmBatches.size / nW,
      "streaming.batch_ms" -> batchMs.sum / nW,
      "streaming.batch_p50_ms" -> pct(batchMs, 0.5),
      "streaming.batch_p90_ms" -> pct(batchMs, 0.9),
      "streaming.add_batch_ms" -> dsum("addBatch"),
      "streaming.query_planning_ms" -> dsum("queryPlanning"),
      "streaming.wal_commit_ms" -> dsum("walCommit"),
      "streaming.commit_offsets_ms" -> dsum("commitOffsets"),
      "streaming.latest_offset_ms" -> dsum("latestOffset"),
      "streaming.input_rows" -> warmBatches.map(_.inputRows.toDouble).sum / nW,
      "streaming.state_rows" -> warmBatches.map(_.stateRows.toDouble).sum / nW,
      "streaming.state_mem_bytes" -> warmBatches.map(_.stateMem.toDouble).sum / nW,
      "streaming.state_commit_ms" -> warmBatches.map(_.stateCommitMs.toDouble).sum / nW,
      "streaming.overhead_ms" -> overhead,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_used_mb" -> heapMb,
      "trace.overhead" -> traceOverhead,
      "trace.unattributed_jobs" -> rec.unattributed.toDouble,
    ) ++ o.stageNames.map(st => s"stages.$st.build_ms" ->
      stageSpans.find(_.name == s"stages.$st").map(_.ms).getOrElse(0.0))

    // reconciliation
    val tracedPasses = passes.filter(_.traced)
    def listenerJobs(ps: Seq[Pass]): Long = ps.map { p =>
      val lo = rec.markers(s"marker:pass.${p.index}")
      val hi = rec.markers(s"marker:pass.${p.index}.end")
      rec.jobs.count { case (id, marker) => !marker && id > lo && id < hi }.toLong
    }.sum
    def spanJobs(ps: Seq[Pass])(keep: Span => Boolean): Long =
      ps.flatMap(p => subtree(p.span)).filter(keep).map(acc(_).jobs).sum
    def isOpExec(s: Span) = s.name == "operators" || s.name == "exec"
    val coldPass = tracedPasses.filter(_.cold)
    val selfErr = tracedPasses.map { p =>
      val root = spans(p.span)
      math.abs((root +: subtree(p.span)).map(selfMs).sum - root.ms)
    }
    val harnessShare = tracedPasses.map(p => selfMs(spans(p.span)) / spans(p.span).ms)
    val checks = Seq(
      "unattributed_jobs" -> rec.unattributed.toString,
      "warm_listener_jobs" -> listenerJobs(warm).toString,
      "warm_operators_plus_exec_jobs" -> spanJobs(warm)(isOpExec).toString,
      "cold_listener_jobs" -> listenerJobs(coldPass).toString,
      "cold_operators_plus_exec_jobs" -> spanJobs(coldPass)(isOpExec).toString,
      "cold_stage_build_jobs" -> spanJobs(coldPass)(_.name.startsWith("stages.")).toString,
      "self_time_max_error_ms" -> Json.num(selfErr.maxOption.getOrElse(0.0)),
      "harness_share_max" -> Json.num(harnessShare.maxOption.getOrElse(0.0)),
      "traced_warm_passes" -> warm.size.toString,
      "untraced_warm_passes" -> untracedWarm.size.toString,
    )
    Json.obj(Seq(
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.obj(checks)))
  }
}
