package graftbench

/** Turns one traced pass into per-layer numbers and spans. The layers
  * are the engine's modules as a user of Spark's hooks can see them:
  * scheduler, executors, shuffle, Catalyst planning, table scans and
  * writes, the operator function boundary, eager cuts, connected
  * components, persisted state and streaming. */
object Layers {

  private val mb = 1024.0 * 1024.0

  def metrics(done: Seq[Main.Done], t: Tracer, cpus: Int,
              stateDirs: Seq[String]): Map[String, Double] = {
    val windows = done.map(d => (d.startMs, d.endMs))
    def inPass(ms: Long) = windows.exists { case (a, b) => a <= ms && ms <= b }
    val jobs = t.jobList.filter(j => inPass(j.startMs))
    val stages = t.stageList.filter(s => inPass(s.startMs))
    def stageSum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    def jobsOf(layer: String) = jobs.filter(_.layer == layer)
    val wallMs = done.map(d => d.endMs - d.startMs).sum
    val busyMs = Tracer.busyUnionMs(t.taskList, windows)
    val runS = stageSum("run_ms") / 1e3
    def phaseS(kinds: Set[String], opKinds: String => Boolean) =
      done.filter(d => opKinds(d.kind)).flatMap(_.phases)
        .collect { case (k, a, b) if kinds(k) => (b - a) / 1e3 }.sum
    def kindS(k: String) = done.filter(_.kind == k).map(_.secs).sum
    val isState = Set("build", "append", "delete")
    val stateOps = done.filter(d => isState(d.kind))
    val stateWindows = stateOps.flatMap(_.phases).collect { case ("publish", a, b) => (a, b) }
    val stateOut = stages.filter(s => stateWindows.exists { case (a, b) => a <= s.startMs && s.startMs <= b })
      .map(_.attrs.getOrElse("output_b", 0.0)).sum
    val (stateBytes, stateFiles) = stateDirs.map(d => Files.usage(new java.io.File(d)))
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

    // micro-batch phases from StreamingQueryProgress
    val prog = t.progressList.map(_.progress)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val trig = prog.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    val lastPerRun = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val stateRows = lastPerRun.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble
    val stateCommit = prog.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3
    val stateMem = if (prog.isEmpty) 0.0 else prog.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / mb

    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> stageSum("tasks"),
      "driver.gap_s" -> (wallMs - busyMs) / 1e3,
      "aqe.stage_jobs" -> jobsOf("aqe").size.toDouble,
      "exec.busy_s" -> busyMs / 1e3,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> stageSum("cpu_ns") / 1e9,
      "exec.gc_s" -> stageSum("gc_ms") / 1e3,
      "exec.core_util" -> (if (wallMs > 0) runS / (wallMs / 1e3 * cpus) else 0.0),
      "shuffle.read_mb" -> stageSum("shuffle_read_b") / mb,
      "shuffle.write_mb" -> stageSum("shuffle_write_b") / mb,
      "spill.mb" -> stageSum("spill_b") / mb,
      "plan.s" -> t.planList.sum,
      "plan.queries" -> t.planList.size.toDouble,
      "scan.input_mb" -> stageSum("input_b") / mb,
      "Tables.jobs" -> jobsOf("Tables").size.toDouble,
      "sources.write_s" -> phaseS(Set("publish"), _ == "load"),
      "write.output_mb" -> stageSum("output_b") / mb,
      "op.build_s" -> phaseS(Set("call", "operate"), _ => true),
      "op.action_s" -> phaseS(Set("action"), _ => true),
      "Checkpoints.cut_jobs" -> jobsOf("Checkpoints").size.toDouble,
      "Checkpoints.cut_s" -> jobsOf("Checkpoints").map(_.durMs).sum / 1e3,
      "Dedup.jobs" -> jobsOf("Dedup").size.toDouble,
      "Dedup.s" -> jobsOf("Dedup").map(_.durMs).sum / 1e3,
      "state.read_s" -> phaseS(Set("read"), isState),
      "state.publish_s" -> phaseS(Set("publish"), isState),
      "state.write_mb" -> stateOut / mb,
      "state.files" -> stateFiles.toDouble,
      "stream.batches" -> prog.size.toDouble,
      "stream.add_batch_s" -> dur("addBatch"),
      "stream.query_planning_s" -> dur("queryPlanning"),
      "stream.wal_commit_s" -> dur("walCommit"),
      "stream.commit_s" -> dur("commitOffsets"),
      "stream.get_batch_s" -> dur("getBatch"),
      "stream.state_rows" -> stateRows,
      "stream.state_commit_s" -> stateCommit,
      "stream.state_mem_mb" -> stateMem,
      "StreamOps.jobs" -> jobsOf("StreamOps").size.toDouble,
      "trace.wall_s" -> wallMs / 1e3,
      "load_s" -> kindS("load"),
      "build_s" -> kindS("build"),
      "append_s" -> kindS("append"),
      "delete_s" -> kindS("delete"),
      "query_s" -> kindS("query"),
      "state_mb" -> stateBytes / mb,
      "batch_p50_ms" -> Stats.median(trig),
      "batch_n" -> trig.size.toDouble)
  }

  /** Seconds per layer, for naming the top three. */
  def topLayers(m: Map[String, Double]): Seq[(String, Double)] = {
    def g(k: String) = m.getOrElse(k, 0.0)
    Seq(
      "scheduler (driver gap)" -> g("driver.gap_s"),
      "executors (task-busy)" -> g("exec.busy_s"),
      "Catalyst planning" -> g("plan.s"),
      "sources writes" -> g("sources.write_s"),
      "Checkpoints cuts" -> g("Checkpoints.cut_s"),
      "Dedup CC" -> g("Dedup.s"),
      "state read+publish" -> (g("state.read_s") + g("state.publish_s")),
      "streaming micro-batches" -> (g("stream.add_batch_s") + g("stream.query_planning_s") +
        g("stream.wal_commit_s") + g("stream.commit_s") + g("stream.get_batch_s")))
      .sortBy(-_._2).take(3)
  }

  /** run → op → phase → job → stage spans of one traced pass. */
  def spans(done: Seq[Main.Done], t: Tracer, pass: Int): Seq[Span] = {
    if (done.isEmpty) return Nil
    val run = Span(t.nextId(), "run", s"pass $pass", "run", done.head.startMs, done.last.endMs)
    // each op's own driver gap, so that families sharing a pass stay apart
    val ops = done.map(d => Span(t.nextId(), "op", d.name, d.kind, d.startMs, d.endMs,
      Map("gap_ms" -> (d.endMs - d.startMs - Tracer.busyUnionMs(t.taskList, Seq((d.startMs, d.endMs)))).toDouble)))
    val phases = done.flatMap(_.phases.map { case (k, a, b) => Span(t.nextId(), "phase", k, k, a, b) })
    def inRun(s: Span) = s.startMs >= run.startMs && s.startMs <= run.endMs
    run +: (ops ++ phases ++ t.jobList.filter(inRun) ++ t.stageList.filter(inRun))
  }
}
