package bench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer numbers of a traced run, named after the repo's modules.
  *
  * Scope: `plans`, `driver`, `operators`, `sources` (writes) and `runtime`
  * are per traced pass (means over the traced passes); `streaming` covers
  * every traced region (passes and the online phase); `sources.serve_*`
  * covers the traced online phase, per request. */
object Layers {
  def compute(ctx: Ctx, rt: Seq[(Double, Double, Double, Double)],
              traceOverhead: Double): mutable.LinkedHashMap[String, Double] = {
    val spans = ctx.spans.all.toSeq.filter(_.traced)
    val passes = spans.filter(_.kind == "pass")
    val phases = spans.filter(_.kind == "phase")
    val nP = math.max(1, passes.size).toDouble
    def within(ws: Seq[Span])(t: Long) = ws.exists(w => w.start <= t && t <= w.end)
    val owners = Attribution.owners(spans)
    val jobs = ctx.tracer.jobs.synchronized(ctx.tracer.jobs.jobs.toList)
    val plans = ctx.tracer.plans.synchronized(ctx.tracer.plans.phases.toList)
    val stageAgg = ctx.tracer.jobs.synchronized(ctx.tracer.jobs.stages.toMap)

    val passCalls = spans.filter(s => s.kind == "call" && within(passes)(s.start))
    val onlineCalls = spans.filter(s => s.kind == "call" && within(phases)(s.start))
    val stats = Attribution.callStats(passCalls, owners, jobs, plans)
    val onlineStats = Attribution.callStats(onlineCalls, owners, jobs, plans)
    val allStats = Attribution.callStats(owners, owners, jobs, plans)

    // a stage's tasks belong to the first job that lists the stage
    val stageOwner = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))
    def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = {
      val ids = js.map(_.id).toSet
      stageAgg.collect { case (sid, a) if stageOwner.get(sid).exists(ids) => a }.toSeq
    }
    val passJobs = stats.flatMap(_.jobs)
    val st = stagesOf(passJobs)
    val servedSt = stagesOf(onlineStats.flatMap(_.jobs))
    val jobUnion = stats.map(_.jobUnion).sum.toDouble
    val jobWall = stats.flatMap(s => s.jobs.map(j => math.max(0L,
      (if (j.end < 0) s.span.end else j.end) - j.start))).sum.toDouble
    def phaseMs(name: String) =
      plans.filter { case (n, a, _) => n == name && within(passes)(a) }
        .map { case (_, a, b) => b - a }.sum / nP
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val skew = st.filter(a => a.runs.size >= 2).map { a =>
      val m = med(a.runs.map(_.toDouble).toSeq)
      if (m > 0) a.runs.max / m else 0.0
    }.foldLeft(0.0)(math.max)
    def cat(prefix: String) =
      passCalls.filter(_.name.startsWith(prefix + ":")).map(_.wall).sum / 1000.0 / nP

    val traced = (passes ++ phases)
    val prog: Seq[StreamingQueryProgress] = ctx.streams.synchronized(ctx.streams.progress.toList)
      .filter(p => within(traced)(StreamEvents.start(p)))
    def pmed(k: String) = med(prog.map(p => StreamEvents.dur(p, k).toDouble))
    def stateSum(p: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    val requests = math.max(1, onlineCalls.size).toDouble
    val mb = 1048576.0

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("plans.analysis_ms") = phaseMs("analysis")
    m("plans.optimize_ms") = phaseMs("optimization")
    m("plans.physical_ms") = phaseMs("planning")
    m("driver.jobs") = passJobs.size / nP
    m("driver.stages") = st.size / nP
    m("driver.tasks") = st.map(_.tasks).sum / nP
    m("driver.ms_per_job") = if (passJobs.isEmpty) 0.0 else passCalls.map(_.wall).sum.toDouble / passJobs.size
    m("driver.idle_s") = stats.map(_.idleMs).sum / 1000.0 / nP
    m("driver.job_overlap") = if (jobUnion > 0) jobWall / jobUnion else 0.0
    m("driver.orphan_jobs") = allStats.map(_.orphans).sum.toDouble
    m("operators.task_cpu_s") = st.map(_.cpuNs).sum / 1e9 / nP
    m("operators.task_run_s") = st.map(_.runMs).sum / 1000.0 / nP
    m("operators.slot_util") =
      if (jobUnion > 0) st.map(_.runMs).sum / (jobUnion * ctx.threads) else 0.0
    m("operators.task_gc_ms") = st.map(_.gcMs).sum / nP
    m("operators.shuffle_write_mb") = st.map(_.shufW).sum / mb / nP
    m("operators.shuffle_read_mb") = st.map(_.shufR).sum / mb / nP
    m("operators.spill_mb") = st.map(_.spill).sum / mb / nP
    m("operators.input_mb") = st.map(_.input).sum / mb / nP
    m("operators.stage_skew") = skew
    m("streaming.batches") = prog.size.toDouble
    m("streaming.rows_per_batch") =
      if (prog.isEmpty) 0.0 else prog.map(_.numInputRows).sum.toDouble / prog.size
    m("streaming.trigger_ms") = pmed("triggerExecution")
    m("streaming.add_batch_ms") = pmed("addBatch")
    m("streaming.wal_commit_ms") = pmed("walCommit")
    m("streaming.commit_offsets_ms") = pmed("commitOffsets")
    m("streaming.latest_offset_ms") = pmed("latestOffset")
    m("streaming.query_planning_ms") = pmed("queryPlanning")
    m("streaming.state_commit_ms") = med(prog.map(p => stateSum(p)(_.commitTimeMs.toDouble)))
    m("streaming.state_rows") = prog.map(p => stateSum(p)(_.numRowsTotal.toDouble)).foldLeft(0.0)(math.max)
    m("streaming.state_mem_mb") = prog.map(p => stateSum(p)(_.memoryUsedBytes.toDouble)).foldLeft(0.0)(math.max) / mb
    m("streaming.backlog_max") = 0.0
    m("streaming.gen_late_ms") = 0.0
    m("streaming.sustained_items_per_s") = 0.0
    m("sources.persist_s") = cat("persist")
    m("sources.upsert_s") = cat("upsert")
    m("sources.compact_s") = cat("compact")
    m("sources.maintain_s") = cat("maintain")
    m("sources.bytes_written_mb") = st.map(_.output).sum / mb / nP
    m("sources.artifact_files") = 0.0
    m("sources.serve_input_mb") = servedSt.map(_.input).sum / mb / requests
    def rtMean(f: ((Double, Double, Double, Double)) => Double) =
      if (rt.isEmpty) 0.0 else rt.map(f).sum / rt.size
    m("runtime.cpu_s") = rtMean(_._1)
    m("runtime.gc_ms") = rtMean(_._2)
    m("runtime.jit_ms") = rtMean(_._3)
    m("runtime.heap_peak_mb") = rt.map(_._4).foldLeft(0.0)(math.max)
    m("runtime.trace_overhead") = traceOverhead
    // trace integrity: jobs in traced regions not owned by exactly one
    // span, and calls whose planning + job union + idle do not account for
    // their wall
    m("trace.unattributed_jobs") = jobs.count(j =>
      within(traced)(j.start) && Attribution.ownerOf(j.start, owners).size != 1).toDouble
    m("trace.layer_sum_violations") = allStats.count(!_.layerSumOk).toDouble
    ctx.extra("layer_sum_violations") = allStats.filterNot(_.layerSumOk).map(s =>
      Map("call" -> s.span.name, "wall_ms" -> s.span.wall, "plan_ms" -> s.planMs,
        "plan_hidden_ms" -> s.planHiddenMs, "job_union_ms" -> s.jobUnion,
        "idle_ms" -> s.idleMs)).toList
    m
  }
}
