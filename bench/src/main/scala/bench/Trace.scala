package bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. `kind` is "pass" (one timed pass), "phase" (an online
  * phase such as the serve loop or the HW3 stream), "call" (one public
  * library call) or "check" (the benchmark's own output check). */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      start: Long, end: Long, traced: Boolean) {
  def wall: Long = end - start
}

/** Span recorder. Calls are sequential, so a stack gives each span its
  * parent. Spans stay in memory and are written once at the end. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  var traced = false

  def apply[T](name: String, kind: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val s = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      all += Span(id, name, kind, parent, s, System.currentTimeMillis(), traced)
    }
  }
  def call[T](name: String)(body: => T): T = apply(name, "call")(body)
  def check[T](name: String)(body: => T): T = apply(name, "check")(body)
}

final class JobRec(val id: Int, val start: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageAgg {
  var tasks = 0L
  var runMs, cpuNs, gcMs, shufW, shufR, spill, input, output = 0L
  val runs = ArrayBuffer.empty[Long]
}

/** Job, stage and task events, attributed later by timestamp. */
final class SparkEvents extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      a.runs += m.executorRunTime
    }
  }
}

/** Catalyst phases (analysis / optimization / planning) of every executed
  * query, with their absolute start and end times. */
final class PlanEvents extends QueryExecutionListener {
  val phases = mutable.LinkedHashSet.empty[(String, Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Micro-batch progress reports of every streaming query. */
final class StreamEvents extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamEvents {
  def start(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def end(p: StreamingQueryProgress): Long = start(p) + dur(p, "triggerExecution")
}

/** JVM counters for one region. */
final class RuntimeProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var cpu0, gc0, jit0 = 0L

  def begin(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    cpu0 = os.getProcessCpuTime
    gc0 = gcs.map(_.getCollectionTime).sum
    jit0 = jit.getTotalCompilationTime
  }
  /** (cpu_s, gc_ms, jit_ms, heap_peak_mb) since [[begin]]. */
  def end(): (Double, Double, Double, Double) = (
    (os.getProcessCpuTime - cpu0) / 1e9,
    (gcs.map(_.getCollectionTime).sum - gc0).toDouble,
    (jit.getTotalCompilationTime - jit0).toDouble,
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

/** Listener lifecycle for traced regions: attached before, detached after
  * the listener bus has drained, so untraced regions pay nothing. */
final class Tracer(spark: SparkSession) {
  val jobs = new SparkEvents
  val plans = new PlanEvents
  private var on = false

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    on = true
  }
  def detach(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    on = false
  }
  def drain(): Unit = org.apache.spark.GraftSparkHooks.drainListenerBus(spark.sparkContext)
}

/** Attribution of jobs, stages and planning phases to call spans, and the
  * per-layer numbers derived from it. */
object Attribution {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot = 0L
    var cur: (Long, Long) = null
    c.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { tot += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) tot += cur._2 - cur._1
    tot
  }

  /** One call's layer split. `planMs` is planning time outside any job
    * interval; planning that overlaps a job (a `Par` sibling planning while
    * another runs) is `planHiddenMs`, since the wall cannot hold it twice.
    * `idleMs` is the wall covered by neither a job nor planning. */
  final case class CallStat(span: Span, jobs: Seq[JobRec], jobUnion: Long,
                            planMs: Long, planHiddenMs: Long, idleMs: Long,
                            orphans: Int) {
    /** planning + job union + idle must account for the wall within
      * max(25 ms, 10 %). The sum uses the attributed intervals unclipped,
      * so work that leaks outside the call (a job still running after it
      * returned, or events stamped outside it) breaks the identity. */
    def layerSumOk: Boolean =
      math.abs(planMs + jobUnion + idleMs - span.wall) <=
        math.max(Attribution.TolMs, Attribution.TolShare * span.wall)
  }
  val TolMs = 25L
  val TolShare = 0.10

  /** Spans that own jobs: calls, checks and prep work. */
  def owners(spans: Seq[Span]): Seq[Span] =
    spans.filter(s => s.kind == "call" || s.kind == "check" || s.kind == "prep")

  /** The owner spans of an event at `t`: of the spans containing `t`, the
    * ones that started last, minus any that is an ancestor of another
    * (a call nested in a span that started in the same millisecond). A
    * job owned by anything but exactly one span is unattributed. */
  def ownerOf(t: Long, owners: Seq[Span]): Seq[Span] = {
    val hits = owners.filter(s => s.start <= t && t <= s.end)
    if (hits.isEmpty) hits
    else {
      val inner = hits.map(_.start).max
      val tied = hits.filter(_.start == inner)
      val byId = owners.map(s => s.id -> s).toMap
      def ancestors(s: Span): Iterator[Int] =
        Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1)).takeWhile(_ >= 0)
      val outer = tied.flatMap(ancestors).toSet
      tied.filterNot(s => outer(s.id))
    }
  }

  def callStats(calls: Seq[Span], allOwners: Seq[Span], jobs: Seq[JobRec],
                phases: Seq[(String, Long, Long)]): Seq[CallStat] = {
    val owned = jobs.groupBy(j => ownerOf(j.start, allOwners).map(_.id))
      .collect { case (Seq(id), js) => id -> js }
    calls.map { c =>
      val js = owned.getOrElse(c.id, Nil)
      val jiv = js.map(j => (j.start, if (j.end < 0) c.end else j.end))
      val ps = phases.filter { case (_, a, _) => c.start <= a && a <= c.end }
      val piv = ps.map { case (_, a, b) => (a, b) }
      val all = (Long.MinValue, Long.MaxValue)
      val ju = unionLen(jiv, all._1, all._2)
      val planOut = unionLen(jiv ++ piv, all._1, all._2) - ju
      val idle = c.wall - unionLen(jiv ++ piv, c.start, c.end)
      CallStat(c, js, ju, planOut, ps.map { case (_, a, b) => b - a }.sum - planOut,
        idle, js.count(j => j.end < 0 || j.end > c.end))
    }
  }
}
