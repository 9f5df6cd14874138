package bench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Already-encoded JSON, embedded as is. */
final case class RawJson(text: String)

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case RawJson(t) => t
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

/** Everything one workload run shares: the session, the run's scratch
  * roots, the span recorder and the output-check ledger. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String]) {
  val seed: Long = opts("seed").toLong
  val threads: Int = opts("threads").toInt
  val runDir: String = opts("run-dir")
  val dataDir: String = opts("data")
  val tiny: Boolean = opts.get("scale").contains("tiny")
  val perturb: Set[String] = opts.get("perturb").toSeq.flatMap(_.split(",")).toSet
  val spans = new Spans
  val tracer = new Tracer(spark)
  val streams = new StreamEvents
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failures = ArrayBuffer.empty[String]
  /** extra per-workload numbers for the result file */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): String = new java.io.File(runDir, name).getAbsolutePath

  private var passNs = 0L
  def beginPass(): Unit = passNs = 0L
  /** Summed wall of the timed calls since [[beginPass]]. */
  def passSeconds: Double = passNs / 1e9
  /** A timed public library call: a span, and wall added to the pass. */
  def call[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try spans.call(name)(body) finally passNs += System.nanoTime() - t
  }
  /** Untimed work inside a pass (re-publishing a base artifact). */
  def prep[T](name: String)(body: => T): T = spans(name, "prep")(body)

  /** Record one output check. `name` is stable, so the smoke test can
    * perturb exactly this check's observed value (see [[perturbed]]). */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    val r = try ok catch {
      case e: Throwable =>
        System.err.println(s"[bench] check $name threw: $e"); false
    }
    if (!r) synchronized {
      failures += name
      System.err.println(s"[bench] CHECK FAILED: $name")
    }
  }
  /** The smoke test's fault injection: a check named in --perturb sees a
    * deliberately wrong observed value. */
  def perturbed(name: String): Boolean = perturb.contains(name)
  def failed: Long = synchronized(failures.size.toLong)
}

/** One benchmark workload: set-up, one timed pass, and an online phase. */
trait Workload {
  def setup(ctx: Ctx): Unit
  /** One pass; returns its timed seconds (checks excluded). */
  def pass(ctx: Ctx): Double
  /** Warm the online phase during set-up. */
  def warmOnline(ctx: Ctx): Unit = ()
  /** The online phase; returns per-operation latencies in ms. */
  def online(ctx: Ctx): Seq[Double]
  /** Untraced runs: the online phase runs before the timed passes. */
  def onlineFirst: Boolean = false
  /** Traced-run-only extras (the HW3 rate ladder). */
  def tracedExtras(ctx: Ctx): Map[String, Double] = Map.empty
  /** Share of the run's seconds spent on passes before the online phase
    * (at least one pass runs). */
  def passShare: Double
  /** Timed passes an untraced run makes at least. */
  def minPasses: Int = 1
  /** Micro-batch latencies of the passes, if the workload reports them. */
  def passLatencies(ctx: Ctx): Seq[Double] = Nil
}

/** Entry point of one workload run in a fresh JVM.
  *
  *   java ... bench.Main --workload W --seed N --seconds S --trace 0|1
  *        --threads T --run-dir D --data D --out result.json
  *        [--scale tiny] [--perturb check1,check2]
  *
  * Set-up (inputs, artifacts, warm-up) ends at `ready_ms`; the timed or
  * traced phase follows in the same JVM. */
object Main {
  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def workload(name: String): Workload = name match {
    case "reference_hw" => new RefHw
    case "artifact_lifecycle" => new Lifecycle
    case "ingest_stream" => new Ingest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val w = workload(opts("workload"))
    val threads = opts("threads")
    // shuffle and spill stay where the library puts them (SparkLocal.localDir)
    val spark = graft.SparkLocal.session(threads, Seq(
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000"))
    val ctx = new Ctx(spark, opts)
    spark.streams.addListener(ctx.streams)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val steps = mutable.LinkedHashMap[String, Any](
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session" -> System.currentTimeMillis())
    out("setup_steps_ms") = steps
    try {
      w.setup(ctx)
      steps("inputs") = System.currentTimeMillis()
      ctx.spans("warmup", "pass")(w.pass(ctx))
      steps("warm_pass") = System.currentTimeMillis()
      w.warmOnline(ctx)
      steps("warm_online") = System.currentTimeMillis()
      out("ready_ms") = System.currentTimeMillis()
      if (opts("trace") == "1") traced(ctx, w, out) else timed(ctx, w, out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.synchronized(ctx.failures += s"error: ${e.getClass.getSimpleName}: ${e.getMessage}")
        out("error") = e.toString
    } finally {
      out("attempted") = ctx.attempted.get
      out("failed") = ctx.failed
      out("failures") = ctx.synchronized(ctx.failures.toList)
      out("extra") = ctx.extra
      val f = new java.io.PrintWriter(opts("out"))
      try f.println(Json(out)) finally f.close()
      spark.stop()
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Untraced run: passes until the workload's share of the budget is
    * used (at least [[Workload.minPasses]]), and the online phase, after
    * the passes or, for [[Workload.onlineFirst]], before them. */
  private def timed(ctx: Ctx, w: Workload, out: mutable.Map[String, Any]): Unit = {
    val seconds = ctx.opts("seconds").toDouble
    val t0 = System.nanoTime()
    def online() = ctx.spans("online", "phase")(w.online(ctx))
    val early = if (w.onlineFirst) online() else Nil
    val passes = ArrayBuffer.empty[Double]
    while (passes.size < w.minPasses || (System.nanoTime() - t0) / 1e9 < seconds * w.passShare) {
      passes += ctx.spans("pass", "pass")(w.pass(ctx))
    }
    val lat = if (w.onlineFirst) early else online()
    out("pass_s") = passes.toList
    out("latency_ms") = (lat ++ w.passLatencies(ctx)).toList
    out("timed_s") = (System.nanoTime() - t0) / 1e9
    out("calls_ms") = callWalls(ctx)
  }

  /** Wall of every call in the timed regions, by name, for diagnosis. */
  private def callWalls(ctx: Ctx): Map[String, List[Long]] = {
    val timed = ctx.spans.all.filter(s => s.name == "pass" || s.kind == "phase")
    ctx.spans.all.filter(s => s.kind == "call" &&
        timed.exists(t => t.start <= s.start && s.end <= t.end))
      .groupBy(_.name).map { case (n, ss) => n -> ss.map(_.wall).toList }
  }

  /** Traced run: untraced and traced passes alternate (at least one
    * each), then the traced online phase and the workload's extras. The
    * per-layer numbers come from the traced regions only. */
  private def traced(ctx: Ctx, w: Workload, out: mutable.Map[String, Any]): Unit = {
    val seconds = ctx.opts("seconds").toDouble
    val t0 = System.nanoTime()
    val plain = ArrayBuffer.empty[Double]
    val withTrace = ArrayBuffer.empty[Double]
    val rt = ArrayBuffer.empty[(Double, Double, Double, Double)]
    val probe = new RuntimeProbe
    while (withTrace.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds * w.passShare) {
      plain += ctx.spans("pass", "pass")(w.pass(ctx))
      ctx.tracer.attach(); ctx.spans.traced = true
      probe.begin()
      withTrace += ctx.spans("pass", "pass")(w.pass(ctx))
      rt += probe.end()
      ctx.tracer.detach(); ctx.spans.traced = false
    }
    ctx.tracer.attach(); ctx.spans.traced = true
    val lat = ctx.spans("online", "phase")(w.online(ctx))
    val extras = w.tracedExtras(ctx)
    ctx.tracer.detach(); ctx.spans.traced = false
    ctx.tracer.drain()
    val layers = Layers.compute(ctx, rt.toSeq, median(withTrace.toSeq) / median(plain.toSeq))
    out("layers") = layers ++ extras
    out("pass_s_untraced") = plain.toList
    out("pass_s_traced") = withTrace.toList
    out("latency_ms") = (lat ++ w.passLatencies(ctx)).toList
    writeTrace(ctx)
  }

  /** The trace file: every span with its self time (its wall minus what
    * its child spans cover), every job with its owning span, and the
    * planning phases — written once, after the listener bus drained. */
  private def writeTrace(ctx: Ctx): Unit = ctx.opts.get("trace-out").foreach { path =>
    val spans = ctx.spans.all.toSeq
    val owners = Attribution.owners(spans.filter(_.traced))
    val jobs = ctx.tracer.jobs.synchronized(ctx.tracer.jobs.jobs.toList)
    val children = spans.groupBy(_.parent)
    def self(s: Span): Long = s.wall - Attribution.unionLen(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
    val doc = mutable.LinkedHashMap[String, Any](
      "provenance" -> RawJson(ctx.opts.getOrElse("provenance", "{}")),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end, "self_ms" -> self(s),
        "traced" -> s.traced)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
        "stages" -> j.stageIds, "span" -> Attribution.ownerOf(j.start, owners).map(_.id))),
      "plan_phases" -> ctx.tracer.plans.synchronized(ctx.tracer.plans.phases.toList)
        .map { case (n, a, b) => Map("phase" -> n, "start" -> a, "end" -> b) })
    val f = new java.io.PrintWriter(path)
    try f.println(Json(doc)) finally f.close()
  }
}
