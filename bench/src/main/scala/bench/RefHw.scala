package bench

import java.io.{BufferedReader, InputStreamReader}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.StreamParams
import graft.operators.{Clustering, ExactOutliers, GridOutliers, KMeans}
import graft.streaming.FrequentItemsStream

/** `reference_hw`: the paper's three programs.
  *
  * Batch pass (closed loop, one caller): HW1 grid (D,M)-outliers and exact
  * outliers, HW2 seeded MRFFT centers -> radius -> outlier summary at that
  * radius, and k-means on a d-dim vector set. Online phase: HW3 frequent
  * items over a socket fed by a separate generator process at a fixed
  * offered rate; each item's latency runs from its scheduled send time to
  * the end of the micro-batch that folded it. */
final class RefHw extends Workload {
  private val D = 0.5
  private val M = 10
  private val K = 10
  private val phi = 0.02
  private var points: DataFrame = _
  private var vectors: DataFrame = _
  private var n = 0L
  private var nVec = 0L
  private var rate = 10000.0
  private var hw3Seconds = 7.0
  private var warmSeconds = 1.5
  private var lastLate = 0.0
  private var lastBacklog = 0.0

  def setup(ctx: Ctx): Unit = {
    points = ctx.spark.read.parquet(ctx.dataDir + "/points")
    vectors = ctx.spark.read.parquet(ctx.dataDir + "/vectors")
    n = ctx.opts("n-points").toLong
    nVec = ctx.opts("n-vectors").toLong
    if (ctx.tiny) { rate = 4000.0; hw3Seconds = 2.0; warmSeconds = 0.5 }
  }

  def pass(ctx: Ctx): Double = {
    ctx.beginPass()
    val cells = ctx.call("hw1:cellCounts")(GridOutliers.cellCounts(points, D).collect())
    val stats = ctx.call("hw1:neighborStats")(
      GridOutliers.neighborStats(GridOutliers.cellCounts(points, D), M).collect())
    val sum = ctx.call("hw1:summary")(GridOutliers.summary(points, D, M).head())
    val top = ctx.call("hw1:topKCells")(GridOutliers.topKCells(points, D, K).collect())
    val outl = ctx.call("hw1:outliers")(ExactOutliers.outliers(points, D, M, K).collect())
    val cnt = ctx.call("hw1:outlierCount")(
      ExactOutliers.outlierCount(points, D, M).head().getLong(0))
    val vecs = points.select(col("id"), array(col("x"), col("y")).as("vec"))
    val centers = ctx.call("hw2:mrfftCenters")(
      Clustering.mrfftCentersRandomTimed(vecs, 8, ctx.threads, ctx.seed)._1)
    val r = ctx.call("hw2:radius")(Clustering.radius(vecs, centers).head().getDouble(0))
    val sum2 = ctx.call("hw2:summary")(GridOutliers.summary(points, r, M).head())
    val km = ctx.call("kmeans")(KMeans.kmeans(vectors, 8, 2).collect())
    val secs = ctx.passSeconds
    ctx.spans.check("checks")(checkPass(ctx, cells, stats, sum, top, outl, cnt,
      vecs, centers, r, sum2, km))
    secs
  }

  private def bump(ctx: Ctx, name: String, v: Long): Long = if (ctx.perturbed(name)) v + 1 else v

  private def checkPass(ctx: Ctx, cells: Array[Row], stats: Array[Row], sum: Row,
                        top: Array[Row], outl: Array[Row], cnt: Long,
                        vecs: DataFrame, centers: Seq[Array[Double]], r: Double,
                        sum2: Row, km: Array[Row]): Unit = {
    ctx.check("hw1.cell_sizes_sum")(
      bump(ctx, "hw1.cell_sizes_sum", cells.map(_.getAs[Long]("size")).sum) == n)
    ctx.check("hw1.neighbor_stats")(
      bump(ctx, "hw1.neighbor_stats", stats.length.toLong) == cells.length &&
        stats.forall(s => s.getAs[Long]("size") <= s.getAs[Long]("n3") &&
          s.getAs[Long]("n3") <= s.getAs[Long]("n7")))
    ctx.check("hw1.summary_n")(bump(ctx, "hw1.summary_n", sum.getAs[Long]("n_points")) == n)
    val smallest = cells.map(c => (c.getAs[Long]("size"), c.getAs[Long]("i"), c.getAs[Long]("j")))
      .sorted.take(K).toSeq
    ctx.check("hw1.topk_cells")(
      top.map(c => (bump(ctx, "hw1.topk_cells", c.getAs[Long]("size")),
        c.getAs[Long]("i"), c.getAs[Long]("j"))).toSeq == smallest)
    val sure = sum.getAs[Long]("sure_outliers")
    val unc = sum.getAs[Long]("uncertain_points")
    val c = if (ctx.perturbed("hw1.outlier_bounds")) sure + unc + 1 else cnt
    ctx.check("hw1.outlier_bounds")(sure <= c && c <= sure + unc)
    ctx.check("hw1.outliers_topk")(
      bump(ctx, "hw1.outliers_topk", outl.length.toLong) == math.min(K.toLong, cnt) &&
        outl.forall(_.getAs[Long]("ball_size") <= M))
    // independent recomputation: plain Scala max-of-min distance over the
    // returned centers, same left-fold order as the library's column kernel
    val cs = centers.map(_.clone()).toArray
    val recomputed = points.select(col("x").cast("double"), col("y").cast("double")).rdd
      .map { row =>
        val x = row.getDouble(0); val y = row.getDouble(1)
        var best = Double.PositiveInfinity
        cs.foreach { cv =>
          var s = 0.0
          s += (x - cv(0)) * (x - cv(0))
          s += (y - cv(1)) * (y - cv(1))
          best = math.min(best, math.sqrt(s))
        }
        best
      }.max()
    ctx.check("hw2.radius_recompute")(
      (if (ctx.perturbed("hw2.radius_recompute")) r * (1 + 1e-9) else r) == recomputed)
    ctx.check("hw2.summary_n")(bump(ctx, "hw2.summary_n", sum2.getAs[Long]("n_points")) == n)
    ctx.check("kmeans.sizes")(bump(ctx, "kmeans.sizes", km.map(_.getAs[Long]("n")).sum) == nVec)
  }

  override def passShare: Double = 0.45
  override def minPasses: Int = 2

  /** A short untimed HW3 phase warms the streaming path during set-up. */
  override def warmOnline(ctx: Ctx): Unit =
    hw3(ctx, rate, warmSeconds, 0.0, None, "hw3_warm")

  def online(ctx: Ctx): Seq[Double] = {
    val res = ctx.call("hw3:stream")(hw3(ctx, rate, hw3Seconds, warmSeconds, None, "hw3"))
    res.latencies
  }

  /** The rate ladder: doubling rungs above the fixed rate, each aborted as
    * soon as its backlog passes one second of input. The sustained rate is
    * the highest rung that completed with a bounded backlog. */
  override def tracedExtras(ctx: Ctx): Map[String, Double] = {
    val late = lastLate
    val backlog = lastBacklog
    var sustained = if (backlog <= rate) rate else 0.0
    var r = rate * 2
    var go = sustained > 0
    val rungs = if (ctx.tiny) 1 else 3
    var i = 0
    while (go && i < rungs) {
      val res = ctx.call(s"hw3:ladder-${r.toLong}")(
        hw3(ctx, r, if (ctx.tiny) 1.5 else 3.0, 0.0, Some((r * 1.0).toLong), s"hw3_ladder_$i"))
      if (res.aborted) go = false else { sustained = r; r *= 2 }
      i += 1
    }
    Map("streaming.backlog_max" -> backlog, "streaming.gen_late_ms" -> late,
      "streaming.sustained_items_per_s" -> sustained)
  }

  final case class Hw3Result(latencies: Seq[Double], aborted: Boolean)

  /** One HW3 phase at `r` items/s for `seconds`. With `abortAt`, the phase
    * stops as soon as the backlog exceeds that many items. Without it, the
    * folded state is checked against the generator's own tallies. */
  private def hw3(ctx: Ctx, r: Double, seconds: Double, warm: Double,
                  abortAt: Option[Long], name: String): Hw3Result = {
    val total = math.max(1L, (r * seconds).toLong)
    val tally = ctx.dir(s"$name.tally")
    val pb = new ProcessBuilder("python3", "bench/hw3gen.py", "--rate", r.toString,
      "--n", total.toString, "--seed", ctx.seed.toString, "--tally", tally)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val rd = new BufferedReader(new InputStreamReader(proc.getInputStream))
    try {
      val port = rd.readLine().split(" ")(1).toInt
      val params = StreamParams(total, phi, 0.005, 0.1)
      val (state, query) = FrequentItemsStream.run(
        FrequentItemsStream.socketItems(ctx.spark, "127.0.0.1", port), params, ctx.seed, name)
      val t0 = rd.readLine().split(" ")(1).toDouble
      var aborted = false
      val deadline = System.currentTimeMillis() + (seconds * 4 * 1000).toLong + 60000L
      while (query.isActive && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        abortAt.foreach { bound =>
          val due = math.min(total.toDouble, (System.currentTimeMillis() - t0) * r / 1000.0)
          val done = query.recentProgress.map(_.numInputRows).sum
          if (due - done > bound) { aborted = true; query.stop() }
        }
      }
      if (query.isActive) { query.stop(); throw new IllegalStateException(s"$name did not finish") }
      query.exception.foreach(e => throw e)
      val prog = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      if (aborted) return Hw3Result(Nil, aborted = true)
      val doneLine = rd.readLine()
      lastLate = doneLine.split(" ")(1).toDouble
      // item i is in the batch whose cumulative row range covers it; the
      // final batch's report can race the query's own stop, so items
      // without a reported batch end carry no latency sample
      val lat = new scala.collection.mutable.ArrayBuffer[Double]()
      var cum = 0L
      var backlog = 0.0
      prog.foreach { p =>
        val end = StreamEvents.end(p)
        var i = cum
        cum += p.numInputRows
        backlog = math.max(backlog, math.min(total.toDouble, (end - t0) * r / 1000.0) - cum)
        while (i < cum) {
          val sched = t0 + i * 1000.0 / r
          if (sched >= t0 + warm * 1000.0) lat += end - sched
          i += 1
        }
      }
      lastBacklog = backlog
      ctx.extra(s"${name}_rows") = Map("progress" -> cum, "sent" -> total,
        "batches" -> prog.length, "all_progress" -> query.recentProgress.length)
      if (abortAt.isEmpty && warm > 0) {
        val src = scala.io.Source.fromFile(tally)
        val counts = try src.getLines().map { l =>
          val Array(item, c) = l.split(" ")
          item.toLong -> c.toLong
        }.toMap finally src.close()
        ctx.spans.check("hw3:checks") {
          val exact = state.exact.toMap
          val seen = if (ctx.perturbed("hw3.exact_counts"))
            exact.updated(exact.keys.head, exact(exact.keys.head) + 1) else exact
          ctx.check("hw3.exact_counts")(seen == counts)
          val truth = counts.filter(_._2 >= phi * total).toSeq.sortBy(_._1)
          val got = if (ctx.perturbed("hw3.true_frequent")) state.trueFrequent.drop(1)
            else state.trueFrequent
          ctx.check("hw3.true_frequent")(state.processed == total && got == truth)
        }
      }
      Hw3Result(lat.toSeq, aborted = false)
    } finally {
      proc.destroy()
      proc.waitFor()
    }
  }
}
