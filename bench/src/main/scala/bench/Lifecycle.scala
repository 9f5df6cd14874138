package bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Imi, Retrieval, Sq8}
import graft.sources.{Sources, Versioned}

/** `artifact_lifecycle`: the stored ANN index and BM25 lexicon, written
  * and then served.
  *
  * Maintenance pass (closed loop, in order): persist base index (with the
  * SQ8 tier) and lexicon; three index/lexicon deliveries, the second one
  * redelivered; a tombstone delete; index and lexicon compaction; the
  * lexicon maintenance rebuild; a full-corpus reindex. The serve phase
  * sends timed requests against the published artifacts (one client,
  * closed loop), alternating served BM25 over a seeded free-text batch
  * with served IMI + SQ8 ANN over a seeded vector batch. */
final class Lifecycle extends Workload {
  private val words = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ")
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var baseDocs, baseEmb, deleteIds: DataFrame = _
  private var deltaDocs, deltaEmb: Seq[DataFrame] = Nil
  private var queries: DataFrame = _
  private var annQueries: DataFrame = _
  private var passNo = 0
  private var root: String = _
  private var requests = 14
  private var setupRequests = 12
  private val FreshRequests = 4

  private def idx = root + "/idx"
  private def lex = root + "/lex"

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docs = Sources.documents(spark, ctx.dataDir + "/corpus")
    emb = Sources.embeddings(spark, ctx.dataDir + "/corpus")
    // the seed picks the base / delta split by hashed id: 9/12 base,
    // three 1/12 deliveries (delta/base = 1/3 trips the rebuild trigger)
    def part(id: String) = pmod(xxhash64(col(id), lit(ctx.seed)), lit(12L))
    baseDocs = docs.filter(part("doc_id") >= 3)
    baseEmb = emb.filter(part("vec_id") >= 3)
    deltaDocs = (0 until 3).map(k => docs.filter(part("doc_id") === k))
    deltaEmb = (0 until 3).map(k => emb.filter(part("vec_id") === k))
    deleteIds = baseEmb.filter(pmod(xxhash64(col("vec_id"), lit(ctx.seed + 1)), lit(40L)) === 0)
      .select("vec_id")
    // untraced runs time 14 requests for the p50; traced runs 30, so the
    // tail has ten requests beyond it
    requests = if (ctx.tiny) 4 else if (traced(ctx)) 30 else 14
    setupRequests = if (ctx.tiny) 1 else 12
    val rng = new scala.util.Random(ctx.seed)
    val qSchema = StructType(Seq(StructField("qid", LongType), StructField("text", StringType)))
    // the seeded request batches: 5 free-text queries, and 5 corpus
    // vectors renumbered as query ids 0..4
    val qRows = (0L until 5L).map(q =>
      Row(q, Seq.fill(6)(words(rng.nextInt(words.length))).mkString(" ")))
    queries = spark.createDataFrame(spark.sparkContext.parallelize(qRows, 1), qSchema)
    val vecs = emb.select(col("vec_id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val eSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType))))
    val eRows = (0L until 5L).map(q => Row(q, vecs(rng.nextInt(vecs.length))._2))
    annQueries = spark.createDataFrame(spark.sparkContext.parallelize(eRows, 1), eSchema)
  }

  /** Files (path, size) in the published versions of both artifacts. */
  private def listing(ctx: Ctx): Seq[(String, Long)] = Seq(idx, lex).flatMap { a =>
    Versioned.currentVersion(ctx.spark, a).toSeq.flatMap { case (_, p) =>
      val base = new java.io.File(p.toUri.getPath)
      def rec(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(rec)
        else Seq((f.getPath, f.length))
      rec(base)
    }
  }.sorted

  private def served(ctx: Ctx): Seq[Seq[Row]] = Seq(
    Imi.annImiServed(emb, idx).collect().toSeq,
    Imi.annSq8Served(emb, idx).collect().toSeq,
    Retrieval.bm25ServedQueries(queries, lex).collect().toSeq)

  def pass(ctx: Ctx): Double = {
    val spark = ctx.spark
    val prev = root
    passNo += 1
    root = ctx.dir(s"artifacts/pass-$passNo")
    if (prev != null) ctx.prep("prep:drop-previous")(deleteRec(new java.io.File(prev)))
    val fileCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    def after[T](t: T): T = { fileCounts += listing(ctx).size; t }
    ctx.beginPass()
    after(ctx.call("persist:index")(Imi.persistIndex(baseEmb, idx, withSq8 = true)))
    after(ctx.call("persist:lexicon")(Retrieval.persistLexicon(baseDocs, lex)))
    (1 to 3).foreach { k =>
      after(ctx.call(s"upsert:index-$k")(Imi.upsertIndexCommitted(deltaEmb(k - 1), idx, k)))
      after(ctx.call(s"upsert:lexicon-$k")(Retrieval.upsertLexicon(deltaDocs(k - 1), lex, s"d$k")))
      if (k == 2) {
        val before = ctx.spans.check("listing")(listing(ctx))
        val i = ctx.call("upsert:index-redeliver")(Imi.upsertIndexCommitted(deltaEmb(1), idx, 2))
        val l = ctx.call("upsert:lexicon-redeliver")(Retrieval.upsertLexicon(deltaDocs(1), lex, "d2"))
        val afterList = ctx.spans.check("listing")(listing(ctx))
        ctx.check("lifecycle.redelivery_noop")(!i && l == "duplicate" &&
          (if (ctx.perturbed("lifecycle.redelivery_noop")) afterList.drop(1) else afterList) == before)
      }
    }
    after(ctx.call("maintain:delete")(Imi.deleteFromIndex(deleteIds, idx)))
    // compaction must leave every served row bit-identical; checked on the
    // timed passes (the warm-up pass keeps set-up free of check work)
    val warm = passNo == 1
    val pre = if (warm) Nil else ctx.spans.check("serve-before-compact")(served(ctx))
    after(ctx.call("compact:index")(Imi.compactIndex(spark, idx)))
    after(ctx.call("compact:lexicon")(Retrieval.compactLexicon(spark, lex)))
    if (!warm) {
      val post = ctx.spans.check("serve-after-compact")(served(ctx))
      ctx.check("lifecycle.compaction_identical")(
        (if (ctx.perturbed("lifecycle.compaction_identical")) post.map(_.drop(1)) else post) == pre)
    }
    val action = after(ctx.call("maintain:lexicon")(Retrieval.maintainLexicon(docs, lex)))
    ctx.check("lifecycle.maintain_rebuild")(
      (if (ctx.perturbed("lifecycle.maintain_rebuild")) "none" else action) == "rebuild")
    after(ctx.call("persist:reindex")(Imi.persistIndex(emb, idx, withSq8 = true)))
    val secs = ctx.passSeconds
    ctx.extra("artifact_files_after_each_call") = fileCounts.toList
    ctx.extra("artifact_files") = fileCounts.last
    secs
  }

  override def passShare: Double = 0.3

  private def traced(ctx: Ctx) = ctx.opts("trace") == "1"

  /** Set-up warms the serve path: the maintenance pass never serves, and
    * the first requests of a cold serve path ran about twice as slow as
    * later ones, and fell for about a dozen requests while the JIT
    * compiled it (it kept compiling about 0.5 s of CPU per request after
    * that, as each request's queries generate code).
    *
    * Traced runs also check here that, on the full-corpus artifacts,
    * served results equal their in-query twins; the twins retrain the
    * index and rebuild the BM25 tables in-query (~7 s), more than an
    * untraced run's time budget. */
  override def warmOnline(ctx: Ctx): Unit = {
    (0 until setupRequests).foreach(request(ctx, _))
    if (traced(ctx)) ctx.spans.check("twins") {
      val bm = Retrieval.bm25ServedQueries(queries, lex).collect().toSeq
      val bmTwin = Retrieval.bm25TopKQueries(docs, queries).collect().toSeq
      ctx.check("lifecycle.bm25_served_twin")(
        (if (ctx.perturbed("lifecycle.bm25_served_twin")) bm.drop(1) else bm) == bmTwin)
      val ann = Imi.annImiServed(emb, idx).collect().toSeq
      val annTwin = Imi.annImi(emb).collect().toSeq
      ctx.check("lifecycle.ann_served_twin")(
        (if (ctx.perturbed("lifecycle.ann_served_twin")) ann.drop(1) else ann) == annTwin)
      val sq = Imi.annSq8Served(emb, idx).collect().toSeq
      val sqTwin = Sq8.topK(emb).collect().toSeq
      ctx.check("lifecycle.sq8_served_twin")(
        (if (ctx.perturbed("lifecycle.sq8_served_twin")) sq.drop(1) else sq) == sqTwin)
    }
  }

  /** Requests alternate between lexical and vector search: a BM25 batch,
    * then the ANN batch served from both index tiers (IMI, then SQ8). The
    * two kinds cost about the same, so the latency distribution has one
    * mode and its median does not jump between kinds. */
  private def request(ctx: Ctx, j: Int): Double = {
    val t = System.nanoTime()
    if (j % 2 == 0) ctx.call("serve:bm25")(Retrieval.bm25ServedQueries(queries, lex).collect())
    else ctx.call("serve:ann") {
      Imi.annImiServed(annQueries, idx).collect()
      Imi.annSq8Served(annQueries, idx).collect()
    }
    (System.nanoTime() - t) / 1e6
  }

  /** Untraced runs serve before the timed pass, on the artifacts
    * set-up's pass published and set-up's requests warmed. After a pass
    * the serve path ran slower again for ten to twenty requests on a
    * 4-vCPU host (the first by about a third), even when set-up had
    * warmed it, and how fast it recovered varied from run to run. */
  override def onlineFirst: Boolean = true

  /** The timed requests. A traced run serves right after its traced pass,
    * so it first sends [[FreshRequests]] untimed requests past the
    * steepest part of that slope. */
  def online(ctx: Ctx): Seq[Double] = {
    if (traced(ctx)) (0 until FreshRequests).foreach(request(ctx, _))
    (0 until requests).map(request(ctx, _))
  }

  override def tracedExtras(ctx: Ctx): Map[String, Double] =
    Map("sources.artifact_files" -> listing(ctx).size.toDouble)

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }
}
