package bench

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Imi, Retrieval}
import graft.sources.Sources
import graft.streaming.{DedupStream, DriftStream, EmbDedupStream, IndexUpsertStream,
  IngestPipeline, LexiconUpsertStream}

/** `ingest_stream`: finite replay drains over parquet replay directories
  * carved by the seed into one file per micro-batch. The library's results
  * are carving-invariant, so outputs do not depend on the seed.
  *
  * Each drained result is dumped once (from the warm-up pass) for the
  * DuckDB oracle compare that runs after the JVM exits, and every timed
  * pass must reproduce the warm-up rows exactly. */
final class Ingest extends Workload {
  private var docs, emb: DataFrame = _
  private var docDir, docSrcDir, embDir: String = _
  private var passNo = 0
  private val first = mutable.Map.empty[String, Seq[Row]]
  private var indexTwin: Seq[Row] = Nil
  private var root: String = _

  override def passShare: Double = 1.0

  /** Replay files (micro-batches) per carved directory. */
  private val ReplayFiles = 12

  /** Oracle keys of the drains, as named by the library's gates. */
  val oracleKeys = Seq("q_dedup_stream", "q_neardup_stream", "q_emb_stream",
    "q_token_drift_stream", "q_lexicon_upsert_stream", "q_ingest_pipeline")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.dataDir + "/corpus"
    docs = Sources.documents(spark, corpus)
    emb = Sources.embeddings(spark, corpus)
    val files = if (ctx.tiny) 4 else ReplayFiles
    docDir = carve(ctx, docs.select(col("doc_id").cast("long"), col("text")), "doc_id", files, "replay/docs")
    docSrcDir = carve(ctx, docs.select(col("doc_id").cast("long"), col("text"), col("source")),
      "doc_id", files, "replay/docs_src")
    embDir = carve(ctx, emb.select(col("vec_id").cast("long"), col("emb")), "vec_id", files, "replay/emb")
    writeOracleSql(ctx, corpus)
    // the index drain's twin: the same delta delivered as one batch upsert
    val twin = ctx.dir("index-twin")
    Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), twin)
    Imi.upsertIndex(emb.filter(col("vec_id") % 4 === 3), twin)
    indexTwin = Imi.annImiServed(emb, twin).collect().toSeq
  }

  /** One parquet file per seeded hash bucket: file f holds the rows whose
    * hash(id, seed) mod files = f. */
  private def carve(ctx: Ctx, df: DataFrame, id: String, files: Int, name: String): String = {
    val path = ctx.dir(name)
    val keyed = df.withColumn("_f", pmod(xxhash64(col(id), lit(ctx.seed)), lit(files.toLong)).cast("int"))
    val fIdx = keyed.schema.fieldIndex("_f")
    val rdd = keyed.rdd.keyBy(_.getInt(fIdx)).partitionBy(new HashPartitioner(files)).values
    ctx.spark.createDataFrame(rdd, keyed.schema).drop("_f").write.parquet(path)
    path
  }

  /** The gates' oracle SQL for the drains. The embedding screens' oracles
    * inline IVF cells pinned for the repo's test corpus; for a generated
    * corpus those cells are re-derived with the same training call and
    * substituted, exactly as the repo regenerates its pins. */
  private def writeOracleSql(ctx: Ctx, corpus: String): Unit = {
    def render(pins: Seq[(Long, Seq[Double])]): String = {
      def dlit(d: Double): String = {
        val s = d.toString
        if (s.contains("E") || s.contains("e")) s else s + "E0"
      }
      val rows = pins.map { case (cid, cv) =>
        s"(CAST($cid AS BIGINT), [${cv.map(dlit).mkString(", ")}])"
      }.mkString(", ")
      s"cent AS (SELECT cid, cv FROM (VALUES $rows) t(cid, cv))"
    }
    val pinned = render(graft.IvfPins.embeddingsK16I2)
    val trained = render(graft.BenchAccess.ivfCenters(emb).map { case (c, v) => (c, v.toSeq) })
    val sql = oracleKeys.map { k =>
      val q = graft.SparkEntry.oracleSql(k)
      val fixed = if (q.contains("cent AS (")) {
        require(q.contains(pinned), s"$k: pinned IVF cells not found in the oracle SQL")
        q.replace(pinned, trained)
      } else q
      k -> fixed
    }.toMap
    val f = new java.io.PrintWriter(ctx.dir("oracle_sql.json"))
    try f.println(Json(sql)) finally f.close()
  }

  private def stream(ctx: Ctx, schema: String, dir: String): DataFrame =
    ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Result of one drain: dumped from the warm-up pass, compared after. */
  private def result(ctx: Ctx, key: String, df: DataFrame, rows: Seq[Row]): Unit =
    ctx.spans.check(s"result:$key") {
      first.get(key) match {
        case None =>
          first(key) = rows
          ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), df.schema)
            .write.parquet(ctx.dir(s"results/$key"))
        case Some(expect) =>
          val got = if (ctx.perturbed(s"ingest.$key.stable")) rows.drop(1) else rows
          ctx.check(s"ingest.$key.stable")(got == expect)
      }
    }

  def pass(ctx: Ctx): Double = {
    val prev = root
    passNo += 1
    root = ctx.dir(s"artifacts/pass-$passNo")
    if (prev != null) ctx.prep("prep:drop-previous")(deleteRec(new java.io.File(prev)))
    val docS = stream(ctx, "doc_id BIGINT, text STRING", docDir)
    val docSrcS = stream(ctx, "doc_id BIGINT, text STRING, source STRING", docSrcDir)
    val embS = stream(ctx, "vec_id BIGINT, emb ARRAY<DOUBLE>", embDir)
    ctx.beginPass()
    def drain(key: String, name: String)(f: => DataFrame): Unit = {
      val (df, rows) = ctx.call(s"stream:$name") { val d = f; (d, d.collect().toSeq) }
      result(ctx, key, df, rows)
    }
    drain("q_dedup_stream", "dedup")(DedupStream.runReplay(docS, "bench_dedup"))
    drain("q_neardup_stream", "neardup")(DedupStream.nearDupReplay(docS, docs, "bench_neardup"))
    drain("q_emb_stream", "emb_neardup")(EmbDedupStream.nearDupReplay(embS, emb, "bench_emb"))
    drain("q_token_drift_stream", "token_drift")(DriftStream.tokenDriftReplay(docSrcS, "bench_drift"))

    val lex = root + "/lex"
    ctx.prep("prep:publish-lexicon")(
      Retrieval.persistLexicon(docs.filter(col("doc_id") % 4 =!= 3), lex))
    ctx.call("stream:lexicon_upsert")(
      LexiconUpsertStream.run(docS.filter(col("doc_id") % 4 === 3), lex))
    val served = ctx.spans.check("serve:lexicon")(Retrieval.bm25Served(docs, lex))
    result(ctx, "q_lexicon_upsert_stream", served, ctx.spans.check("serve:lexicon")(served.collect().toSeq))

    val idx = root + "/idx"
    ctx.prep("prep:publish-index")(Imi.persistIndex(emb.filter(col("vec_id") % 4 =!= 3), idx))
    ctx.call("stream:index_upsert")(
      IndexUpsertStream.run(embS.filter(col("vec_id") % 4 === 3), idx))
    ctx.spans.check("serve:index") {
      val got = Imi.annImiServed(emb, idx).collect().toSeq
      ctx.check("ingest.index_upsert_twin")(
        (if (ctx.perturbed("ingest.index_upsert_twin")) got.drop(1) else got) == indexTwin)
    }
    drain("q_ingest_pipeline", "ingest_pipeline")(
      IngestPipeline.run(docS, docS, embS, docs, emb, "bench_ingest"))
    ctx.passSeconds
  }

  def online(ctx: Ctx): Seq[Double] = Nil

  /** Micro-batch latency (trigger execution) of every batch in the timed
    * passes. */
  override def passLatencies(ctx: Ctx): Seq[Double] = {
    ctx.tracer.drain()
    val passes = ctx.spans.all.filter(s => s.kind == "pass" && s.name == "pass")
    ctx.streams.synchronized(ctx.streams.progress.toList)
      .filter { p => val t = StreamEvents.start(p); passes.exists(s => s.start <= t && t <= s.end) }
      .map(p => StreamEvents.dur(p, "triggerExecution").toDouble)
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }
}
