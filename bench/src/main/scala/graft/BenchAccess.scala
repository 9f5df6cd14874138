package graft

import org.apache.spark.sql.DataFrame

/** The benchmark's view of two package-private library constants: the
  * IVF cell count and training iterations the embedding screens use, so
  * the oracle's pinned cells can be re-derived for a generated corpus. */
object BenchAccess {
  def ivfCenters(emb: DataFrame): Seq[(Long, Array[Double])] =
    operators.KMeans.trainCenters(emb, operators.Similarity.ivfK(emb),
      operators.Similarity.IvfTrainIters)
}
