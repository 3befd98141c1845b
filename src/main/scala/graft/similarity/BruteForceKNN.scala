package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact top-k cosine neighbors by brute force — the correctness
  * baseline every approximate index is judged against.
  *
  * Scale shape: the query set is the SMALL side (a handful to a few
  * thousand vectors) joined against the full corpus — Catalyst
  * broadcasts it, so the corpus is scanned once, partition-parallel,
  * with no corpus shuffle. The only shuffle is the final top-k window
  * on q_id, and Spark's WindowGroupLimit rewrite (asserted in
  * PlanAuditSpec) runs it partial+final: each input partition keeps
  * only its local top k per query BEFORE the shuffle, so ~k·|queries|
  * rows move regardless of corpus size.
  */
object BruteForceKNN {

  /** Top-k neighbors (by cosine desc, id asc) for each query vector.
    *
    * @param vectors   (idCol, vecCol: array<float>) corpus
    * @param isQuery   predicate over idCol selecting query vectors
    */
  def topK(vectors: DataFrame, idCol: String, vecCol: String,
      isQuery: Column => Column, k: Int): DataFrame = {
    val prepared = vectors.select(col(idCol).as("vid"), col(vecCol).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val q = prepared.filter(isQuery(col("vid")))
      .select(col("vid").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    queryTopK(prepared.join(q, col("vid") =!= col("q_id")), k)
  }
}
