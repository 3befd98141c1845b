package graft.streaming

import graft.operators.GroupedNtile
import graft.text.LmScore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming perplexity-bucket router — the online half of the CCNet
  * head/middle/tail discipline: live documents score against a FROZEN
  * unigram LM and route to their language's quality bucket against
  * FROZEN cut points, both trained offline by the batch faces
  * (`LmScore.model`, [[GroupedNtile.boundaries]]).
  *
  * Unlike the [[MicroBatch]] lifts (a screen run per micro-batch),
  * this face needs NO batch boundary: scoring is a per-row projection
  * against the broadcast model and labeling is a broadcast join + a
  * bounded array scan ([[GroupedNtile.applyBoundaries]]) — a stateless
  * stream-static transform Structured Streaming runs as-is, in any
  * output mode, with no watermark and no state store. That statelessness
  * is the point of freezing the artifacts: the rank the batch face
  * computes is unstreamable (a late doc reshuffles every bucket), while
  * frozen cuts make routing a pure function of the document.
  *
  * Spec: routing a stream ≡ scoring+labeling the same rows in batch
  * (StreamingSpec), which is itself the hash-gated `text_ppl_apply`.
  */
object PplRouter {

  /** (doc_id, group, nll_q, bucket) for each streamed document.
    * `fitted` is the one-row [[LmScore.model]] frame; `bounds` is
    * [[GroupedNtile.boundaries]]' output — both static.
    */
  def route(docs: DataFrame, fitted: DataFrame, bounds: DataFrame,
      idCol: String, textCol: String, groupCol: String): DataFrame = {
    val scored = LmScore.scoreFast(docs, idCol, textCol, fitted,
        keep = Seq(groupCol))
      .select(col("doc_id"), col(groupCol), col("nll_q"))
    GroupedNtile.applyBoundaries(scored, bounds, groupCol,
      col("nll_q"), "doc_id")
  }
}
