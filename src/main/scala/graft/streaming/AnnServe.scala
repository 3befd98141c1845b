package graft.streaming

import graft.similarity.IvfPq
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the persisted IVFADC index
  * ([[IvfPq.writeIndex]]): each micro-batch of incoming query vectors
  * is served top-k against the cell-partitioned coded corpus —
  * real-time retrieval over a standing index.
  *
  * foreachBatch is the right lift (the [[IngestScreen]] reasoning):
  * serving is batch-vs-static, and per micro-batch it is EXACTLY the
  * spec'd [[IvfPq.topKIndexed]] operator — zero training jobs, coded
  * scan pruned to the batch's probed cells — so the stream face
  * introduces no new search semantics to re-prove. The codebooks are
  * read ONCE at wiring time and reused for every batch (a frozen
  * serving snapshot — the [[graft.similarity.KMeans.label]] contract);
  * swapping in a retrained index is a stream restart, which is how
  * index rollover works operationally anyway.
  */
object AnnServe {

  /** Wire a streaming frame of query vectors into per-batch top-k
    * frames. `onBatch` receives (batchId, topk) where topk is
    * [[IvfPq.topKIndexed]]'s output for that micro-batch:
    * (q_id, rank, n_id, cos_sim, dist_pq).
    */
  def serve(queries: DataFrame, table: String, idCol: String,
      vecCol: String, dim: Int, k: Int,
      cfg: IvfPq.Config = IvfPq.Config())(
      onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    val spark = queries.sparkSession
    val model = IvfPq.readModel(spark, table)
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // the probe set is a driver-built local relation, so a batch
      // leaves nothing cached behind: the stream can run unboundedly
      // many batches without releasing anything per batch
      if (!batch.isEmpty)
        onBatch(batchId, IvfPq.topKIndexed(spark, table, batch, idCol,
          vecCol, dim, k, cfg, Some(model)))
    }
  }
}
