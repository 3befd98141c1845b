package graft.streaming

import graft.similarity.{GraphIngest, IVFIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of [[graft.similarity.GraphIngest]] — kNN-graph
  * maintenance fed by an embedding stream: each micro-batch of new
  * vectors folds into the standing graph via the already-verified
  * incremental merge (|batch|-proportional cell pairs, frozen
  * centroids), and joins the corpus holder so later batches compare
  * against it too.
  *
  * [[MicroBatch.each]] is the right lift (the [[Scd2Stream]]
  * reasoning): the semantics are batch-vs-accumulated-state, and per
  * micro-batch that is EXACTLY the batch operator. Both holders are
  * [[MicroBatch.Standing]] frames, re-materialized with
  * `localCheckpoint` to cut lineage — an unbounded stream would stack
  * one merge plan per batch into a single growing tree. In production
  * the holders are storage-backed tables (the graph bucketed by
  * src_id, the assigned corpus bucketed by cell — the
  * [[graft.sources.Bucketing]] layout that makes the per-batch cell
  * join co-located); the in-process holder keeps the operator
  * testable. Centroids are frozen at wiring time — re-quantization is
  * a rebuild, scheduled like one, exactly as in batch.
  */
object GraphIngestStream {

  /** Corpus + graph holder — read `graph` for the current top-k
    * edges, `corpus` for the vectors it covers. The caller's bootstrap
    * frames seed it and are never released.
    */
  final class GraphHolder(initialCorpus: DataFrame, initialGraph: DataFrame) {
    private[streaming] val corpusStanding = MicroBatch.Standing(initialCorpus)
    private[streaming] val graphStanding = MicroBatch.Standing(initialGraph)
    def corpus: DataFrame = corpusStanding.current.get
    def graph: DataFrame = graphStanding.current.get
  }

  /** Wire an embedding stream into `holder` under frozen `cents`. */
  def maintain(vectors: DataFrame, holder: GraphHolder, idCol: String,
      vecCol: String, k: Int, cents: DataFrame): DataStreamWriter[Row] =
    MicroBatch.each(vectors) { (_, batch) =>
      val corpus = holder.corpus
      holder.graphStanding.advance(GraphIngest.merged(corpus, batch,
        holder.graph, idCol, vecCol, k, cents))
      holder.corpusStanding.advance(corpus.unionByName(
        batch.select(corpus.columns.map(col): _*)))
      ()
    }

  /** Convenience: build the initial holder from a corpus frame — the
    * standing graph under the corpus's frozen stride centroids.
    */
  def bootstrap(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      cfg: IVFIndex.Config = IVFIndex.Config()): (GraphHolder, DataFrame) = {
    val cents = GraphIngest.strideCentroids(corpus, idCol, vecCol,
      cfg.centroidStride)
    val graph = graft.similarity.KnnGraph
      .buildWithCentroids(corpus, idCol, vecCol, k, cents)
    (new GraphHolder(corpus, graph), cents)
  }
}
