package graft.streaming

import graft.dedup.MinHashLSH
import graft.text.TextFeatures.jaccard
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the blocking-quality audit
  * ([[graft.dedup.BlockingEval]]): running RR/PC/PQ over an ingest
  * stream — blocking quality is monitored WHERE it degrades, on the
  * feed, not in a nightly batch job that discovers yesterday's recall
  * hole tomorrow.
  *
  * The [[QualityMonitor]] additive-state discipline, applied to PAIR
  * counters: every pair of the concatenated corpus is counted exactly
  * once — at the micro-batch where its LATER document arrives — so
  * the five counters (docs, candidates, sample-truth, sample-hits,
  * sample-candidates) are additive and the running report after any
  * number of batches equals [[graft.dedup.BlockingEval.eval]] of the
  * concatenation (the machine-checked identity in
  * `BlockingMonitorSpec`). Per batch:
  *
  *   - Δcand = band collisions WITHIN the batch ∪ batch × standing
  *     band index, both from [[graft.dedup.MinHashLSH.bandPairs]] (the
  *     [[graft.dedup.IncrementalDedup]] screen shape: the standing side
  *     never re-shingles);
  *   - Δtruth/Δhit/Δcand_s analogously, against the standing SAMPLE
  *     shingle sets only (brute force stays bounded by `sampleMax`,
  *     exactly like the batch audit).
  *
  * A `maxShingleDocFreq` cap is REJECTED here, the [[QualityMonitor]]
  * `Unique` precedent: capped shingle sets depend on corpus-GLOBAL
  * document frequencies, so per-batch folds are not additive — audit
  * capped blocking in batch, where the df aggregate sees the whole
  * corpus.
  *
  * State: the five Long counters plus the standing band index and
  * sample shingle frame (both grow by one batch per fold; both are
  * exactly the frames [[graft.dedup.IncrementalDedup.writeIndex]]
  * persists — a production monitor reads/appends the bucketed catalog
  * tables and keeps only the counters in memory, the
  * QualityMonitor restart note applying verbatim to the counter
  * snapshot). In-memory accumulation `localCheckpoint`s the standing
  * frames each fold so lineage stays one batch deep.
  */
object BlockingMonitor {

  /** The additive audit counters. */
  case class BlockState(nDocs: Long, nCand: Long, nTruth: Long,
      nHit: Long, nCandS: Long) {
    def merge(o: BlockState): BlockState = BlockState(
      nDocs + o.nDocs, nCand + o.nCand, nTruth + o.nTruth,
      nHit + o.nHit, nCandS + o.nCandS)
  }

  /** The running counters as [[graft.dedup.BlockingEval.eval]]'s
    * one-row report — same columns, same DECIMAL(38,0) ppm
    * arithmetic, so the streaming read and the batch audit are
    * directly comparable (and hash-comparable in the spec).
    */
  def report(spark: SparkSession, s: BlockState): DataFrame = {
    import spark.implicits._
    graft.dedup.BlockingEval.ratios(
      Seq((s.nDocs, s.nCand, s.nTruth, s.nHit, s.nCandS))
        .toDF("n_docs", "n_cand", "n_truth", "n_hit", "n_cand_s"))
  }

  /** One stream's running audit state: fold micro-batches, read the
    * counters. Single-threaded driver use (one micro-batch at a time).
    */
  final class Accumulator(idCol: String, textCol: String,
      sampleMax: Long, cfg: MinHashLSH.Config = MinHashLSH.Config()) {
    require(cfg.maxShingleDocFreq.isEmpty,
      "the shingle df cap is corpus-global — capped blocking is not " +
        "additive across batches; audit it in batch (BlockingEval)")

    private var state = BlockState(0L, 0L, 0L, 0L, 0L)
    private val standingBands = MicroBatch.Standing.empty
    private val standingSample = MicroBatch.Standing.empty

    def running: BlockState = state

    /** Fold one micro-batch (doc_id, text) and return the running
      * counters. Every pair is attributed to its later document's
      * batch; within-batch and batch×standing candidates are disjoint
      * by construction, so the union below never double counts.
      */
    def fold(batch: DataFrame): BlockState = {
      val sh = MinHashLSH.docShingles(batch, idCol, textCol, cfg).persist()
      val b = MinHashLSH.bands(sh, cfg).persist()
      val within = MinHashLSH.bandPairs(b, b, ordered = true)
      val cross = standingBands.current.map { old =>
        MinHashLSH.bandPairs(b, old, ordered = false)
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      }
      val cand = cross.fold(within)(within.unionByName(_)).distinct().persist()

      val batchSample = sh.filter(col("doc_id") < sampleMax)
      def side(df: DataFrame, id: String, s: String) =
        df.select(col("doc_id").as(id), col("shingles").as(s))
      val withinT = side(batchSample, "ia", "sa").as("x")
        .join(side(batchSample, "ib", "sb").as("y"), col("ia") < col("ib"))
        .select(col("ia").as("doc_a"), col("ib").as("doc_b"),
          col("sa"), col("sb"))
      val crossT = standingSample.current.map { old =>
        side(batchSample, "ia", "sa")
          .join(side(old, "ib", "sb"))
          .select(least(col("ia"), col("ib")).as("doc_a"),
            greatest(col("ia"), col("ib")).as("doc_b"),
            col("sa"), col("sb"))
      }
      val uni = size(col("sa")) + size(col("sb")) -
        size(array_intersect(col("sa"), col("sb")))
      val truth = crossT.fold(withinT)(withinT.unionByName(_))
        .filter(uni > 0 && jaccard(col("sa"), col("sb")) >= cfg.threshold)
        .select("doc_a", "doc_b").persist()
      val candS = cand.filter(col("doc_a") < sampleMax &&
        col("doc_b") < sampleMax)
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")

      val delta = BlockState(batch.count(), cand.count(), truth.count(),
        hit.count(), candS.count())
      state = state.merge(delta)

      // grow the standing frames (each advance checkpoints the new
      // generation and releases the one before it)
      standingBands.advance(
        standingBands.current.fold(b)(b.unionByName(_)))
      standingSample.advance(
        standingSample.current.fold(batchSample)(batchSample.unionByName(_)))
      Seq(cand, truth, b, sh).foreach(_.unpersist(blocking = false))
      state
    }
  }

  /** Wire an ingest stream into the running audit: after each
    * micro-batch, `onBatch` receives the batch id and the running
    * counters ([[report]] renders them as the one-row audit frame).
    * Replayed batch ids are skipped ([[MicroBatch.fold]]).
    */
  def monitor(stream: DataFrame, idCol: String, textCol: String,
      sampleMax: Long, cfg: MinHashLSH.Config = MinHashLSH.Config())(
      onBatch: (Long, BlockState) => Unit): DataStreamWriter[Row] = {
    val acc = new Accumulator(idCol, textCol, sampleMax, cfg)
    MicroBatch.fold(stream, acc.running)((_, batch) => acc.fold(batch))(
      onBatch)
  }
}
