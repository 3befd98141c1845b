package graft.streaming

import graft.operators.Quality
import graft.operators.Quality._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face of the data-quality engine
  * ([[graft.operators.Quality]]): running rule counters over an
  * ingest stream — "how many contract violations has this feed
  * accumulated, and is it passing right now?" after every
  * micro-batch.
  *
  * The state is EXACTLY mergeable by construction: every supported
  * rule class (`NotNull` / `InRange` / `Matches`, and `ForeignKey`
  * against a STATIC parent) reduces to two additive counters
  * (violations, total), so the running report after any number of
  * micro-batches equals `Quality.check` of the concatenated stream —
  * a machine-checked identity in the spec, the same incremental ≡
  * recompute contract as [[graft.operators.AggMerge]]. `Unique` is
  * REJECTED here: surplus counts do not add across batches (a key
  * seen once per batch is a violation only across them) — cross-batch
  * uniqueness is standing-corpus screening: run
  * [[graft.dedup.IncrementalDedup.verdicts]] per micro-batch through
  * [[MicroBatch.each]] against its standing index.
  *
  * Per micro-batch the distributed work is the batch engine itself
  * (one scan + a 1-row exchange per table, parent keys broadcast);
  * the driver folds one tiny (violations, total) pair per rule.
  * Replays of an already-folded batch id within a run are skipped
  * ([[MicroBatch.fold]]: micro-batches are at-least-once). The closure
  * state does not survive a JVM restart: to recover WITHOUT double
  * counting, persist (batchId, running pairs) atomically per batch
  * and re-seed from the LAST persisted snapshot — a replayed batch
  * then either was already inside the snapshot (its id ≤ the
  * snapshot's) or folds exactly once; merging two
  * independently-accumulated snapshots of overlapping batch ranges is
  * NOT lossless.
  */
object QualityMonitor {

  /** Additive per-rule counters. */
  case class RuleState(violations: Long, total: Long) {
    def merge(o: RuleState): RuleState =
      RuleState(violations + o.violations, total + o.total)
    def pass: Boolean = violations == 0L
  }

  /** FK rule against a static parent table (stream side = child). */
  case class StaticFk(id: String, childCol: String, parent: DataFrame,
      parentTable: String, parentCol: String)

  private def mergeable(r: Rule): Boolean = r match {
    case _: Unique => false
    case _ => true
  }

  private val UniqueRejected =
    "Unique is not additive across batches — screen each micro-batch " +
      "against a standing index (IncrementalDedup.verdicts) instead"

  /** Per-rule counters of ONE frame (a micro-batch, or the whole
    * concatenation in the spec's identity check).
    */
  def batchState(df: DataFrame, table: String, rules: Seq[Rule],
      fks: Seq[StaticFk] = Nil): Map[String, RuleState] = {
    require(rules.forall(mergeable), UniqueRejected)
    val reports =
      (if (rules.nonEmpty) Seq(Quality.check(df, table, rules)) else Nil) ++
        fks.map(f => Quality.foreignKey(df, table, f.childCol, f.parent,
          f.parentTable, f.parentCol, f.id))
    reports.flatMap(_.collect().map(r => r.getAs[String]("rule_id") ->
      RuleState(r.getAs[Long]("violations"), r.getAs[Long]("total"))))
      .toMap
  }

  def mergeStates(a: Map[String, RuleState],
      b: Map[String, RuleState]): Map[String, RuleState] =
    MicroBatch.mergeKeyed(a, b)(_ merge _)

  /** Wire an ingest stream into the running monitor: after each
    * micro-batch, `onBatch` receives the batch id and the running
    * per-rule counters.
    */
  def monitor(stream: DataFrame, table: String, rules: Seq[Rule],
      fks: Seq[StaticFk] = Nil)(
      onBatch: (Long, Map[String, RuleState]) => Unit): DataStreamWriter[Row] = {
    require(rules.forall(mergeable), UniqueRejected)
    MicroBatch.fold(stream, Map.empty[String, RuleState])((running, batch) =>
      mergeStates(running, batchState(batch, table, rules, fks)))(onBatch)
  }
}
