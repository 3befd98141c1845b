package graft.streaming

import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face #33: exactly-once maintenance of a [[CowTable]] from
  * a CDC/upsert stream — the production holder the in-process
  * [[Scd2Stream.HistoryHolder]] stands in for, now real: each
  * micro-batch MERGEs into the transactional table, stamped with
  * `Txn(appId, batchId)` so REPLAYED batches (sink retries, restarts
  * from an older streaming checkpoint) observe their own stamp in the
  * log and no-op instead of double-applying. Structured Streaming's
  * micro-batches are at-least-once; the log stamp is what upgrades the
  * composition to exactly-once — the standard idempotent-writer
  * contract of log-based table formats.
  *
  * Within-batch key collisions (a key changed twice inside one
  * micro-batch — normal in CDC) are resolved BEFORE the merge by
  * `orderCol`: one `max(struct(ord, row))` aggregate keeps the latest
  * change per key (map-side combining collapses hot keys early;
  * callers guarantee (keys, orderCol) unique, the usual CDC sequence
  * contract). The merge itself then sees unique keys.
  *
  * Scale shape: per micro-batch cost is [[CowTable.merge]]'s — zone-map
  * pruning + rewrite of only the files holding batch keys. A
  * key-clustered layout keeps per-batch write amplification at
  * O(batch-key-range); periodic [[CowTable.compact]] folds the
  * accumulating small per-batch insert files.
  */
object TableSink {

  /** The per-batch application, exposed so replay behavior is directly
    * testable: calling this twice with the same `batchId` applies once.
    * `batch` is non-empty ([[MicroBatch.each]] never passes an empty
    * one).
    */
  def applyBatch(path: String, keys: Seq[String],
      deleteCol: Option[String], orderCol: Option[String], appId: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val resolved = orderCol.fold(batch) { ord =>
      val others = batch.columns.filterNot(keys.contains)
      batch.groupBy(keys.map(col): _*)
        .agg(max(struct(col(ord).as("_o") +: others.map(col): _*))
          .as("_w"))
        .select(keys.map(col) ++
          others.map(c => col(s"_w.$c").as(c)): _*)
    }
    CowTable.merge(batch.sparkSession, path, resolved, keys, deleteCol,
      checkUniqueKeys = orderCol.isEmpty,
      txn = Some(TxLog.Txn(appId, batchId)))
    ()
  }

  /** Wire `stream` (a CDC/upsert frame: key columns + full row +
    * optional delete flag + optional sequence column) into the
    * CowTable at `path`.
    *
    * `appId` scopes the `Txn` stamps to one (feed, checkpoint) lineage:
    * two queries on one table, or a restart against a fresh checkpoint,
    * need distinct appIds, or the later batches are skipped as replays.
    * There is no default for that reason. Append-only streams use the
    * `cowtable` sink format ([[CowTableSinkProvider]]), which derives
    * the stamp identity from the checkpoint.
    */
  def mergeSink(stream: DataFrame, path: String, keys: Seq[String],
      deleteCol: Option[String] = None, orderCol: Option[String] = None,
      appId: String): DataStreamWriter[Row] =
    MicroBatch.each(stream) { (batchId, batch) =>
      applyBatch(path, keys, deleteCol, orderCol, appId)(batch, batchId)
    }

  /** Standing-aggregate variant: each micro-batch of RAW rows folds
    * into a [[graft.tables.AggTable]] (map-side delta aggregate →
    * pruned touched-key read → proven combiners → one stamped merge).
    * The exactly-once stamp matters doubly here — a replayed additive
    * fold would silently double-count, not just duplicate rows.
    * `appId` as in [[mergeSink]].
    */
  def aggSink(stream: DataFrame, path: String, keys: Seq[String],
      valueCol: String, appId: String): DataStreamWriter[Row] =
    MicroBatch.each(stream) { (batchId, batch) =>
      graft.tables.AggTable.fold(batch.sparkSession, path, batch,
        keys, valueCol, Some(TxLog.Txn(appId, batchId)))
      ()
    }

  /** Table REPLICATION over the row-level change feed: a
    * [[TableChangeFeed.readCdc]] frame folded into an exact copy at
    * `path`, keyed by `keys` — the composition CDC exists for (read
    * replicas, cross-region copies, downstream materializations that
    * must not re-scan the source). `appId` as in [[mergeSink]].
    *
    * Per micro-batch: preimages are dropped (informational), the
    * effects (insert / update_postimage / delete) are resolved
    * latest-commit-wins per key — one batch may span several commits
    * touching the same key, and within a commit a key appears at most
    * once as an effect (merge batches are unique per key) — then
    * applied through [[applyBatch]]'s stamped MERGE, so the replica
    * inherits exactly-once semantics. The replica table is created on
    * the first non-empty batch (empty, schema from the feed) —
    * O(change volume) per trigger thereafter, never a source rescan. A
    * source `restore` is not representable in the CDC stream (the feed
    * fails loudly); restore the replica and restart the stream past
    * it, the same runbook every CDC replication product documents.
    *
    * `where`: a FILTERED replica (regional copies, tenant slices) —
    * replica contents ≡ source.filter(where) after every drain: the
    * filter applies to the EFFECT rows inside the fold, remapping any
    * effect whose row falls OUTSIDE the predicate into a DELETE — so
    * an update that moves a row out of the slice evicts it, an insert
    * that never belonged no-ops (merge deletes on unmatched keys do
    * nothing), and a move INTO the slice upserts. Consume the
    * UNFILTERED feed with this option; NULL predicate results count
    * as outside (SQL filter semantics). ALTERNATIVELY (cheaper at
    * scale): consume the SCOPED feed — `readCdc(where, whereKeys)`
    * ships predicate exits as delete markers itself, the replica then
    * needs no `where` here and the feed volume tracks the slice's
    * change rate instead of the table's (`pipeline_table_replica_where`
    * gates that composition).
    */
  def replicaSink(cdcFeed: DataFrame, path: String, keys: Seq[String],
      appId: String,
      where: Option[String] = None): DataStreamWriter[Row] =
    MicroBatch.each(cdcFeed) { (batchId, batch) =>
      val ct = CowTable.ChangeTypeCol
      val vc = TableChangeFeed.VersionCol
      val del = where match {
        case Some(w) =>
          col(ct) === "delete" || !coalesce(expr(w), lit(false))
        case None => col(ct) === "delete"
      }
      val fx = batch.filter(col(ct) =!= "update_preimage")
        .withColumn("_gf_rdel", del)
        .drop(ct)
      if (TxLog.latestVersion(batch.sparkSession, path) == 0)
        CowTable.create(batch.sparkSession, path,
          fx.drop(vc, "_gf_rdel").limit(0), statsCols = keys)
      // a row-filtered feed can ship a batch of preimages only
      if (!fx.isEmpty)
        applyBatch(path, keys, Some("_gf_rdel"), Some(vc), appId)(fx,
          batchId)
    }
}
