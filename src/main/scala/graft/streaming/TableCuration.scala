package graft.streaming

import graft.dedup.{IncrementalDedup, MinHashLSH}
import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming face #37: a SELF-CURATING corpus — the change feed's
  * fourth consumer (beside the aggregate sink, the replica, and the
  * SCD2 history): a raw ingest table's commits stream through the
  * PROVEN incremental-dedup screen ([[IncrementalDedup.verdicts]] —
  * exact md5 + LSH-banded near, the `dedup_incremental` semantics
  * verbatim) against the CURRENT curated table, and only the `keep`
  * verdicts append. This closes the continuous-curation loop a 100 TB
  * training pipeline actually runs: raw crawl batches land in a
  * transactional table; the curated corpus maintains ITSELF from that
  * table's feed — no external orchestration deciding what's new, no
  * corpus rescan, O(|commit|) screen work per trigger.
  *
  * '''Order matters and is pinned''': a batch-2 document that
  * near-duplicates a batch-1 KEEP must be rejected, which only holds
  * if commits screen in version order against a corpus that already
  * absorbed the earlier keeps. A catch-up micro-batch may span several
  * source commits, so the sink splits it by `_commit_version` and
  * screens sequentially (the [[TableHistory]] discipline).
  *
  * '''Exactly-once''': each source commit's keeps append stamped
  * `Txn(appId, sourceVersion)` — a replayed trigger (sink retry,
  * checkpoint recovery) sees the stamp and skips the version whole,
  * BEFORE paying the screen again.
  *
  * '''Within-batch duplicates''' are out of scope here, same as the
  * batch operator's contract ([[IncrementalDedup]] scaladoc): run
  * [[StreamDedup]] (exact) upstream, or pre-clean each raw commit.
  *
  * '''Screen cost''': with `indexPrefix` set (production), verdicts
  * run against the PERSISTED bucketed corpus index and each admitted
  * batch extends it ([[IncrementalDedup.appendToIndex]]) — O(|batch|)
  * shingle work per trigger, the standing corpus never re-shingled.
  * Without it, the screen rebuilds the index from the curated table
  * every version — O(|corpus|) shingle cost per trigger, fine for
  * small curated sets and the zero-setup default, wrong at 100 TB.
  * The index is DERIVED state (the curated table is the truth): the
  * table append commits FIRST (Txn-stamped), the index extension
  * follows, so a crash between the two leaves the index missing that
  * version's keeps — and the replay skips the stamped version whole.
  * Heal by rebuilding the index from the curated table
  * ([[IncrementalDedup.writeIndex]]), the materialized-view
  * discipline; the indexed ≡ rebuilt identity is spec-pinned.
  *
  * The screen persists shared scan frames internally; the sink
  * releases exactly those (plus its own verdict/keep persists) after
  * each source version applies — scoped, never a blanket
  * `catalog.clearCache()`, so user-cached relations sharing the
  * session survive the stream (ADVICE r14).
  */
object TableCuration {

  /** Wire a [[TableChangeFeed.readChanges]] frame of a raw ingest
    * table into a curated CowTable at `curatedPath` (pre-created with
    * the seed corpus; stream the feed from the first un-curated
    * version). `idCol`/`textCol` name the document key and body in
    * BOTH tables. `indexPrefix`: catalog-table prefix of a persisted
    * [[IncrementalDedup.writeIndex]] index built from the seed —
    * screens against it and extends it per admitted batch (see object
    * doc for the cost and recovery contract).
    *
    * `quarantinePath`: the rejects land in their own CowTable with the
    * verdict flags — the audit trail a curation run owes its operators
    * ("what did we drop and why"), queryable like any table. Apply
    * order is quarantine THEN curated, both Txn-stamped per source
    * version, and the skip check gates on the CURATED stamp (the last
    * write): a crash between the two replays the screen against a
    * corpus that did NOT yet absorb the keeps (so verdicts stay
    * correct) and each append no-ops independently on its stamp.
    *
    * `appId` scopes the stamps: source versions are per-FEED, so two
    * raw tables feeding one curated table need distinct appIds, or the
    * second feed's version-v commit is swallowed as the first's replay
    * (the CowTableSink shared-stamp hazard, same shape).
    */
  def curateSink(feed: DataFrame, curatedPath: String, idCol: String,
      textCol: String, cfg: MinHashLSH.Config = MinHashLSH.Config(),
      appId: String,
      indexPrefix: Option[String] = None,
      quarantinePath: Option[String] = None): DataStreamWriter[Row] =
    MicroBatch.each(feed) { (_, batch) =>
      val spark = batch.sparkSession
      val vc = TableChangeFeed.VersionCol
      val versions = batch.select(vc).distinct().collect()
        .map(_.getLong(0)).sorted
      versions.foreach { v =>
        val applied = TxLog.snapshotPlanned(spark, curatedPath).meta
          .txnVersion(appId).exists(_ >= v)
        if (!applied) {
          val docs = batch.filter(col(vc) === v)
            .select(col(idCol), col(textCol))
          val (rawVerdicts, scratch) = indexPrefix match {
            case Some(p) => IncrementalDedup.verdictsScoped(
              IncrementalDedup.readIndex(spark, p), docs, idCol,
              textCol, cfg)
            case None => IncrementalDedup.verdictsScopedCorpus(
              CowTable.read(spark, curatedPath), docs, idCol,
              textCol, cfg)
          }
          val verdicts = rawVerdicts.persist()
          val keeps = docs.join(
              verdicts.filter(col("keep") === 1)
                .select(col("doc_id").as(idCol)),
              idCol)
            .persist()
          try {
            quarantinePath.foreach { qp =>
              val rejects = docs.join(
                verdicts.filter(col("keep") === 0)
                  .select(col("doc_id").as(idCol),
                    col("exact_dup"), col("near_dup")),
                idCol)
              if (TxLog.latestVersion(spark, qp) == 0)
                CowTable.create(spark, qp, rejects.limit(0), Seq(idCol))
              CowTable.append(spark, qp, rejects,
                txn = Some(TxLog.Txn(appId, v)))
            }
            CowTable.append(spark, curatedPath, keeps,
              txn = Some(TxLog.Txn(appId, v)))
            indexPrefix.foreach(p =>
              IncrementalDedup.appendToIndex(keeps, idCol, textCol,
                cfg, p))
          } finally {
            // release exactly this version's caches — the screen's
            // internal scans, the verdicts, the keeps
            keeps.unpersist(blocking = false)
            verdicts.unpersist(blocking = false)
            scratch.foreach(_.unpersist(blocking = false))
          }
        }
      }
    }

  /** DELETE from the curated corpus with the screen kept honest in the
    * same call (the GDPR/retention path of the loop): a CDC-enabled
    * [[CowTable.deleteWhere]] removes the rows, then the commit's
    * delete PREIMAGES — exactly the (id, text) frame the tombstones
    * need — feed [[IncrementalDedup.removeFromIndex]], so a future
    * batch that near-duplicates only a deleted document screens as
    * `keep` instead of being wrongly rejected by stale band/hash rows.
    * O(matching files) for the delete + O(|deleted|) for the
    * tombstones. A crash between the two leaves the index
    * over-rejecting (never under-screening — the safe side); the CDC
    * sidecar persists with the commit, so recovery re-runs
    * `removeFromIndex(changesCdcAt(version))` — or rebuilds, the
    * materialized-view discipline. No-op (version unchanged, no
    * tombstones) when nothing matched.
    */
  def deleteCurated(spark: org.apache.spark.sql.SparkSession,
      curatedPath: String, cond: org.apache.spark.sql.Column,
      idCol: String, textCol: String,
      indexPrefix: Option[String] = None): CowTable.RewriteMetrics = {
    val m = CowTable.deleteWhere(spark, curatedPath, cond, cdc = true)
    // gate on the metrics, not a before/after version comparison: a
    // CONCURRENT commit landing around a no-match delete would bump
    // the version and this would misread that commit as ours (crashing
    // on its missing CDC, or tombstoning another delete's preimages)
    if (m.touchedFiles > 0) indexPrefix.foreach { p =>
      val preimages = CowTable.changesCdcAt(spark, curatedPath, m.version)
        .filter(col(CowTable.ChangeTypeCol) === "delete")
        .select(col(idCol), col(textCol))
      IncrementalDedup.removeFromIndex(preimages, idCol, textCol, p)
    }
    m
  }
}
