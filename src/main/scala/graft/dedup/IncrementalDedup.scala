package graft.dedup

import graft.text.TextFeatures._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (cross-snapshot) deduplication — the ingest-time shape
  * of D1/D2: a NEW batch of documents is screened against an EXISTING
  * corpus ("the index") instead of against itself. This is how a
  * continuously-fed training corpus actually runs dedup: the standing
  * corpus's text hashes and LSH band rows are computed once and reused
  * every batch; only the (small) new batch pays tokenize/shingle/
  * signature cost per ingest.
  *
  * Scale shape:
  *   - exact screen: equi-join on md5(text) — 32-byte keys, never
  *     bodies; the batch side is small by definition, so AQE broadcasts
  *     it and the corpus never shuffles;
  *   - near screen: the batch's band rows join the corpus's band rows
  *     on (band_id, band_val) ([[MinHashLSH.bandPairs]], the join
  *     every MinHash screen runs) — candidates come from hash-bucket
  *     collisions only (never batch × corpus), and verification joins
  *     the two shingle-set relations by doc id, costing O(candidates);
  *   - within-batch duplicates are deliberately out of scope here —
  *     that is the existing [[MinHashLSH.nearDuplicatePairs]] /
  *     [[ExactDedup]] pass, run on the batch alone.
  *
  * Each side is scanned ONCE: a single persisted (doc_id, h, shingles)
  * frame per side carries the exact-screen hash AND the shingle sets,
  * and the band index derives from it — without the shared frame the
  * exact screen, the signature aggregate, the verify join, and the
  * final verdict join each re-run the scan + md5/shingle projection
  * (measured ~1.7× the whole query at sf0.1, SURVEY §9).
  *
  * Reference scope note: the reference library (find_datacol_diff.py)
  * has no dedup at all; this is an engine extension (SURVEY §2.10).
  */
object IncrementalDedup {

  /** The standing corpus's precomputed screening artifacts — the thing
    * a production pipeline persists to staging tables ONCE and reuses
    * for every ingest batch, so the 100 TB corpus is never re-shingled
    * per batch. All three frames are plain DataFrames, so "persist"
    * is just `.write.parquet(...)` (bucket `bands` by band_val and
    * `shingles` by doc_id to also skip their shuffles at read time —
    * [[graft.sources.Bucketing]]).
    *
    *   - textHashes: md5(text) — the exact screen's side (distinct in
    *     the PERSISTED form: [[writeIndex]]/[[appendToIndex]] dedup at
    *     write time; the in-call screen skips the distinct because its
    *     own verdict aggregation dedups — see [[fromPrepared]]);
    *   - bands: (doc_id, band_id, band_val) LSH band index;
    *   - shingles: (doc_id, shingles) sets for Jaccard verification.
    */
  case class CorpusIndex(textHashes: DataFrame, bands: DataFrame,
      shingles: DataFrame)

  /** One persisted scan: (doc_id, h, shingles). Shared by every screen
    * artifact on its side. Cache reclaimed via clearCache like the
    * other internal multi-consumer caches.
    */
  private def prepared(docs: DataFrame, idCol: String, textCol: String,
      cfg: MinHashLSH.Config): DataFrame =
    cfg.maxShingleDocFreq match {
      case None =>
        // one projection: hash + shingles in the same scan, no join
        docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h"),
            textShingles(col(textCol), cfg.shingleSize).as("shingles"))
          .persist()
      case Some(_) =>
        // boilerplate-capped shingle sets come from the df-capped
        // pipeline (its own aggregate); the hash column rides back in
        // on doc_id — the capped path's one extra equi-join
        MinHashLSH.docShingles(docs, idCol, textCol, cfg)
          .join(docs.select(col(idCol).as("doc_id"),
            md5(col(textCol)).as("h")), "doc_id")
          .persist()
    }

  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      cfg: MinHashLSH.Config = MinHashLSH.Config()): CorpusIndex =
    fromPrepared(prepared(corpus, idCol, textCol, cfg), cfg)

  /** Persist a built index as BUCKETED catalog tables — the durable
    * form of the staging-table advice above. Buckets pin each frame to
    * its screen-join key at write time ([[graft.sources.Bucketing]]):
    * `bands` by `band_val` (a subset of the (band_id, band_val) join
    * key — hash-partitioning on a subset satisfies the join's
    * clustering requirement), `shingles` by `doc_id` (the verify
    * join's corpus side), `textHashes` by `h`. Every later ingest
    * screen then reads the corpus side ALREADY partitioned: the only
    * exchanges in a recurring [[verdicts]] run are on the small batch
    * side (plan-spec'd in IncrementalDedupSpec). One write-time
    * shuffle, amortized over every nightly batch — at 100 TB the
    * corpus never moves again.
    */
  def writeIndex(index: CorpusIndex, prefix: String,
      numBuckets: Int = 32): Unit = {
    graft.sources.Bucketing.writeBucketed(
      index.bands, s"${prefix}_bands", "band_val", numBuckets)
    graft.sources.Bucketing.writeBucketed(
      index.shingles, s"${prefix}_shingles", "doc_id", numBuckets)
    graft.sources.Bucketing.writeBucketed(
      index.textHashes.distinct(), s"${prefix}_hashes", "h", numBuckets)
  }

  /** Reopen a [[writeIndex]]-persisted index for an ingest screen.
    * When deletion tombstones exist ([[removeFromIndex]]), each frame
    * comes back with its dead rows anti-joined away — the tombstone
    * side is O(deleted) and broadcasts, so the corpus side still never
    * shuffles; a screen against the filtered index can no longer
    * reject a batch doc because of a document the curated table
    * deleted.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      prefix: String): CorpusIndex = {
    // each anti-join gates on ITS OWN tombstone table's existence: a
    // crash between removeFromIndex's two writes leaves one tombstone
    // table behind, and gating both joins on one table would either
    // crash every screen (missing table referenced) or silently skip
    // applied tombstones — partial states must stay readable AND
    // over-rejecting at worst
    def anti(df: DataFrame, tomb: String, key: String): DataFrame =
      if (!spark.catalog.tableExists(tomb)) df
      else df.join(spark.table(tomb), Seq(key), "left_anti")
    CorpusIndex(
      anti(spark.table(s"${prefix}_hashes"), s"${prefix}_hashes_del", "h"),
      anti(spark.table(s"${prefix}_bands"), s"${prefix}_dead", "doc_id"),
      anti(spark.table(s"${prefix}_shingles"), s"${prefix}_dead",
        "doc_id"))
  }

  /** Remove DELETED corpus documents from a persisted index — the
    * O(|deleted|) maintenance write that keeps the screen honest after
    * a curated-table `deleteWhere` (without it, stale band/hash rows
    * wrongly REJECT a future batch doc that near-duplicates only a
    * deleted document). Deletion is by TOMBSTONE: the dead doc ids
    * land in `<prefix>_dead` (bucketed by doc_id) and the dead text
    * hashes in `<prefix>_hashes_del` (bucketed by h); [[readIndex]]
    * anti-joins them away at screen time (broadcast — the corpus
    * frames never move), so the bucketed index files themselves are
    * untouched, exactly like every tombstoned index format. `deleted`
    * carries (idCol, textCol) — a `deleteWhere(cdc = true)` run's
    * delete PREIMAGES are exactly this frame.
    *
    * Precondition (guaranteed by the screen itself): the curated
    * corpus is exact-unique, so a text hash identifies one document
    * and tombstoning it cannot un-screen a different live document.
    * Periodic heal: rebuild ([[buildIndex]] + [[writeIndex]]) folds
    * the tombstones away — same discipline as any materialized view.
    */
  def removeFromIndex(deleted: DataFrame, idCol: String, textCol: String,
      prefix: String, numBuckets: Int = 32): Unit = {
    val spark = deleted.sparkSession
    // per-TABLE upsert (create-or-append decided independently), so a
    // crashed earlier removal — whichever table it reached — always
    // self-heals on the next call instead of taking the wrong branch
    // for the table the crash skipped. Order `_dead` first: a crash in
    // between leaves the near screen already ignoring the doc and the
    // exact screen still rejecting byte-identical text — over-rejecting
    // relative to the intended end state, never under-screening.
    def upsert(df: DataFrame, table: String, key: String): Unit =
      if (spark.catalog.tableExists(table))
        graft.sources.Bucketing.appendBucketed(df, table, key, numBuckets)
      else
        graft.sources.Bucketing.writeBucketed(df, table, key, numBuckets)
    upsert(deleted.select(col(idCol).as("doc_id")),
      s"${prefix}_dead", "doc_id")
    upsert(deleted.select(md5(col(textCol)).as("h")),
      s"${prefix}_hashes_del", "h")
  }

  /** Extend a persisted index with newly ADMITTED documents — the
    * O(|batch|) maintenance write that keeps a recurring ingest screen
    * from ever re-shingling the standing corpus: the batch's hash/
    * band/shingle frames append into the same bucket layout
    * ([[graft.sources.Bucketing.appendBucketed]]), so the screen joins
    * stay shuffle-free as the index grows. Callers append KEEPS only
    * (admitted docs are exact-unique vs the corpus by construction, so
    * the `textHashes` distinctness invariant holds across appends).
    * The index is DERIVED state: if a crash splits it from its source
    * table, heal by rebuilding ([[buildIndex]] + [[writeIndex]] over
    * the table) — same discipline as any materialized view.
    */
  def appendToIndex(admitted: DataFrame, idCol: String, textCol: String,
      cfg: MinHashLSH.Config, prefix: String,
      numBuckets: Int = 32): Unit = {
    val prep = prepared(admitted, idCol, textCol, cfg)
    val idx = fromPrepared(prep, cfg)
    graft.sources.Bucketing.appendBucketed(
      idx.bands, s"${prefix}_bands", "band_val", numBuckets)
    graft.sources.Bucketing.appendBucketed(
      idx.shingles, s"${prefix}_shingles", "doc_id", numBuckets)
    graft.sources.Bucketing.appendBucketed(
      idx.textHashes.distinct(), s"${prefix}_hashes", "h", numBuckets)
    prep.unpersist(blocking = false)
    ()
  }

  /** NOT distinct on `textHashes`: the exact screen's verdict already
    * dedups per batch doc after its join, so an in-call distinct here
    * only adds a full corpus-wide exchange + aggregate ahead of a join
    * whose build side it then broadcasts anyway (r16: the distinct was
    * the only corpus-side shuffle left in `dedup_incremental`'s exact
    * screen). The PERSISTED index forms keep the distinct invariant at
    * write time ([[writeIndex]]/[[appendToIndex]]) — one write-time
    * dedup, amortized over every nightly screen.
    */
  private def fromPrepared(prep: DataFrame,
      cfg: MinHashLSH.Config): CorpusIndex =
    CorpusIndex(
      prep.select(col("h")),
      MinHashLSH.bands(prep, cfg),
      prep.select("doc_id", "shingles"))

  /** Per-batch-document verdict against the corpus.
    *
    * Output (one row per batch doc): (doc_id, exact_dup, near_dup,
    * keep) — exact_dup: some corpus doc has byte-identical text;
    * near_dup: some LSH candidate in the corpus verifies at Jaccard ≥
    * `cfg.threshold` (an exact dup is also a near dup — J = 1);
    * keep: neither screen fired.
    */
  def verdicts(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, cfg: MinHashLSH.Config = MinHashLSH.Config()): DataFrame =
    verdicts(buildIndex(corpus, idCol, textCol, cfg), batch, idCol, textCol, cfg)

  /** [[verdicts]] plus the ATTRIBUTION an audit trail wants: `dup_of`
    * = the smallest corpus doc id that triggered EITHER screen, i.e.
    * `least(min exact partner, min verified near partner)` — for an
    * exact hit a smaller Jaccard-verified near partner can win the
    * min (an exact dup is also a near dup at J = 1, so the winner is
    * still a genuine duplicate partner); NULL for keeps. "Rejected
    * because of WHICH document", the question a curation operator
    * asks right after "why". Takes the corpus FRAME (not the index:
    * the persisted `textHashes` deliberately drops doc ids); same
    * screen shapes, with the two verdict joins upgraded to
    * min-partner aggregates — still O(candidates), never batch ×
    * corpus.
    *
    * The RESULT comes back materialized and persisted (its two input
    * scans are cached only for the duration of this call — ADVICE r13
    * flagged the leak); callers unpersist it when done.
    */
  def verdictsAttributed(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      cfg: MinHashLSH.Config = MinHashLSH.Config()): DataFrame = {
    val cPrep = prepared(corpus, idCol, textCol, cfg)
    val bPrep = prepared(batch, idCol, textCol, cfg)
    val exact = bPrep.select("doc_id", "h")
      .join(cPrep.select(col("h"), col("doc_id").as("c_id")), "h")
      .groupBy("doc_id").agg(min("c_id").as("exact_of"))
    val cand = MinHashLSH.bandPairs(MinHashLSH.bands(bPrep, cfg),
      MinHashLSH.bands(cPrep, cfg), ordered = false, "b_id", "c_id").distinct()
    val near = cand
      .join(bPrep.select(col("doc_id").as("b_id"),
        col("shingles").as("sa")), "b_id")
      .join(cPrep.select(col("doc_id").as("c_id"),
        col("shingles").as("sb")), "c_id")
      .filter(jaccard(col("sa"), col("sb")) >= cfg.threshold)
      .groupBy(col("b_id").as("doc_id"))
      .agg(min("c_id").as("near_of"))
    val out = bPrep.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_of").isNotNull.cast("int").as("exact_dup"),
        col("near_of").isNotNull.cast("int").as("near_dup"),
        (col("exact_of").isNull && col("near_of").isNull)
          .cast("int").as("keep"),
        least(col("exact_of"), col("near_of")).as("dup_of"))
      .persist()
    // materialize while the shared scans are cached, then release them
    // — the |batch|-row verdict frame is what survives, not three
    // shingle-carrying scans
    out.count()
    cPrep.unpersist(blocking = false)
    bPrep.unpersist(blocking = false)
    out
  }

  /** Same verdicts, against a prebuilt (possibly table-backed) index. */
  def verdicts(index: CorpusIndex, batch: DataFrame, idCol: String,
      textCol: String, cfg: MinHashLSH.Config): DataFrame =
    verdictsScoped(index, batch, idCol, textCol, cfg)._1

  /** [[verdicts]] (index form) with the internal persisted batch scan
    * handed back, so a PER-MICRO-BATCH caller
    * ([[graft.streaming.TableCuration]]) can release exactly that
    * cache after materializing the verdicts — a blanket
    * `catalog.clearCache()` there would also unpersist every
    * user-cached relation sharing the session. The result is lazy and
    * references the handles: unpersist AFTER consuming.
    */
  private[graft] def verdictsScoped(index: CorpusIndex, batch: DataFrame,
      idCol: String, textCol: String,
      cfg: MinHashLSH.Config): (DataFrame, Seq[DataFrame]) = {
    // the batch prep frame feeds FOUR consumers: the exact screen, the
    // band signatures, the verify join, and the final verdict spine
    val bPrep = prepared(batch, idCol, textCol, cfg)
    val exact = bPrep.select("doc_id", "h")
      .join(index.textHashes, "h")
      .select("doc_id").distinct()
      .withColumn("is_exact", lit(1))

    val cand = MinHashLSH.bandPairs(MinHashLSH.bands(bPrep, cfg),
      index.bands, ordered = false, "b_id", "c_id").distinct()
    val near = cand
      .join(bPrep.select(col("doc_id").as("b_id"), col("shingles").as("sa")),
        "b_id")
      .join(index.shingles
        .select(col("doc_id").as("c_id"), col("shingles").as("sb")), "c_id")
      .filter(jaccard(col("sa"), col("sb")) >= cfg.threshold)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(1))

    val out = bPrep.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_exact"), lit(0)).cast("int").as("exact_dup"),
        coalesce(col("is_near"), lit(0)).cast("int").as("near_dup"))
      .withColumn("keep",
        when(col("exact_dup") === 0 && col("near_dup") === 0, 1)
          .otherwise(0).cast("int"))
    (out, Seq(bPrep))
  }

  /** [[verdictsScoped]] for the CORPUS-FRAME form (index built
    * in-call): both internal persisted scans come back for scoped
    * release.
    */
  private[graft] def verdictsScopedCorpus(corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      cfg: MinHashLSH.Config): (DataFrame, Seq[DataFrame]) = {
    val cPrep = prepared(corpus, idCol, textCol, cfg)
    val (out, scratch) = verdictsScoped(fromPrepared(cPrep, cfg), batch,
      idCol, textCol, cfg)
    (out, cPrep +: scratch)
  }
}
