package graft.similarity

import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The IVFADC index backed by a transactional [[CowTable]] — the
  * exactly-once form of [[IvfPq.writeIndex]]'s plain catalog table,
  * closing the at-least-once hole of [[IvfPq.appendToIndex]] run per
  * micro-batch ([[graft.streaming.MicroBatch.each]]): index appends
  * are Txn-stamped per ingest batch, so a sink retry or checkpoint
  * replay no-ops instead of duplicating coded rows (a duplicate
  * displaces a real k-th neighbor). The index inherits the whole table surface for
  * free — time travel (serve yesterday's index), DESCRIBE HISTORY of
  * every ingest batch, restore, vacuum, provenance.
  *
  * Layout: hive-partitioned by `cell` with `cell` zone maps, so
  * serving reads ONLY the probed cells' files — the same
  * partition-pruned scan the catalog form gets, planned off the
  * manifest (one file-list filter per probed cell; nProbe × queries
  * distinct cells, a handful).
  *
  * '''Model epochs''' (ADVICE r13): coded rows are meaningless
  * without the codebooks that produced them, so the frozen model is
  * VERSIONED alongside the table — `<path>/_model/v<commit>`, one dir
  * per model-bearing commit ([[create]] at v1, each [[retrain]] at
  * its overwrite commit). A read at `asOfVersion` resolves the model
  * epoch IN FORCE at that version (the largest create/retrain commit
  * ≤ asOf), so a time-traveled serve across a retrain boundary
  * decodes old codes with the OLD books — the silent-wrong-neighbors
  * hole of a single mutable `_model`. Vacuum walks `data/` only and
  * never touches `_model/`; a missing epoch dir (vacated by hand, or
  * a retrain that crashed between its commit and its model publish)
  * fails LOUDLY at resolve time.
  */
object IvfPqTable {

  /** Train on `vectors` (the seed epoch), create the table-backed
    * index, and pin the model under `<path>/_model/v1`. Returns the
    * frozen model for subsequent [[append]]s.
    */
  def create(spark: SparkSession, path: String, vectors: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      cfg: IvfPq.Config = IvfPq.Config()): IvfPq.Model = {
    val prep = IvfPq.prepare(vectors, idCol, vecCol, cfg)
    val model = IvfPq.withModel(prep, dim, cfg) { m =>
      CowTable.create(spark, path, IvfPq.coded(prep, m, dim, cfg),
        Seq("cell"), partitionBy = Seq("cell"))
      m
    }
    writeModel(spark, path, model, 1L)
    model
  }

  /** Commit-meta key carrying the model epoch an append's codes were
    * produced under (see [[append]] / [[modelEpoch]]).
    */
  private[similarity] val EpochMetaKey = "annModelEpoch"

  /** Code a new batch with the frozen model and append it atomically;
    * `txn` makes the ingest exactly-once (the [[CowTable.append]]
    * stamp contract).
    *
    * '''Epoch validation''' (ADVICE r14): codes are meaningless under
    * any other epoch's books, so the caller-held `model` is validated
    * against the epoch IN FORCE before anything writes — its content
    * hash ([[IvfPq.modelHash]]) must equal the pinned epoch's, or the
    * append fails loudly (an ingest stream still holding pre-retrain
    * books would otherwise land silently-wrong codes that head serves
    * decode with the NEW books). The commit is also STAMPED with the
    * validated epoch, which closes the residual race: a retrain
    * landing between this validation and the commit leaves an
    * old-epoch stamp above the retrain commit, and [[modelEpoch]]'s
    * walk fails the SERVE loudly instead of returning wrong neighbors
    * (heal: re-run [[retrain]], which re-codes everything, or
    * [[CowTable.restore]] to the retrain version and re-append).
    * Validation costs one epoch resolve (O(appends since the last
    * retrain) log reads) plus one tiny hash-file read — metadata
    * scale, amortized over the batch write.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int, model: IvfPq.Model,
      cfg: IvfPq.Config = IvfPq.Config(),
      txn: Option[TxLog.Txn] = None): Unit = {
    val epoch = modelEpoch(spark, path)
    val want = epochModelHash(spark, path, epoch)
    val got = IvfPq.modelHash(model)
    require(got == want,
      s"append to index $path: caller-held model (hash $got) is NOT " +
        s"the epoch in force (v$epoch, hash $want) — a retrain " +
        "replaced the codebooks; restart the ingest with the model " +
        "retrain returned (appending stale codes would serve wrong " +
        "neighbors)")
    CowTable.append(spark, path,
      IvfPq.code(batch, idCol, vecCol, dim, model, cfg), txn = txn,
      meta = Some(Map(EpochMetaKey -> epoch.toString)))
  }

  /** RETRAIN: fit fresh codebooks on `vectors` (the caller supplies
    * the raw corpus — PQ codes are lossy and cannot be decoded back),
    * atomically replace the table's contents with the re-coded rows
    * in ONE `"retrain"` commit, and pin the new model at that
    * commit's epoch dir. Old versions stay served with the OLD model
    * (epoch resolution); the new epoch serves everything after.
    * Returns the new frozen model.
    *
    * Crash contract: the model publishes AFTER its commit, so a crash
    * in between leaves reads at/after the retrain version failing
    * loudly at [[readModel]] ("no epoch dir") — re-run the retrain to
    * heal. The reverse order would be worse: a stale epoch dir with
    * no matching commit would silently decode a concurrent append's
    * old-model codes with the new books.
    */
  def retrain(spark: SparkSession, path: String, vectors: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      cfg: IvfPq.Config = IvfPq.Config()): IvfPq.Model = {
    val prep = IvfPq.prepare(vectors, idCol, vecCol, cfg)
    val (model, v) = IvfPq.withModel(prep, dim, cfg) { m =>
      (m, CowTable.overwrite(spark, path, IvfPq.coded(prep, m, dim, cfg),
        op = "retrain"))
    }
    writeModel(spark, path, model, v)
    model
  }

  /** DELETE vectors from the index — the retention/GDPR path: a plain
    * copy-on-write [[CowTable.deleteWhere]] on the coded ids, so a
    * removed vector can never surface as anyone's neighbor again
    * (rows are GONE — no tombstone reconciliation at serve time), and
    * time travel below the delete still serves it (the audit face;
    * vacuum is the erasure boundary, as for any table). Naturally
    * idempotent — a replay finds no rows and commits nothing. The
    * probe scans the coded table for the ids (cell-partitioned, ids
    * unclustered — O(table probe) per delete batch, with parquet
    * pushdown doing the row-group work; deletes are rare/batched by
    * contract). Codebooks are untouched: PQ decode of the survivors
    * is unchanged, so serve ≡ code-the-remainder with the same frozen
    * model (spec-pinned).
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit =
    if (ids.nonEmpty) {
      CowTable.deleteWhere(spark, path,
        org.apache.spark.sql.functions.col("vid").isInCollection(ids))
      ()
    }

  /** Serve a query batch: the probe set built on the driver from the
    * version-resolved model ([[IvfPq.probeSet]]: no job for a local
    * query frame, nothing persisted), then a scan of ONLY the probed
    * cells' files — one manifest-pruned read per probed cell (each
    * file carries exact point `cell` bounds, so a file joins exactly
    * one cell's read). `asOfVersion` serves a TIME-TRAVELED index
    * with the model epoch in force at that version. An explicitly
    * passed `model` overrides resolution (callers asserting their own
    * epoch discipline — e.g. a spec comparing against a catalog index
    * coded with the same books).
    */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int,
      cfg: IvfPq.Config = IvfPq.Config(),
      model: Option[IvfPq.Model] = None,
      asOfVersion: Option[Long] = None): DataFrame = {
    require(cfg.pq.screenK >= k, "screenK must be >= k")
    val m = model.getOrElse(readModel(spark, path, asOfVersion))
    val (probes, cells) =
      IvfPq.probeSet(IvfPq.prepare(queries, idCol, vecCol, cfg), m, dim, cfg)
    // empty query batch → empty probe set → no cells to read
    val codedDocs =
      if (cells.isEmpty) CowTable.read(spark, path, asOfVersion).limit(0)
      else cells.map(c => CowTable.readOverlapping(spark, path,
          "cell", c.toString, c.toString, asOfVersion))
        .reduce(_ unionByName _)
    IvfPq.search(codedDocs, probes, k, cfg)
  }

  /** The model-bearing commit version in force at `asOf` (default:
    * head): the largest create/retrain commit ≤ asOf. One driver-side
    * log scan — metadata-sized, the same cost class as any snapshot
    * fold.
    *
    * The walk doubles as the EPOCH-CONSISTENCY gate: every append
    * commit it passes (all the appends between the resolved epoch and
    * asOf) carries the epoch its codes were produced under
    * ([[append]]'s stamp), and a stamp that is NOT the resolved epoch
    * means a retrain raced that append — its rows are coded under
    * retired books, and serving them decoded with the new books would
    * be silently wrong. That serve fails LOUDLY here instead
    * (pre-stamp legacy appends carry no stamp and pass — no worse than
    * before the stamp existed).
    */
  def modelEpoch(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Long = {
    val target = asOf.getOrElse(TxLog.latestVersion(spark, path))
    require(target >= 1, s"empty index table at $path")
    // walk BACKWARD and stop at the first model-bearing commit: a
    // serve pays O(appends since the last retrain) log reads, not
    // O(total history) — the bound that matters on a long-lived index
    // (v1 is create, so the walk always terminates with an answer)
    val stamped = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var v = target
    while (v >= 1) {
      val c = TxLog.commitAt(spark, path, v)
      if (c.op == "create" || c.op == "retrain") {
        stamped.find(_._2 != v).foreach { case (av, ae) =>
          sys.error(s"index $path: append commit v$av is coded under " +
            s"model epoch v$ae but the epoch in force at v$target is " +
            s"v$v — a retrain raced that append; re-run retrain (it " +
            "re-codes everything) or restore to the retrain version " +
            "and re-append (serving those rows would decode them " +
            "with the wrong codebooks)")
        }
        return v
      }
      c.meta.flatMap(_.get(EpochMetaKey)).foreach(e =>
        stamped += ((v, e.toLong)))
      v -= 1
    }
    sys.error(s"no model-bearing commit ≤ v$target at $path")
  }

  /** Content hash of the model pinned at `epoch` — from the hash
    * sidecar [[writeModel]] publishes beside the epoch's parquet, or
    * recomputed from the model itself for pre-sidecar epochs.
    */
  private[similarity] def epochModelHash(spark: SparkSession,
      path: String, epoch: Long): String = {
    val f = TxLog.fs(spark, path)
    val hp = new org.apache.hadoop.fs.Path(
      s"$path/_model/v$epoch/$HashFile")
    if (f.exists(hp)) TxLog.readString(f, hp).trim
    else IvfPq.modelHash(readModelAt(spark, path, epoch))
  }

  /** Name of the per-epoch hash sidecar (underscore-prefixed: Spark's
    * parquet reader treats it as hidden, so it can live inside the
    * epoch dir without corrupting the model read).
    */
  private val HashFile = "_GRAFT_MODEL_HASH"

  /** Reopen the pinned model for the epoch in force at `asOf`
    * (doubles round-trip parquet exactly — the [[IvfPq.readModel]]
    * bit-reproducibility contract). Falls back to the legacy flat
    * `_model` layout for epoch-1 indexes written before versioned
    * models; any other missing epoch dir fails loudly (the scaladoc's
    * crash contract) instead of silently decoding with the wrong
    * books.
    */
  def readModel(spark: SparkSession, path: String,
      asOf: Option[Long] = None): IvfPq.Model =
    readModelAt(spark, path, modelEpoch(spark, path, asOf))

  /** [[readModel]] with the epoch already resolved. */
  private def readModelAt(spark: SparkSession, path: String,
      epoch: Long): IvfPq.Model = {
    val f = TxLog.fs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/_model/v$epoch")
    val legacy = new org.apache.hadoop.fs.Path(s"$path/_model")
    val src =
      if (f.exists(dir)) dir.toString
      else if (epoch == 1L && f.exists(legacy) &&
          f.listStatus(legacy).exists(_.isFile)) legacy.toString
      else sys.error(s"index $path has no model for epoch v$epoch " +
        "(a retrain crashed between its commit and its model publish, " +
        "or the dir was removed) — re-run retrain to heal")
    IvfPq.modelFrom(spark.read.parquet(src))
  }

  private def writeModel(spark: SparkSession, path: String,
      model: IvfPq.Model, epoch: Long): Unit = {
    // Upgrade path: a pre-versioning index holds its model as parquet
    // files DIRECTLY under `_model`; writing `_model/v<epoch>` beside
    // them would corrupt the legacy fallback read (parquet leaf files
    // at two directory depths). Migrate the flat files into
    // `_model/v1` first — the epoch they are: the legacy index's
    // create commit.
    val f = TxLog.fs(spark, path)
    val flat = new org.apache.hadoop.fs.Path(s"$path/_model")
    if (f.exists(flat) && f.listStatus(flat).exists(_.isFile)) {
      val v1 = new org.apache.hadoop.fs.Path(s"$path/_model/v1")
      f.mkdirs(v1)
      f.listStatus(flat).filter(_.isFile).foreach { st =>
        f.rename(st.getPath,
          new org.apache.hadoop.fs.Path(v1, st.getPath.getName)); ()
      }
    }
    IvfPq.modelRows(spark, model)
      .write.mode("overwrite").parquet(s"$path/_model/v$epoch")
    // the epoch's content hash rides beside the parquet so append
    // validation is one tiny read, not a model re-open + re-hash
    TxLog.writeString(f,
      new org.apache.hadoop.fs.Path(s"$path/_model/v$epoch/$HashFile"),
      IvfPq.modelHash(model))
  }
}
