package graft.streaming

import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graft.PlanSurgery
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** The CowTable as a first-class streaming SINK —
  * `df.writeStream.format("graft.streaming.CowTableSinkProvider")
  * .option("path", table)` — completing the endpoint pair with
  * [[TableChangeFeed]] (the table as a SOURCE): a Structured Streaming
  * query can now read from one transactional table and write to
  * another with no foreachBatch glue.
  *
  * Semantics: Append output mode, one atomic table APPEND per
  * micro-batch, stamped `Txn(appId, batchId)` — a replayed batch
  * (sink retry, checkpoint recovery) sees the stamp and no-ops, so
  * the table holds each micro-batch exactly once. The table is
  * auto-created from the first batch's schema (options `statsCols`,
  * comma-separated, and `partitionBy` control its layout); keyed
  * MERGE/aggregate maintenance stays with [[TableSink]]'s
  * [[MicroBatch]] faces, which need key semantics no sink option can
  * express.
  *
  * '''Stamp identity''' (the shared-stamp hazard): `batchId`s are
  * scoped to a streaming CHECKPOINT, so the stamp's app id must be
  * too — two queries writing one table under a shared app id (or one
  * query restarted against a fresh checkpoint, resetting batchId to
  * 0) would see each other's stamps and silently DROP micro-batches
  * as replays. The default app id is therefore derived from
  * `(path, checkpointLocation)`: same checkpoint → replays no-op;
  * fresh checkpoint → fresh identity, the feed re-appends (the same
  * trade every txn-stamped table sink makes — deduplicate upstream or
  * pass an explicit stable `appId` option when the source replay is a
  * deterministic prefix). A NAMED query relying on the session-level
  * `spark.sql.streaming.checkpointLocation` conf derives the same
  * stable identity from `<confDir>/<queryName>` (Spark's own
  * checkpoint resolution). With no `appId`, no per-query
  * `checkpointLocation`, and no conf+queryName pair (an unnamed query
  * under the conf dir checkpoints into a RANDOM per-start subdir —
  * no stable identity), the sink refuses loudly rather than
  * defaulting to a path-shared namespace.
  */
class CowTableSinkProvider extends StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "cowtable"

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"cowtable sink is append-only (got $outputMode); keyed " +
        "maintenance is TableSink.mergeSink/aggSink")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "cowtable sink needs option 'path' (the table root)"))
    def canonical(ck: String): String = {
      // canonicalize: /tmp/ck, /tmp/ck/ and file:///tmp/ck are the
      // SAME checkpoint — a restart spelling it differently must not
      // mint a new stamp identity (the recovery batch would append
      // twice)
      val hp = new org.apache.hadoop.fs.Path(ck)
      val q = hp.getFileSystem(
        sqlContext.sparkSession.sessionState.newHadoopConf())
        .makeQualified(hp).toUri.toString
      s"cowtable-sink:$path@$q"
    }
    // The conf-resolved fallback (ADVICE r14): a NAMED query under
    // `spark.sql.streaming.checkpointLocation` has the stable
    // checkpoint `<confDir>/<queryName>` (Spark's own resolution) even
    // though no per-query option reaches createSink — refusing it
    // would fail previously-working queries that satisfy the
    // stamp-identity requirement. An UNNAMED query under the conf dir
    // gets a RANDOM per-start subdirectory — no stable identity, still
    // refused loudly.
    def confResolved: Option[String] = for {
      dir <- {
        val c = sqlContext.sparkSession.conf
          .get("spark.sql.streaming.checkpointLocation", null)
        Option(c).filter(_.nonEmpty)
      }
      name <- parameters.get("queryName").filter(_.nonEmpty)
    } yield canonical(
      new org.apache.hadoop.fs.Path(dir, name).toString)
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation").map(canonical))
      .orElse(confResolved)
      .getOrElse(throw new IllegalArgumentException(
        "cowtable sink needs a stamp identity: set option " +
          "'checkpointLocation' on the query (the default app id " +
          "derives from it), name the query under the session-level " +
          "spark.sql.streaming.checkpointLocation conf, or pass an " +
          "explicit 'appId' option — a path-shared (or per-start " +
          "random) stamp namespace would drop micro-batches across " +
          "queries/checkpoints (see CowTableSinkProvider doc)"))
    new CowTableStreamSink(path, appId,
      parameters.get("statsCols").map(_.split(",").map(_.trim).toSeq),
      parameters.get("partitionBy").map(_.split(",").map(_.trim).toSeq)
        .getOrElse(Seq.empty))
  }
}

class CowTableStreamSink(path: String, appId: String,
    statsCols: Option[Seq[String]],
    partitionBy: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = PlanSurgery.asBatchFrame(data)
    if (TxLog.latestVersion(spark, path) == 0) {
      // auto-create with the layout options; the first batch's rows
      // land through the stamped append below so a replayed batch 0
      // can't double-create data. A RIVAL creator (second query on
      // the same fresh path) losing this race is fine — the append
      // below works against whichever create won.
      try CowTable.create(spark, path, batch.limit(0),
        statsCols.getOrElse(batch.columns.toSeq.take(1)), partitionBy)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("already exists") => ()
      }
    }
    CowTable.append(spark, path, batch,
      txn = Some(TxLog.Txn(appId, batchId)))
  }
}
