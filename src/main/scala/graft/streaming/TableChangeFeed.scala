package graft.streaming

import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming face #34: a [[CowTable]] as a streaming SOURCE — the
  * change feed every log-based table format grew because users asked
  * (Delta CDF, Iceberg incremental reads). The table's own commit log
  * IS the offset sequence: offset v = "everything through commit v",
  * so a micro-batch is the union of [[CowTable.changesAt]] over the
  * commit range (start, end] — commit-granular, replayable from any
  * retained version, and EXACTLY what the batch API answers (the spec
  * pins streamed ≡ concatenated `changesAt`). With this face a table
  * drives its own downstream consumers (TableCuration / AggTable /
  * ProfileMonitor) instead of being fed by an external stream beside
  * the writes.
  *
  * Rows carry two metadata columns: `_commit_version` (the commit that
  * added them) and `_commit_op` (create/append/merge/...). For merge
  * commits the adds include rewritten SURVIVORS of touched files (the
  * documented [[CowTable.changesAt]] contract — file-layout dependent,
  * which is why merge-fed gates pin contents through consumers, while
  * append-only feeds are exactly the appended rows). Consumers that
  * need pure deltas filter on op or key their fold idempotently (the
  * [[TableSink]] stamp discipline composes).
  *
  * Scale shape: getOffset is one driver-side log listing (metadata);
  * a micro-batch plans only the files its commits ADDED — O(batch), at
  * full scan parallelism, never a table rescan. The offset is the
  * commit version, so checkpoint recovery needs those versions' files
  * retained: [[CowTable.vacuum]]'s `retainVersions` must cover the
  * deepest restart window (the same retention contract as time
  * travel).
  *
  * Schema is pinned at stream start (Structured Streaming requires a
  * fixed schema per query); every batch conforms to it by PHYSICAL
  * column name (the column-mapping indirection), so the feed is
  * RENAME-TRANSPARENT — a catch-up across a rename surfaces the
  * pinned logical names with the real values. Pre-evolution commits
  * surface later columns as typed nulls, exactly like the batch read.
  * A column ADDED mid-stream cannot surface until restart: by default
  * it is silently dropped (documented Delta-CDF behavior); with
  * `failOnSchemaEvolution = true` the stream instead FAILS at the
  * first commit carrying data the pinned schema cannot represent —
  * the minReader discipline applied to schema, so consumers choose a
  * restart over silent column loss.
  */
object TableChangeFeed {

  val VersionCol = "_commit_version"
  val OpCol = "_commit_op"

  /** The stream schema: table data columns + commit metadata (file
    * mode: op tag; cdc mode: [[graft.tables.CowTable.ChangeTypeCol]]).
    */
  def changeSchema(dataDDL: String, cdc: Boolean = false): StructType = {
    val data = StructType.fromDDL(dataDDL)
    StructType(data.fields ++ Seq(
      StructField(VersionCol, LongType, nullable = false),
      StructField(if (cdc) graft.tables.CowTable.ChangeTypeCol else OpCol,
        StringType, nullable = false)))
  }

  /** `readStream` face: commit-granular changes of the table at `path`
    * from `startingVersion` (inclusive) onward, including commits that
    * already exist when the stream starts (catch-up), then every new
    * commit as it lands. The table schema is pinned HERE — analysis
    * time — and threaded to the source through the options, so an
    * additive evolution landing between `load()` and query start
    * cannot desync the relation's schema from the batches' (columns
    * evolved after this call surface on the next stream start).
    */
  def readChanges(spark: SparkSession, path: String,
      startingVersion: Long = 1L,
      maxVersionsPerTrigger: Option[Int] = None,
      where: Option[String] = None,
      failOnSchemaEvolution: Boolean = false,
      startingTimestamp: Option[Long] = None): DataFrame =
    reader(spark, path,
      startingTimestamp.fold(startingVersion)(
        TxLog.firstVersionAtOrAfter(spark, path, _)),
      maxVersionsPerTrigger, cdc = false, where, failOnSchemaEvolution)

  /** Row-level CDC stream: create/append commits arrive as `insert`
    * rows; CDC-enabled merge/delete/update commits arrive as their
    * EXACT change rows ([[graft.tables.CowTable.changesCdcAt]] —
    * pre/postimages, delete preimages); layout-only commits
    * (compact/optimize) correctly emit NOTHING. A row-changing commit
    * written WITHOUT `cdc = true` (or a restore) cannot be represented
    * and fails the stream loudly — silence there would desync every
    * downstream replica. This is the feed [[TableSink.replicaSink]]
    * folds into an exact copy.
    *
    * '''`where` semantics''': with `where` alone, the feed is a plain
    * row filter — right for append-dominant consumers (metrics,
    * routing, selective indexing) but NOT sufficient to drive a
    * FILTERED REPLICA: an update that moves a row OUT of the predicate
    * ships only its (filtered-away) postimage, so the stale row would
    * survive downstream. Passing `whereKeys` (the table's merge keys)
    * turns on the SCOPED-REPLICA mode (round 15, the round-14
    * horizon): update preimages inside the predicate whose paired
    * postimage LEFT it are re-shipped as `delete` markers (keyed
    * pre/post pairing — change rows carry no pair id), so a replica
    * can consume the scoped feed directly and its volume tracks the
    * SLICE's change rate, not the table's. Entries INTO the predicate
    * need no special casing — the in-scope postimage upserts.
    */
  def readCdc(spark: SparkSession, path: String,
      startingVersion: Long = 1L,
      maxVersionsPerTrigger: Option[Int] = None,
      where: Option[String] = None,
      failOnSchemaEvolution: Boolean = false,
      startingTimestamp: Option[Long] = None,
      whereKeys: Seq[String] = Seq.empty): DataFrame = {
    require(whereKeys.isEmpty || where.isDefined,
      "whereKeys (scoped-replica mode) needs a `where` predicate")
    reader(spark, path,
      startingTimestamp.fold(startingVersion)(
        TxLog.firstVersionAtOrAfter(spark, path, _)),
      maxVersionsPerTrigger, cdc = true, where, failOnSchemaEvolution,
      whereKeys)
  }

  private def reader(spark: SparkSession, path: String,
      startingVersion: Long, maxVersionsPerTrigger: Option[Int],
      cdc: Boolean, where: Option[String] = None,
      failOnSchemaEvolution: Boolean = false,
      whereKeys: Seq[String] = Seq.empty): DataFrame = {
    val snap = TxLog.snapshotPlanned(spark, path).meta
    val r0 = spark.readStream
      .format("cowtable-changes")
      .option("path", path)
      .option("startingVersion", startingVersion.toString)
      .option("schemaDDL", snap.schemaDDL)
      .option("columnMap", TableChangeFeedProvider.encodeMap(
        snap.columnMap.getOrElse(Map.empty)))
      .option("pinnedVersion", snap.version.toString)
      .option("cdc", cdc.toString)
      .option("failOnSchemaEvolution", failOnSchemaEvolution.toString)
    val r1 = where.fold(r0)(w => r0.option("where", w))
    val r2 =
      if (whereKeys.isEmpty) r1
      else r1.option("whereKeys", whereKeys.mkString(","))
    maxVersionsPerTrigger
      .fold(r2)(n => r2.option("maxVersionsPerTrigger", n.toString))
      .load()
  }
}

/** DSv1 stream source provider (`format(<this class name>)` or the
  * `cowtable-changes` short name where service registration applies).
  */
object TableChangeFeedProvider {
  /** Thread a column map through DSv1 string options (json4s). */
  def encodeMap(m: Map[String, String]): String =
    org.json4s.jackson.Serialization.write(m)(
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints))
  def decodeMap(s: String): Map[String, String] =
    org.json4s.jackson.JsonMethods.parse(s)
      .extract[Map[String, String]](
        org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints),
        implicitly[Manifest[Map[String, String]]])
}

class TableChangeFeedProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "cowtable-changes"

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "cowtable-changes needs option 'path' (the table root)"))

  /** Pinned DDL when threaded by [[TableChangeFeed.readChanges]] (the
    * analysis-time snapshot); a raw `format(...)` user without it gets
    * the current snapshot — resolved identically in [[sourceSchema]]
    * and [[createSource]] either way.
    */
  private def dataDDL(sqlContext: SQLContext,
      parameters: Map[String, String]): String =
    parameters.getOrElse("schemaDDL",
      TxLog.snapshotPlanned(sqlContext.sparkSession,
        tablePath(parameters)).meta.schemaDDL)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      TableChangeFeed.changeSchema(dataDDL(sqlContext, parameters),
        parameters.get("cdc").exists(_.toBoolean)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // raw format(...) users without the threaded options fall back to
    // ONE snapshot for (schema, map, version) — three separate log
    // reads could straddle a rename commit and pin an inconsistent
    // triple (a logical name the pinned map can't resolve, silently
    // null-filling that column forever)
    lazy val fallback = TxLog.snapshotPlanned(sqlContext.sparkSession,
      tablePath(parameters)).meta
    new TableChangeSource(sqlContext, tablePath(parameters),
      parameters.getOrElse("startingVersion", "1").toLong,
      parameters.getOrElse("schemaDDL", fallback.schemaDDL),
      parameters.get("maxVersionsPerTrigger").map(_.toInt),
      parameters.get("cdc").exists(_.toBoolean),
      parameters.get("where"),
      parameters.get("columnMap")
        .map(TableChangeFeedProvider.decodeMap)
        .getOrElse(fallback.columnMap.getOrElse(Map.empty)),
      parameters.get("failOnSchemaEvolution").exists(_.toBoolean),
      parameters.get("pinnedVersion").map(_.toLong)
        .getOrElse(fallback.version),
      parameters.get("whereKeys")
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty))
  }
}

/** The source itself: offsets are commit versions (a [[LongOffset]] of
  * the latest version); `getBatch(start, end)` unions `changesAt` over
  * (start, end] conformed to the pinned stream schema.
  */
class TableChangeSource(sqlContext: SQLContext, path: String,
    startingVersion: Long, dataDDL: String,
    maxVersionsPerTrigger: Option[Int] = None,
    cdc: Boolean = false,
    where: Option[String] = None,
    pinnedMap: Map[String, String] = Map.empty,
    failOnSchemaEvolution: Boolean = false,
    pinnedVersion: Long = Long.MaxValue,
    whereKeys: Seq[String] = Seq.empty) extends Source {
  require(startingVersion >= 1, s"startingVersion >= 1, got $startingVersion")
  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"maxVersionsPerTrigger >= 1, got $maxVersionsPerTrigger")

  private val spark = sqlContext.sparkSession
  // Pinned at analysis time (threaded through the options): the fixed
  // schema Structured Streaming requires. Later additive evolutions
  // surface after a restart.
  override val schema: StructType =
    TableChangeFeed.changeSchema(dataDDL, cdc)
  private val dataFields =
    schema.fields.dropRight(2) // minus the two metadata columns

  // Highest version already handed out through getBatch — what the
  // rate cap counts FROM. Recovery batches (the restart replay of the
  // checkpointed range) advance it before the first live getOffset.
  @volatile private var dealt: Long = startingVersion - 1

  /** Rate-limited offer: at most `maxVersionsPerTrigger` commits per
    * micro-batch (the Delta `maxFilesPerTrigger` analog — a catch-up
    * over a deep log proceeds in bounded batches instead of one
    * mega-batch unioning every commit).
    */
  override def getOffset: Option[V1Offset] = {
    val latest = TxLog.latestVersion(spark, path)
    val capped = maxVersionsPerTrigger
      .fold(latest)(n => math.min(latest, math.max(dealt, startingVersion - 1) + n))
    if (capped < startingVersion) None else Some(LongOffset(capped))
  }

  private def version(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.toLong // SerializedOffset after a restart
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(version(_) + 1).getOrElse(startingVersion)
    val to = version(end)
    if (to > dealt) dealt = to
    val pinnedDataDDL = StructType(dataFields).toDDL
    val pinnedPhys = dataFields.map(f =>
      pinnedMap.getOrElse(f.name, f.name)).toSet
    val ct = graft.tables.CowTable.ChangeTypeCol
    val frames = (from to to).flatMap { v =>
      val c = TxLog.commitAt(spark, path, v)
      // Schema-evolution guard: a commit restating the DDL may carry
      // data the PINNED schema cannot represent (a column added after
      // stream start — compared by PHYSICAL name, so renames, which
      // the pinned read surfaces transparently, never trip it). Only
      // commits ABOVE the pinned version can trip it: everything at
      // or below the pin is HISTORY the pinned schema already
      // reflects (a column dropped before the pin is absent from
      // pinnedPhys by design, not by loss — failing a catch-up over
      // it would give un-followable "restart" advice, since a restart
      // re-pins the same head schema). By default post-pin evolution
      // data silently drops until restart (documented); with
      // failOnSchemaEvolution the stream dies LOUDLY instead.
      val vSnapForGuard: Option[graft.tables.TxLog.Snapshot] =
        c.schemaDDL.filter(_ =>
          failOnSchemaEvolution && v > pinnedVersion).map { ddl =>
        val vSnap = TxLog.snapshotPlanned(spark, path, Some(v)).meta
        val ddlPhys = StructType.fromDDL(ddl).fieldNames
          .map(vSnap.physName).toSet
        val extra = StructType.fromDDL(ddl).fieldNames
          .filterNot(n => pinnedPhys.contains(vSnap.physName(n)))
        if (extra.nonEmpty) sys.error(
          s"commit $v of $path evolved column(s) ${extra.mkString(", ")} " +
            "after this stream pinned its schema — restart the stream " +
            "to pick them up (failOnSchemaEvolution = true; the default " +
            "drops post-evolution columns silently until restart)")
        // the other direction of silent loss: a pinned column DROPPED
        // post-pin would flip to typed nulls mid-stream with no signal
        // — loud mode fails on that too (renames keep their physical
        // name and pass)
        val removed = pinnedPhys -- ddlPhys
        if (removed.nonEmpty) sys.error(
          s"commit $v of $path dropped pinned column(s) (physical " +
            s"${removed.mkString(", ")}) after this stream pinned its " +
            "schema — the feed would silently null them; restart (or " +
            "run without failOnSchemaEvolution to accept nulls)")
        vSnap
      }
      // Non-CDC reads conform to the pinned schema by PHYSICAL name
      // (changesAtPinned): pre-evolution files read later columns as
      // typed nulls; a rename between commit v and stream start is
      // transparent (same physical column). The selective feed prunes
      // each commit's add files by zone map BEFORE any scan.
      def changesOf(v: Long): DataFrame =
        CowTable.changesAtPinned(spark, path, v, pinnedDataDDL,
          pinnedMap, where.map(expr))
      // CDC sidecars conform to the pinned schema in CowTable
      // (changesCdcAtPinned): round-16+ sidecars carry PHYSICAL names
      // and read name-clipped under the pinned physical schema — exact
      // across renames AND nested add/drop shape changes; legacy
      // sidecars (commit-time logical names) conform through the
      // top-level physical identity with the positional nested cast
      // (review r15), exact across renames.
      val rows: Option[DataFrame] =
        if (!cdc) {
          Some(changesOf(v)
            .withColumn(TableChangeFeed.OpCol, lit(c.op)))
        } else if (c.cdcDir.isDefined) {
          // conform FIRST, filter after: the `where` predicate speaks
          // the PINNED logical names, while the sidecar stores the
          // commit-time names — filtering the raw frame would break
          // (or silently mis-evaluate) across a rename
          val vSnap = vSnapForGuard.getOrElse(
            TxLog.snapshotPlanned(spark, path, Some(v)).meta)
          val conformed = CowTable.changesCdcAtPinned(spark, path, v,
            pinnedDataDDL, pinnedMap, vSnap)
          Some(where.fold(conformed) { w =>
            val hit = coalesce(expr(w), lit(false))
            if (whereKeys.isEmpty) conformed.filter(expr(w))
            else {
              // SCOPED-REPLICA mode: a preimage inside the predicate
              // whose keyed postimage LEFT it becomes a DELETE marker
              // — without it the replica's stale row survives (the
              // documented r14 hole). Keys pair pre/post within the
              // commit (merge batches unique per key); NULL predicate
              // results count as outside, SQL filter semantics.
              val exitKeys = conformed
                .filter(col(ct) === "update_postimage" && !hit)
                .select(whereKeys.map(col): _*)
              val exits = conformed
                .filter(col(ct) === "update_preimage" && hit)
                .join(exitKeys, whereKeys, "left_semi")
                .withColumn(ct, lit("delete"))
              conformed.filter(hit).unionByName(exits)
            }
          })
        } else c.op match {
          case "create" | "append" | "clone" | "deep_clone" =>
            // pure adds: the commit's rows ARE inserts (a clone's
            // external or copied references included — the fork's own
            // history starts with its full contents; changesAtPinned
            // reads sidecar-committed adds too)
            Some(changesOf(v).withColumn(ct, lit("insert")))
          case "compact" | "optimize" =>
            None // layout-only: contents unchanged, nothing to emit
          case _ if !TxLog.commitHasAdds(c) && c.removes.isEmpty =>
            None // metadata-only (constraint/rename/drop, no-op): silent
          case other => sys.error(
            s"commit $v ($other) of $path carries no CDC — run " +
              "row-changing ops with cdc = true (or restart replicas " +
              "after a restore); emitting nothing would silently " +
              "desync every downstream consumer")
        }
      rows.map(_.withColumn(TableChangeFeed.VersionCol, lit(v))
        .select(schema.fieldNames.map(col(_)).toSeq: _*))
    }
    // getBatch must return a STREAMING-tagged frame (MicroBatchExecution
    // asserts it) — same wrap Spark's own FileStreamSource uses.
    org.apache.spark.sql.graft.PlanSurgery.asStreamingFrame(
      frames.reduceOption(_.unionByName(_)).getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)))
  }

  override def stop(): Unit = ()
}
