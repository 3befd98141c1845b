package graft.tables

import graft.queries.Tables
import graft.tables.TxLog.{AddFile, ColStats, Commit, Snapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Copy-on-write transactional table over plain parquet + [[TxLog]] —
  * the table-format sink a production deployment of the engine's
  * keyed-maintenance operators ([[graft.operators.Scd2]],
  * [[graft.operators.AggMerge]]) writes into. Supports atomic create /
  * append / MERGE (upsert + delete) / compaction / vacuum, snapshot
  * reads at any retained version (time travel), and zone-map file
  * pruning on merge.
  *
  * '''Why copy-on-write''': MERGE rewrites only the files that contain
  * a matched key and leaves every other file untouched, so the unit of
  * write amplification is the FILE, not the table. With updates
  * clustered on the stats columns (e.g. ingest date or key ranges —
  * [[graft.operators.ZOrder]] layouts compose here), the zone maps
  * prune the candidate set to the files whose min/max actually overlap
  * the batch's key range; a merge touching 0.1% of keys rewrites ~0.1%
  * of a well-laid-out 100 TB table. Reads need no merge-on-read
  * reconciliation — a snapshot IS a plain parquet file list, at full
  * scan parallelism with all pushdown intact.
  *
  * '''Merge semantics''' (one batch): full-row upsert with optional
  * delete flag — `WHEN MATCHED AND del THEN DELETE / WHEN MATCHED THEN
  * UPDATE SET * / WHEN NOT MATCHED AND NOT del THEN INSERT *`. Update
  * batches must be unique per key (checked with one cheap aggregate;
  * disable via `checkUniqueKeys` for pre-deduped production feeds).
  *
  * '''Determinism''': table CONTENTS after any operation sequence are a
  * pure function of the input frames — file layout (how rows pack into
  * files) varies with partitioning, but every read returns the same
  * multiset, which is exactly what the `table_*` oracle gates pin
  * end-to-end through a real on-disk create→merge→read round trip.
  *
  * '''Concurrency''': operations are optimistic transactions — compute
  * against snapshot v, attempt to publish v+1 via [[TxLog.tryCommit]]'s
  * rename-CAS, and on losing the race re-read and REPLAY the operation
  * against the winner's snapshot (bounded retries). Appends from
  * disjoint writers thus serialize without coordination; concurrent
  * merges serialize by replay (the loser re-resolves its touched-file
  * set, so a file rewritten by the winner is never removed twice).
  */
object CowTable {

  /** Manifest-derived merge accounting: `addedRows`/`removedRows` are
    * the rewritten-file row deltas (free from the log — no extra scan),
    * so `removedRows - addedRows + <inserts>` = net deletes.
    */
  final case class MergeMetrics(version: Long, candidateFiles: Long,
      touchedFiles: Long, prunedFiles: Long, addedRows: Long,
      removedRows: Long)

  private val MaxRetries = 10

  /** Create a new table at `path` from `df`. `statsCols` are the
    * columns zone-mapped in the manifest (typically the merge keys);
    * long/double/string columns participate in pruning, others are
    * recorded as unprunable. `partitionBy` columns get hive-style
    * directory layout (`data/<op>/col=value/part-*.parquet`); their
    * per-file constant value rides the same stats map, so partition
    * pruning IS zone-map pruning with exact (point) bounds — one
    * mechanism, no separate partition-filter machinery.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String] = Seq.empty): Unit = {
    require(TxLog.latestVersion(spark, path) == 0,
      s"table already exists at $path")
    require(partitionBy.forall(df.columns.contains),
      s"partition columns not in frame: ${partitionBy.filterNot(df.columns.contains)}")
    val allStats = (statsCols ++ partitionBy.filterNot(statsCols.contains))
    val adds = writeFiles(spark, path, df, allStats, partitionBy)
    val c = Commit(1L, "create", adds, Seq.empty,
      Some(df.schema.toDDL), Some(allStats), None,
      if (partitionBy.isEmpty) None else Some(partitionBy))
    require(TxLog.tryCommit(spark, path, c),
      s"concurrent create at $path")
  }

  /** Atomically append `df` (no key semantics — a blind add). A `txn`
    * stamp makes the append idempotent: a replay whose batch version is
    * already stamped in the log is skipped ([[TxLog.Txn]]).
    * `mergeSchema` lets new columns in `df` evolve the table schema
    * additively ([[evolvedSchema]]); pre-evolution files read them as
    * null, and pre-evolution VERSIONS keep their old schema under time
    * travel (the DDL folds with the log). `meta` stamps free-form
    * domain annotations onto the commit ([[TxLog.Commit.meta]]).
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
      txn: Option[TxLog.Txn] = None, mergeSchema: Boolean = false,
      meta: Option[Map[String, String]] = None): Unit = {
    val snap0 = TxLog.snapshotPlanned(spark, path).meta
    if (alreadyApplied(snap0, txn)) return
    val ev0 = evolvedSchema(snap0, df, mergeSchema, Set.empty)
    val cols = ev0.cols
    require(cols.forall(df.columns.contains),
      s"append frame missing columns: ${cols.filterNot(df.columns.contains)}")
    // Files are snapshot-independent for an append (unlike a merge),
    // so write ONCE and retry only the cheap version CAS — under
    // contention a loser re-reads the log, not the data. The DDL is
    // recomputed per attempt so a concurrent evolution can't be
    // regressed (if the rival added our columns first, ours folds to
    // a no-op DDL).
    val written = df.select(cols.map(col): _*)
    // physical names are FIXED at write time: the snapshot's map plus
    // this append's fresh assignments (re-adds of retired names)
    val writeMap = snap0.columnMap.getOrElse(Map.empty) ++ ev0.fresh
    val adds = writeFiles(spark, path, written,
      snap0.statsCols, snap0.partitionCols.getOrElse(Seq.empty),
      snap0.checkConstraints, writeMap)
    // Constraints validated so far: snap0's, via writeFiles above. A
    // concurrent addConstraint landing between snap0 and our winning
    // CAS is a conflicting METADATA commit — each retry re-reads the
    // snapshot, and any (name, expr) pair we haven't validated yet
    // must re-validate the published-but-uncommitted adds BEFORE the
    // commit, or a violating append publishes into a constrained
    // table (ADVICE r12; merge/deleteWhere/updateWhere restage per
    // retry and re-validate naturally — only append reuses files).
    var validated = snap0.checkConstraints.toSet
    retrying(s"append to $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      if (alreadyApplied(snap, txn)) true
      else {
        val fresh = snap.checkConstraints.filterNot(validated)
        if (fresh.nonEmpty) {
          val addsDf = readAddsAs(spark, path, written.schema, adds,
            writeMap)
          fresh.foreach { case (name, e) =>
            firstViolation(addsDf, e).foreach { row =>
              // unreferenced — reclaim eagerly instead of waiting for
              // a vacuum horizon
              val f = TxLog.fs(spark, path)
              adds.foreach(a =>
                try { f.delete(new Path(path, a.path), false); () }
                catch { case _: java.io.IOException => () })
              sys.error(s"CHECK constraint '$name' ($e) was added " +
                s"concurrently and this append violates it: $row")
            }
          }
          validated ++= fresh
        }
        val ev = evolvedSchema(snap, df, mergeSchema, Set.empty)
        // The staged files are PHYSICAL-schema-fixed: every column we
        // wrote must still exist under the SAME logical→physical
        // binding in the current snapshot, or publishing them is
        // wrong either way — a concurrent dropColumn would make our
        // re-adding DDL resurrect the dropped bytes (our files carry
        // the OLD physical name, not a fresh one), and a concurrent
        // rename would strand our logical column names. Fail loudly;
        // the caller re-runs the append against the new schema.
        val curFields = StructType.fromDDL(snap.schemaDDL).fieldNames.toSet
        val claimed = claimedPhys(snap)
        written.columns.foreach { c =>
          val pc = writeMap.getOrElse(c, c)
          // a column we wrote must either still exist under the SAME
          // logical→physical binding, or be one THIS append is adding
          // (its physical name unclaimed by any other column, live or
          // retired) — otherwise a concurrent rename/drop re-bound it
          // and publishing the staged files would mis-read (a dropped
          // column's old bytes would resurrect under our re-add)
          val ok =
            if (curFields.contains(c)) snap.physName(c) == pc
            else !claimed.contains(pc)
          require(ok,
            s"column '$c' was renamed, dropped, or re-bound " +
              "concurrently with this append — re-run the append " +
              "against the current schema (publishing the staged " +
              "files would mis-bind their physical columns)")
        }
        // stamp the FULL map only when this commit introduces fresh
        // physical bindings — computed against the CURRENT snapshot so
        // a concurrent rename's map is extended, never clobbered
        val mapStamp =
          if (ev0.fresh.isEmpty) None
          else Some(snap.columnMap.getOrElse(Map.empty) ++ ev0.fresh)
        TxLog.tryCommit(spark, path,
          Commit(snap.version + 1, "append", adds, Seq.empty, ev.ddl,
            None, txn, columnMap = mapStamp, meta = meta))
      }
    }
  }

  /** Snapshot read; `asOfVersion` time-travels to a retained version.
    * Schema is pinned from the log, so a read is stable even while a
    * concurrent commit lands.
    *
    * Sidecar-backed manifests (round 16) read through a
    * manifest-backed `FileIndex`
    * ([[org.apache.spark.sql.graft.ManifestFileIndex]]): the driver
    * holds one lean (location, bytes) pair per file — what Spark's own
    * scan planning holds for any file source — instead of the decoded
    * AddFile manifest (~300 MB at 1M entries), closing the last
    * full-read driver ceiling. Inline manifests keep the explicit
    * file-list read (no job launch to plan 50 files).
    */
  def read(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val psnap = TxLog.snapshotPlanned(spark, path, asOfVersion)
    readFull(spark, path, psnap)
  }

  /** FULL-scan read of a planned snapshot: explicit file list for
    * inline manifests, the manifest-backed FileIndex for sidecar ones.
    */
  private def readFull(spark: SparkSession, path: String,
      psnap: TxLog.PlannedSnapshot,
      tagFileName: Option[String] = None): DataFrame =
    if (!psnap.isDistributed)
      readGrouped(spark, path,
        StructType.fromDDL(psnap.meta.schemaDDL), psnap.meta.files,
        psnap.meta.columnMap.getOrElse(Map.empty), tagFileName)
    else readViaIndex(spark, path, psnap, tagFileName)

  /** The FileIndex form of the full-snapshot read: one relation over ALL
    * live files (partition values ride the index — no per-data-root
    * basePath grouping needed, so clone-external and own entries
    * coexist), read under the PHYSICAL schema and conformed to logical
    * names exactly like [[readGrouped]]. The listing provider is lazy
    * and degrade-protected ([[ManifestPlan.leanListing]]).
    */
  private def readViaIndex(spark: SparkSession, path: String,
      psnap: TxLog.PlannedSnapshot,
      tagFileName: Option[String] = None): DataFrame = {
    val snap = psnap.meta
    val schema = StructType.fromDDL(snap.schemaDDL)
    val colMap = snap.columnMap.getOrElse(Map.empty)
    val physFields = schema.fields.map(physField(_, colMap, ""))
    val partPhys = snap.partitionCols.getOrElse(Seq.empty).toSet
    // NULLABLE like the explicit-list path surfaces (spark.read.schema
    // relaxes file-source schemas) — the two full-read forms must be
    // schema-identical, spec-pinned
    def relax(fs: Array[StructField]) = StructType(fs.map(f =>
      f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    val physPart = relax(physFields.filter(f => partPhys.contains(f.name)))
    val physData = relax(physFields.filterNot(f =>
      partPhys.contains(f.name)))
    // Path.toString, NOT toUri.toString: the location strings must be
    // RAW (a space in a table dir or partition value stays a space) —
    // new Path(loc) round-trips that form, while a URI-encoded root
    // concatenated with raw hive segments mixes encodings (review r16)
    val rootQ = TxLog.fs(spark, path).makeQualified(new Path(path))
      .toString.stripSuffix("/")
    // pushed data filters prune files by zone map at plan time: the
    // filters speak PHYSICAL names (the relation's output), and the
    // stats keys are physical too — identity mapping here
    val idx = new org.apache.spark.sql.graft.ManifestFileIndex(
      new Path(rootQ), physPart,
      () => ManifestPlan.leanListing(spark, path, psnap, rootQ),
      filters => ManifestPlan.rangesPredicate(
        org.apache.spark.sql.graft.ColumnBridge
          .simpleRangesResolved(filters), identity)
        .map(pred =>
          ManifestPlan.leanListing(spark, path, psnap, rootQ,
            pruneWith = Some(pred))))
    val raw0 = org.apache.spark.sql.graft.ManifestRelation.frame(spark,
      idx, physData, physPart)
    val raw = tagFileName.fold(raw0)(n =>
      raw0.withColumn(n, input_file_name()))
    // protocol 6 is stamped by every dv-attaching commit and the fold
    // keeps the max, so tables below it PROVABLY carry no vectors —
    // the common case pays no ref-listing job (review r16)
    val refs =
      if (!snap.minReader.exists(_ >= 6)) Seq.empty[String]
      else ManifestPlan.dvRefs(spark, path, psnap)
    applyDv(spark, path, refs, raw)
      .select(conformCols(physFields.toSeq, schema.fields.toSeq,
        pf => s"`${pf.name.replace("`", "``")}`") ++
        tagFileName.map(col).toSeq: _*)
  }

  /** `AS OF TIMESTAMP` snapshot read: resolves the latest version
    * committed at or before `tsMillis` ([[TxLog.versionAtTimestamp]] —
    * audit-stamp resolution, loud below the first commit) and reads
    * it. The timestamp face of [[read]]'s `asOfVersion`; composes with
    * any version-taking read via the resolver directly.
    */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path,
      Some(TxLog.versionAtTimestamp(spark, path, tsMillis)))

  /** Stats-pruned read: only the files whose zone map on `column` may
    * overlap `[lo, hi]` (string-encoded bounds, [[TxLog.ColStats]]
    * comparison rules). File-granular — rows OUTSIDE the range can
    * appear (callers filter); rows inside it cannot be missed. This is
    * the manifest-level pushdown a key-clustered layout earns: a
    * narrow-range read of a 100 TB table plans only the covering
    * files, before any parquet footer is opened.
    */
  def readOverlapping(spark: SparkSession, path: String, column: String,
      lo: String, hi: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val psnap = TxLog.snapshotPlanned(spark, path, asOfVersion)
    val snap = psnap.meta
    val ph = snap.physName(column)
    // sidecar-backed manifests prune DISTRIBUTED and collect only the
    // survivors (ManifestPlan — the 10⁶-file path); inline manifests
    // stay on the in-memory filter (no job launch for 50 files)
    val sel =
      if (!psnap.isDistributed)
        snap.files.filter(_.stats.get(ph).forall(_.mayOverlap(lo, hi)))
      else ManifestPlan.collectSurvivors(spark, path, psnap,
        ManifestPlan.mayOverlap(ph, lo, hi))
    readFiles(spark, path, snap, sel)
  }

  /** Point-SET pruned read: only the files whose zone map on `column`
    * may contain AT LEAST ONE of `values` (string-encoded,
    * [[TxLog.ColStats]] comparison rules) — the IN-list sibling of
    * [[readOverlapping]], and the manifest-level scan an inverted
    * index serves queries from: a handful of query terms against a
    * term-clustered postings table plans O(covering files), each file
    * exactly once (per-value readOverlapping unions would read a file
    * covering two values twice and double its rows). File-granular
    * like readOverlapping: rows outside the set can appear (callers
    * filter/join); rows inside it cannot be missed.
    */
  def readMatchingAny(spark: SparkSession, path: String, column: String,
      values: Seq[String],
      asOfVersion: Option[Long] = None): DataFrame = {
    val psnap = TxLog.snapshotPlanned(spark, path, asOfVersion)
    val snap = psnap.meta
    val ph = snap.physName(column)
    // sidecar-backed: the point-set test runs as a plan over the
    // manifest sidecar, only covering entries reach the driver (wide
    // point sets switch to a broadcast semi-join — collectSurvivorsAnyOf)
    if (psnap.isDistributed)
      return readFiles(spark, path, snap,
        ManifestPlan.collectSurvivorsAnyOf(spark, path, psnap, ph,
          values))
    readFiles(spark, path, snap,
      matchingAnyDriver(snap.files, ph, values))
  }

  /** The point-set file prune of [[readMatchingAny]] (driver form).
    * Cost is O(files · log values), not O(files · values): a
    * file matches iff SOME value lands in its [min, max], answered by
    * one binary search over a PER-KIND pre-sorted typed value array —
    * at 10⁵ files × 10³ values the naive per-file linear probe is
    * 10⁸ comparisons each re-decoding the stats strings. Each kind
    * sorts under ITS OWN order (numeric for long/double, UTF-8 bytes
    * for string — a lexicographic sort of numeric encodings would
    * break the search); values that don't parse as the kind can't
    * equal any of the file's values and drop out; NaN doubles keep
    * the conservative always-match answer ColStats gives them.
    * Unknown/opaque kinds keep the conservative never-prune answer.
    */
  private def matchingAnyDriver(files: Seq[AddFile], ph: String,
      values: Seq[String]): Seq[AddFile] = {
    def firstGeq[T](arr: IndexedSeq[T], lo0: T)(
        implicit ord: Ordering[T]): Int = {
      var lo = 0; var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.gteq(arr(mid), lo0)) hi = mid else lo = mid + 1
      }
      lo
    }
    def anyIn[T](arr: IndexedSeq[T], mn: T, mx: T)(
        implicit ord: Ordering[T]): Boolean = {
      val i = firstGeq(arr, mn)
      i < arr.length && ord.lteq(arr(i), mx)
    }
    lazy val longVals = values
      .flatMap(v => scala.util.Try(v.toLong).toOption).sorted.toIndexedSeq
    lazy val dblVals = values
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .filterNot(_.isNaN).sorted.toIndexedSeq
    lazy val hasNaN = values
      .exists(v => scala.util.Try(v.toDouble).toOption.exists(_.isNaN))
    val utf8Ord: Ordering[String] =
      (a: String, b: String) => TxLog.utf8Compare(a, b)
    lazy val strVals = values.sorted(utf8Ord).toIndexedSeq
    def anyInRange(s: ColStats): Boolean = s.kind match {
      case "long" =>
        anyIn(longVals, s.min.toLong, s.max.toLong)
      case "double" =>
        val (mn, mx) = (s.min.toDouble, s.max.toDouble)
        mn.isNaN || mx.isNaN || hasNaN || anyIn(dblVals, mn, mx)
      case "string" =>
        anyIn(strVals, s.min, s.max)(utf8Ord)
      case _ => true
    }
    files.filter(f => f.stats.get(ph).forall(anyInRange))
  }

  /** Add a CHECK constraint: `exprSql` must not evaluate FALSE for any
    * row (SQL CHECK semantics — NULL passes), validated against the
    * EXISTING table before the constraint commits, then enforced on
    * every row-adding write (append / merge / updateWhere; layout-only
    * rewrites carry rows that already passed). A violating write fails
    * BEFORE publishing anything — the staged files are discarded — so
    * a table with constraints can never hold a violating row, which is
    * the whole point: the ingest bug surfaces at the write that
    * introduced it, not in a downstream consumer three tables later.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Unit =
    retrying(s"add constraint $name on $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      require(!snap.checkConstraints.contains(name),
        s"constraint '$name' already exists on $path")
      val viol = readFull(spark, path, psnap)
        .filter(expr(exprSql) === false).limit(1).collect()
      require(viol.isEmpty,
        s"cannot add constraint '$name' ($exprSql): existing row " +
          s"violates it: ${viol.headOption.getOrElse("")}")
      TxLog.tryCommit(spark, path, Commit(snap.version + 1, "constraint",
        Seq.empty, Seq.empty, None, None,
        constraintsAdd = Some(Map(name -> exprSql))))
    }

  /** Start zone-mapping `column`: FUTURE writes record min/max/null
    * stats for it (one more aggregate column in the same one-pass
    * stats job); files written before this commit carry no stat for
    * it and therefore NEVER prune against it — conservative by the
    * existing `stats.get(c).forall(...)` rule, so reads stay exact
    * while selectivity arrives file-by-file as the table churns (or
    * all at once via [[optimize]], which rewrites everything under
    * the new stats set). The inverse of waiting for a full rewrite:
    * "we query by this column now" costs one metadata commit.
    */
  def addStatsColumn(spark: SparkSession, path: String,
      column: String): Unit =
    retrying(s"add stats column $column on $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      require(StructType.fromDDL(snap.schemaDDL).fieldNames
        .contains(column), s"no column '$column' in $path")
      if (snap.statsCols.contains(snap.physName(column))) true
      else TxLog.tryCommit(spark, path, Commit(snap.version + 1,
        "stats", Seq.empty, Seq.empty, None,
        Some(snap.statsCols :+ snap.physName(column))))
    }

  /** RENAME COLUMN as a METADATA commit — no file is rewritten,
    * however large the table (column mapping, protocol 3): the commit
    * restates the schema DDL under the new LOGICAL name and binds it
    * to the column's unchanged PHYSICAL name in the snapshot's
    * [[TxLog.Snapshot.columnMap]]. Every read/write/prune translates
    * through the map, so:
    *   - reads (head and the change feed) surface the new name;
    *   - time travel BELOW the rename surfaces the old name (the DDL
    *     and map fold with the log);
    *   - new writes keep writing the physical name — old and new
    *     files stay one homogeneous physical column;
    *   - zone-map pruning keys on the physical name and loses nothing.
    * Partition and stats columns rename freely (their dirs/stats keys
    * are physical). A CHECK constraint referencing the old name would
    * silently break — rejected loudly; drop/re-create it around the
    * rename. Readers below protocol 3 are refused via `minReader`
    * (they would read files under the new logical name and surface
    * silent nulls).
    */
  /** `from` may be a DOTTED PATH into struct columns
    * (`"meta.src"` — array/map wrappers are transparent), making the
    * rename of a STRUCT-INTERNAL field a metadata commit too (nested
    * column mapping, round 15): the field's physical name is frozen at
    * first write, the map binds its new dotted LOGICAL path to it, and
    * every read/write conforms through the positional struct cast —
    * so head reads surface the new name, time travel below the rename
    * the old one, and the change feed's pinned conformance works
    * across it, exactly the top-level contract. `to` is always a
    * bare field name (the parent path cannot change — that would be a
    * MOVE, which files cannot express). Nested-mapped tables stamp
    * `minReader = 4`: a protocol-3 reader would read the renamed
    * field's files under the new logical name and surface silent
    * nulls inside the struct.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String): Unit =
    retrying(s"rename column $from -> $to on $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      val cur = StructType.fromDDL(snap.schemaDDL)
      require(!to.contains("."),
        s"rename target '$to' must be a bare field name (the parent " +
          "path cannot change — files cannot express a field MOVE)")
      val prevMap = snap.columnMap.getOrElse(Map.empty)
      val (ns, phOld) =
        if (!from.contains(".")) {
          require(cur.fieldNames.contains(from),
            s"no column '$from' in $path")
          require(!cur.fieldNames.contains(to),
            s"column '$to' already exists in $path")
          (StructType(cur.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f)),
            snap.physName(from))
        } else {
          val segs = from.split('.').toList
          def rebuild(dt: DataType, rest: List[String]): DataType =
            (dt, rest) match {
              case (st: StructType, head :: Nil) =>
                require(st.fieldNames.contains(head),
                  s"no field path '$from' in $path")
                require(!st.fieldNames.contains(to),
                  s"field '$to' already exists beside '$from' in $path")
                StructType(st.fields.map(f =>
                  if (f.name == head) f.copy(name = to) else f))
              case (st: StructType, head :: tail) =>
                require(st.fieldNames.contains(head),
                  s"no field path '$from' in $path")
                StructType(st.fields.map(f =>
                  if (f.name == head)
                    f.copy(dataType = rebuild(f.dataType, tail))
                  else f))
              case (ArrayType(et, n), _) =>
                ArrayType(rebuild(et, rest), n)
              case (MapType(kt, vt, n), _) =>
                MapType(kt, rebuild(vt, rest), n)
              case _ => sys.error(
                s"path '$from' does not traverse struct fields in $path")
            }
          (rebuild(cur, segs).asInstanceOf[StructType],
            prevMap.getOrElse(from, segs.last))
        }
      requireConstraintsResolve(spark, snap.checkConstraints, ns,
        s"renaming '$from' to '$to'")
      val newPath =
        if (!from.contains(".")) to
        else (from.split('.').init :+ to).mkString(".")
      // descendants keyed THROUGH the renamed path re-key with it —
      // a mapped `meta.src.inner` must follow `meta.src` → `meta.o2`
      val rekeyed = prevMap.collect { case (k, v) if k != from =>
        (if (k.startsWith(from + "."))
          newPath + k.stripPrefix(from)
        else k) -> v
      }
      // identity bindings are omitted: a path whose LEAF equals its
      // physical name needs no entry (same rule both levels)
      val newMap = rekeyed ++
        (if (to == phOld) Map.empty[String, String]
        else Map(newPath -> phOld))
      TxLog.tryCommit(spark, path, Commit(snap.version + 1, "rename",
        Seq.empty, Seq.empty, Some(ns.toDDL), None,
        columnMap = Some(newMap), minReader = Some(minReaderFor(newMap))))
    }

  /** Nested-mapped tables need protocol 4 (struct-internal conformance
    * — a v3 reader would silently null the renamed nested field);
    * top-level-only maps keep protocol 3.
    */
  private def minReaderFor(colMap: Map[String, String]): Int =
    if (colMap.keys.exists(_.contains("."))) 4 else 3

  /** ADD COLUMN as a METADATA commit — the explicit DDL face of what
    * `mergeSchema` appends do implicitly: the new column joins the
    * schema as a trailing NULLABLE field, existing files read it as
    * typed nulls, and no file moves. If the name's default physical
    * binding is already claimed (a previously dropped column's retired
    * name, or a renamed column's physical) the new column binds to a
    * FRESH physical name, so old bytes can never resurrect — the same
    * rule as the evolution path. Rejected when the column already
    * exists or the type DDL doesn't parse.
    */
  /** `name` may be a DOTTED PATH into struct columns
    * (`"meta.bonus"` — array/map wrappers transparent, round 16): the
    * field joins its parent struct as a trailing nullable member,
    * existing files read it as typed nulls (parquet fills missing
    * NESTED fields by name exactly like missing top-level columns),
    * and no file moves. No-resurrect holds per PARENT SCOPE: a nested
    * re-add whose physical binding is claimed inside that struct
    * (a previously dropped sibling's retired name, or a renamed
    * sibling's physical) binds FRESH, so old bytes inside the struct
    * can never surface under the new field. Nested-bound tables stamp
    * protocol 4 via the dotted map entry.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      typeDDL: String): Unit =
    retrying(s"add column $name on $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      val cur = StructType.fromDDL(snap.schemaDDL)
      val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typeDDL)
      if (!name.contains(".")) {
        require(!cur.fieldNames.contains(name),
          s"column '$name' already exists in $path")
        val ns = StructType(cur.fields :+
          StructField(name, dt, nullable = true))
        val mapStamp =
          if (!claimedPhys(snap).contains(name)) None
          else Some(snap.columnMap.getOrElse(Map.empty) +
            (name -> freshPhys(name, snap)))
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "add_column",
          Seq.empty, Seq.empty, Some(ns.toDDL), None,
          columnMap = mapStamp,
          minReader = mapStamp.map(_ => 3)))
      } else {
        val segs = name.split('.').toList
        val leaf = segs.last
        val ns = rebuildAt(cur, segs.init, name, path) { st =>
          require(!st.fieldNames.contains(leaf),
            s"field '$name' already exists in $path")
          StructType(st.fields :+ StructField(leaf, dt, nullable = true))
        }
        // fresh binding iff the leaf's default physical name is
        // claimed INSIDE the parent struct (live sibling bindings or
        // names retired under the parent's physical path); an
        // identity-bound nested add stamps NO protocol bump — every
        // reader fills the missing nested field by parquet name
        // clipping, exactly like a top-level add
        val prevMap = snap.columnMap.getOrElse(Map.empty)
        val claimed = claimedPhysAt(snap, cur, segs.init)
        val mapStamp =
          if (!claimed.contains(leaf)) prevMap
          else prevMap +
            (name -> freshPhysIn(leaf, claimed, snap.version))
        val changed = mapStamp != prevMap
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "add_column",
          Seq.empty, Seq.empty, Some(ns.toDDL), None,
          columnMap = if (changed) Some(mapStamp) else None,
          minReader = if (changed) Some(minReaderFor(mapStamp)) else None))
      }
    }

  /** Rebuild the schema with `edit` applied to the struct at
    * `parentSegs` (array/map wrappers transparent) — the shared
    * traversal of the nested DDL ops.
    */
  private def rebuildAt(cur: StructType, parentSegs: List[String],
      fullPath: String, path: String)(
      edit: StructType => StructType): StructType = {
    def walk(dt: DataType, rest: List[String]): DataType = (dt, rest) match {
      case (st: StructType, Nil) => edit(st)
      case (st: StructType, head :: tail) =>
        require(st.fieldNames.contains(head),
          s"no field path '$fullPath' in $path")
        StructType(st.fields.map(f =>
          if (f.name == head) f.copy(dataType = walk(f.dataType, tail))
          else f))
      case (ArrayType(et, n), _) => ArrayType(walk(et, rest), n)
      case (MapType(kt, vt, n), _) => MapType(kt, walk(vt, rest), n)
      case _ => sys.error(
        s"path '$fullPath' does not traverse struct fields in $path")
    }
    walk(cur, parentSegs).asInstanceOf[StructType]
  }

  /** Physical path of a LOGICAL dotted path: each prefix translated
    * through the column map (physical names are rename-stable, so
    * retired-name scoping keyed on this survives later renames).
    */
  private def physPathOf(snap: Snapshot, logicalSegs: List[String]): String =
    logicalSegs.inits.toList.reverse.drop(1)
      .map(p => snap.columnMap.getOrElse(Map.empty)
        .getOrElse(p.mkString("."), p.last))
      .mkString(".")

  /** Physical names CLAIMED inside the struct at `parentSegs`: the
    * live fields' bindings plus names retired under the parent's
    * PHYSICAL path — the nested scope of [[claimedPhys]].
    */
  private def claimedPhysAt(snap: Snapshot, cur: StructType,
      parentSegs: List[String]): Set[String] = {
    def structAt(dt: DataType, rest: List[String]): StructType =
      (dt, rest) match {
        case (st: StructType, Nil) => st
        case (st: StructType, head :: tail) =>
          structAt(st(head).dataType, tail)
        case (ArrayType(et, _), _) => structAt(et, rest)
        case (MapType(_, vt, _), _) => structAt(vt, rest)
        case _ => sys.error(s"not a struct path: $parentSegs")
      }
    val parent = structAt(cur, parentSegs)
    val prefix = parentSegs.mkString(".")
    val m = snap.columnMap.getOrElse(Map.empty)
    val live = parent.fieldNames.map { n =>
      val lp = if (prefix.isEmpty) n else s"$prefix.$n"
      m.getOrElse(lp, n)
    }.toSet
    val physPrefix = physPathOf(snap, parentSegs)
    val retired = snap.retiredPhys.getOrElse(Seq.empty)
      .filter(_.startsWith(physPrefix + "."))
      .map(_.stripPrefix(physPrefix + "."))
      .filterNot(_.contains("."))
      .toSet
    live ++ retired
  }

  /** DROP COLUMN as a METADATA commit: the column leaves the schema
    * DDL and its physical name RETIRES ([[TxLog.Snapshot.retiredPhys]])
    * — files keep their bytes (time travel below the drop still reads
    * the column), head reads simply never project it, and a LATER
    * re-add of the same logical name takes a fresh physical name so
    * the old values can never resurrect. The physical bytes are
    * reclaimed lazily as files rewrite (merge/optimize — they project
    * the live schema only); a full [[optimize]] purges the column from
    * every live file at once. Partition columns cannot drop (their
    * value lives in the directory layout); constraints referencing the
    * column are rejected loudly, like [[renameColumn]].
    */
  /** `name` may be a DOTTED PATH (round 16): the struct-internal field
    * leaves the schema, its physical name retires SCOPED under the
    * parent's physical path (rename-stable), and a later re-add of the
    * same field name inside that struct binds fresh — the top-level
    * no-resurrect contract, per scope. The parent struct must keep at
    * least one field (drop the whole column instead).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit =
    retrying(s"drop column $name on $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      val cur = StructType.fromDDL(snap.schemaDDL)
      if (!name.contains(".")) {
        require(cur.fieldNames.contains(name), s"no column '$name' in $path")
        require(cur.fields.length > 1,
          s"cannot drop the only column of $path")
        val ph = snap.physName(name)
        require(!snap.partitionCols.getOrElse(Seq.empty).contains(ph),
          s"cannot drop partition column '$name' (its values live in " +
            "the directory layout)")
        val ns = StructType(cur.fields.filterNot(_.name == name))
        requireConstraintsResolve(spark, snap.checkConstraints, ns,
          s"dropping '$name'")
        // descendant nested-field entries keyed through the dropped
        // column leave the map with it (their paths no longer exist)
        val prunedMap = snap.columnMap.getOrElse(Map.empty)
          .filterNot { case (k, _) =>
            k == name || k.startsWith(name + ".") }
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "drop_column",
          Seq.empty, Seq.empty, Some(ns.toDDL),
          Some(snap.statsCols.filterNot(_ == ph)),
          columnMap = Some(prunedMap),
          retiredPhys = Some(
            (snap.retiredPhys.getOrElse(Seq.empty) :+ ph).distinct),
          minReader = Some(math.max(3, minReaderFor(prunedMap)))))
      } else {
        val segs = name.split('.').toList
        val leaf = segs.last
        val ns = rebuildAt(cur, segs.init, name, path) { st =>
          require(st.fieldNames.contains(leaf),
            s"no field path '$name' in $path")
          require(st.fields.length > 1,
            s"cannot drop the only field of the struct at " +
              s"'${segs.init.mkString(".")}' — drop the column instead")
          StructType(st.fields.filterNot(_.name == leaf))
        }
        requireConstraintsResolve(spark, snap.checkConstraints, ns,
          s"dropping '$name'")
        val prevMap = snap.columnMap.getOrElse(Map.empty)
        val ph = prevMap.getOrElse(name, leaf)
        val prunedMap = prevMap.filterNot { case (k, _) =>
          k == name || k.startsWith(name + ".") }
        val retiredKey = s"${physPathOf(snap, segs.init)}.$ph"
        TxLog.tryCommit(spark, path, Commit(snap.version + 1,
          "drop_column", Seq.empty, Seq.empty, Some(ns.toDDL), None,
          columnMap = Some(prunedMap),
          retiredPhys = Some(
            (snap.retiredPhys.getOrElse(Seq.empty) :+ retiredKey)
              .distinct),
          // the scoped retire entry itself needs a protocol-4 fold
          // (a v3 reader would mis-scope it as a weird top-level name
          // — harmless for reads, but its re-add freshness would
          // drift); nested shape changes conform by parquet
          // name-clipping either way
          minReader = Some(4)))
      }
    }

  /** Every CHECK constraint must still ANALYZE against `schema` — a
    * rename/drop that breaks a constraint expression is rejected
    * before committing, not discovered at the next write.
    */
  private def requireConstraintsResolve(spark: SparkSession,
      constraints: Map[String, String], schema: StructType,
      what: String): Unit =
    constraints.foreach { case (n, e) =>
      val ok = scala.util.Try(
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .filter(expr(e) === false).queryExecution.analyzed).isSuccess
      require(ok, s"CHECK constraint '$n' ($e) would break under $what " +
        "— drop (and re-create under the new schema) first")
    }

  /** Drop a CHECK constraint (future writes stop validating it). */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Unit =
    retrying(s"drop constraint $name on $path") {
      val snap = TxLog.snapshotPlanned(spark, path).meta
      require(snap.checkConstraints.contains(name),
        s"no constraint '$name' on $path")
      TxLog.tryCommit(spark, path, Commit(snap.version + 1, "constraint",
        Seq.empty, Seq.empty, None, None,
        constraintsDrop = Some(Seq(name))))
    }

  /** Predicate read: manifest pruning ([[StatsPredicate]] — simple
    * conjuncts of `cond` become zone-map ranges) plans only the files
    * that could hold a TRUE row, then the FULL predicate applies
    * row-exactly on top. Unlike [[readOverlapping]] (file-granular,
    * callers filter) this returns exactly the matching rows; a
    * key-clustered narrow read of a 100 TB table plans O(covering
    * files) before any parquet footer opens, with parquet pushdown
    * doing the row-group work inside them.
    */
  def readWhere(spark: SparkSession, path: String, cond: Column,
      asOfVersion: Option[Long] = None): DataFrame = {
    val psnap = TxLog.snapshotPlanned(spark, path, asOfVersion)
    val snap = psnap.meta
    val sel =
      if (!psnap.isDistributed)
        StatsPredicate.prune(snap.files, cond, snap.physName)
      else prunedDistributed(spark, path, psnap,
        ManifestPlan.prunePredicate(cond, snap.physName))
    readFiles(spark, path, snap, sel).filter(cond)
  }

  /** Distributed-prune helper: evaluate the predicate over the planned
    * manifest (None = no recognized conjuncts → every entry survives,
    * the same no-pruning answer as the driver form — a full-manifest
    * collect, which a full scan needs anyway to plan its read).
    */
  private def prunedDistributed(spark: SparkSession, path: String,
      psnap: TxLog.PlannedSnapshot,
      pred: Option[Column]): Seq[AddFile] =
    ManifestPlan.collectSurvivors(spark, path, psnap,
      pred.getOrElse(lit(true)))

  /** MERGE `updates` into the table on `keys`: full-row upsert, rows
    * flagged true in `deleteCol` are deletes. Only files containing a
    * matched key are rewritten; the candidate set is pre-pruned by the
    * manifest zone maps against the batch's key bounds.
    *
    * '''Conditional clauses''' (the `WHEN MATCHED AND <cond> THEN
    * UPDATE SET <cols>` form — the first thing a CDC user with
    * partial-column feeds needs):
    *   - `matchedCondition(target, source)` gates the UPDATE: a matched
    *     row failing it passes through UNCHANGED (and its batch row is
    *     NOT inserted — it matched). The standard use is an
    *     out-of-order guard, `(t, s) => s("seq") > t("seq")`. Clause
    *     order is Delta's: `WHEN MATCHED AND del THEN DELETE` fires
    *     first and is NOT gated by `matchedCondition` (a tombstone
    *     deletes regardless);
    *   - `setCols` restricts which columns the update writes; the rest
    *     keep their target values (partial-column SET). Inserts of
    *     not-matched rows are always full-row — the batch must carry
    *     the full schema either way, so a partial feed fills
    *     don't-care columns arbitrarily for rows it knows are matched.
    */
  /** Column carrying the row's change kind in a CDC read:
    * insert / update_preimage / update_postimage / delete.
    */
  val ChangeTypeCol = "_change_type"

  def merge(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], deleteCol: Option[String] = None,
      checkUniqueKeys: Boolean = true,
      txn: Option[TxLog.Txn] = None,
      mergeSchema: Boolean = false,
      matchedCondition: Option[(DataFrame, DataFrame) => Column] = None,
      setCols: Option[Seq[String]] = None,
      cdc: Boolean = false): MergeMetrics = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val up = updates.persist()
    try {
      if (checkUniqueKeys) {
        val dup = up.groupBy(keys.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"duplicate keys in the update batch: ${dup.mkString(",")}")
      }
      // Batch key bounds for zone-map pruning — EVERY key column in
      // one tiny driver row. Pruning on key columns only is what keeps
      // it sound: a match requires equality on all of them, so a file
      // whose zone map is disjoint from the batch's bounds on ANY key
      // column cannot hold a match. (Partition-scoped merges get
      // partition pruning by simply including the partition column in
      // the merge key — date-partitioned facts keyed (date, id).)
      // Null keys are tracked SEPARATELY: the join matches with
      // null-safe <=>, so a batch row with a null key can match file
      // rows invisible to min/max (which ignore nulls) — the range test
      // alone would prune the very file holding the match and the
      // update would silently re-insert. Per key: the non-null range
      // (None when the batch is all-null on it) plus a does-the-batch-
      // hold-a-null flag checked against the file's ColStats.nulls.
      val keyBounds: Map[String, (Option[(String, String)], Boolean)] = {
        val aggs = keys.flatMap(k => Seq(
          min(col(k)).cast("string").as(s"_lo_$k"),
          max(col(k)).cast("string").as(s"_hi_$k"),
          max(col(k).isNull.cast("int")).as(s"_nul_$k")))
        val rows = up.agg(aggs.head, aggs.tail: _*).collect()
        keys.map { k =>
          val r = rows(0)
          val lo = r.getAs[String](s"_lo_$k")
          val hi = r.getAs[String](s"_hi_$k")
          val hasNull = Option(r.getAs[Any](s"_nul_$k")).exists(_ == 1)
          k -> (if (lo == null || hi == null) None else Some((lo, hi)),
            hasNull)
        }.toMap
      }

      var result: Option[MergeMetrics] = None
      retrying(s"merge into $path") {
        val psnap = TxLog.snapshotPlanned(spark, path)
        val snap = psnap.meta
        if (alreadyApplied(snap, txn)) {
          // Replayed batch (streaming retry / restart from an old
          // checkpoint): the log already carries this stamp — no-op.
          result = Some(MergeMetrics(snap.version, 0, 0, 0, 0, 0))
          true
        } else {
          val del = deleteCol.map(c => coalesce(col(c), lit(false)))
            .getOrElse(lit(false))
          // Additive evolution: new update columns become trailing
          // table columns; pre-evolution rows surface them as null.
          val ev = evolvedSchema(snap, up, mergeSchema, deleteCol.toSet)
          val (ddl, allCols) = (ev.ddl, ev.cols)
          val mergeMap = snap.columnMap.getOrElse(Map.empty) ++ ev.fresh
          val phys = snap.physName _
          val newFields = up.schema.fields.filter(f =>
            allCols.contains(f.name) &&
              !readSchemaCols(snap).contains(f.name))
          // _gf_m is the presence marker (diff-core technique): after
          // the left join it distinguishes "no update for this row"
          // from an update that legitimately sets a column to NULL — a
          // coalesce on the data column would resurrect the old value.
          val upData = up.select(
            allCols.map(col) ++
              Seq(del.as("_gf_del"), lit(1).as("_gf_m")): _*)

          // 1. Prune: a file survives only if, on EVERY stats-covered
          //    key column, it could hold a match — its zone map
          //    overlaps the batch's non-null bounds, OR the batch has a
          //    null on that key and the file may hold nulls in it
          //    (ColStats.nulls; legacy manifests answer true). An
          //    all-null batch key (range None) keeps only files that
          //    may hold nulls; an EMPTY batch keeps nothing.
          //    Sidecar-backed manifests evaluate this as a DataFrame
          //    plan over the checkpoint sidecar and collect ONLY the
          //    candidates (ManifestPlan.mergeCandidate — the Column
          //    twin, property-pinned ≡ the driver rule below).
          val candidates =
            if (!psnap.isDistributed) snap.files.filter { f =>
              keyBounds.forall { case (k, (range, batchNull)) =>
                f.stats.get(phys(k)).forall { s =>
                  range.exists { case (lo, hi) => s.mayOverlap(lo, hi) } ||
                    (batchNull && s.mayHaveNulls)
                }
              }
            }
            else ManifestPlan.collectSurvivors(spark, path, psnap,
              ManifestPlan.mergeCandidate(keyBounds, phys))
          val pruned =
            ManifestPlan.fileCount(spark, path, psnap) - candidates.size

          // 2. Touched files: candidates holding >=1 matched key. One
          //    semi-join scan over candidates only; the file list is
          //    manifest-sized (driver-safe).
          val candDf = readFilesTagged(spark, path, snap, candidates,
            "_gf")
          val keyJoin = keys.map(k => candDf(k) <=> upData(k)).reduce(_ && _)
          // input_file_name returns a URI: one java.net.URI decode
          // restores the ON-DISK path (hive-escaped partition dirs
          // like `region=eu%3Awest` come back RE-encoded as %253A).
          // Task-file names alone would NOT do — partitionBy reuses
          // part-00000-... across partition dirs within one op (the
          // table_partitioned gate caught exactly that collision).
          // Matching keys an exact decoded-absolute-path map (O(cands +
          // touched), not the old O(cands × touched) endsWith scan),
          // and a path that resolves to NO manifest entry fails LOUDLY
          // — silently dropping it would turn matched updates into
          // duplicate inserts.
          val hconf = spark.sessionState.newHadoopConf()
          val byAbs: Map[String, AddFile] =
            candidates.map(f => entryKey(hconf, path, f.path) -> f).toMap
          val touched = candDf.join(upData, keyJoin, "left_semi")
            .select("_gf").distinct().collect()
            .map { r =>
              val abs = scanKey(r.getString(0))
              byAbs.getOrElse(abs, sys.error(
                s"scanned file $abs not in the candidate manifest " +
                  s"(table $path) — path decode mismatch"))
            }.toSeq

          // 3. Rewrite touched rows (left join: survivors pass through,
          //    matches update or delete) + insert unmatched batch rows.
          //    Evolved columns don't exist in the old files — typed
          //    nulls stand in on the survivor side.
          val touchedOld = readFiles(spark, path, snap, touched)
          val touchedDf = newFields.foldLeft(touchedOld)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
          val tJoin = keys.map(k => touchedDf(k) <=> upData(k)).reduce(_ && _)
          val sets = setCols.map(_.toSet).getOrElse(allCols.toSet)
          require(setCols.forall(_.forall(allCols.contains)),
            s"setCols not in the table: ${setCols.getOrElse(Seq.empty)
              .filterNot(allCols.contains)}")
          // update fires only for matched rows passing the clause
          // condition (null condition result = clause not taken, the
          // SQL three-valued convention); unmatched/failing rows keep
          // their target values column by column.
          val upd = upData("_gf_m").isNotNull &&
            matchedCondition.fold(lit(true))(c =>
              coalesce(c(touchedDf, upData), lit(false)))
          val rewritten = touchedDf.join(upData, tJoin, "left_outer")
            .filter(upData("_gf_del").isNull || !upData("_gf_del"))
            .select(allCols.map(c =>
              (if (sets.contains(c)) when(upd, upData(c))
                .otherwise(touchedDf(c))
              else touchedDf(c)).as(c)): _*)
          val inserts = upData.filter(!col("_gf_del"))
            .join(touchedDf, tJoin, "left_anti")
            .select(allCols.map(col): _*)
          val out = rewritten.unionByName(inserts)

          // Row-level CDC sidecar (opt-in): the EXACT change rows —
          // update pre/postimages, delete preimages, inserts — written
          // under _cdc/ and referenced by the commit. Unlike the
          // file-level changesAt (adds include rewritten SURVIVORS),
          // this is layout-INDEPENDENT: cost tracks the CHANGE volume,
          // not the touched-file volume, which is why every open table
          // format stores CDC as explicit change files rather than
          // re-deriving it from data files at read time.
          val cdcDir = if (!cdc) None else {
            // the four tagged branches below each re-execute this join
            // (and its touched-file scan) lazily — persist it for the
            // duration of the sidecar write: one scan, not four
            val matched = touchedDf.join(upData, tJoin, "inner").persist()
            val hit = matchedCondition.fold(lit(true))(c =>
              coalesce(c(touchedDf, upData), lit(false)))
            val delHit = upData("_gf_del")
            def tagged(rows: DataFrame, cols: Seq[Column], t: String) =
              rows.select(cols :+ lit(t).as(ChangeTypeCol): _*)
            val oldCols = allCols.map(c => touchedDf(c).as(c))
            val newCols = allCols.map(c =>
              (if (sets.contains(c)) upData(c) else touchedDf(c)).as(c))
            val changes = tagged(matched.filter(!delHit && hit), oldCols,
                "update_preimage")
              .unionByName(tagged(matched.filter(!delHit && hit), newCols,
                "update_postimage"))
              .unionByName(tagged(matched.filter(delHit), oldCols,
                "delete"))
              .unionByName(tagged(inserts, allCols.map(col(_)), "insert"))
            val rel = writeCdcDir(spark, path, changes, mergeMap)
            matched.unpersist(blocking = false)
            Some(rel)
          }

          val adds = writeFiles(spark, path, out, snap.statsCols,
            snap.partitionCols.getOrElse(Seq.empty),
            snap.checkConstraints, mergeMap)
          val committed = TxLog.tryCommit(spark, path,
            Commit(snap.version + 1, "merge", adds,
              touched.map(_.path), ddl, None, txn, None, cdcDir,
              columnMap = if (ev.fresh.isEmpty) None else Some(mergeMap)))
          // On a lost race: undo nothing (orphan files are vacuumable),
          // replay the whole resolve against the winner's snapshot.
          if (committed)
            result = Some(MergeMetrics(snap.version + 1,
              candidates.size.toLong, touched.size.toLong, pruned.toLong,
              adds.map(_.rows).sum, touched.map(_.rows).sum))
          committed
        }
      }
      result.get
    } finally { up.unpersist(); () }
  }

  /** Accounting for the predicate ops: manifest-pruned candidates
    * (files the probe scan actually read — [[StatsPredicate]] prunes
    * the rest before any I/O), files rewritten vs untouched, and the
    * net row change (rows removed minus rows re-added).
    */
  final case class RewriteMetrics(version: Long, candidateFiles: Long,
      touchedFiles: Long, prunedFiles: Long, rowsBefore: Long,
      rowsAfter: Long)

  /** DELETE WHERE `cond` — SQL semantics: rows where the predicate is
    * TRUE are removed; FALSE and NULL rows stay. Copy-on-write at file
    * granularity: ONE probe scan (predicate pushed to parquet) finds
    * the files holding ≥1 matching row, only those are rewritten
    * without their matches, every other file survives verbatim. No
    * matches → no commit (version unchanged). At 100 TB a clustered
    * predicate (the usual retention/GDPR delete keyed on date or id
    * range) touches O(matching files), and the probe scan itself reads
    * only the predicate's columns with the filter pushed down.
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column,
      cdc: Boolean = false): RewriteMetrics =
    rewriteWhere(spark, path, cond, "delete",
      cdcRows = if (!cdc) None else Some { touchedDf =>
        touchedDf.filter(coalesce(cond, lit(false)))
          .withColumn(ChangeTypeCol, lit("delete"))
      }) { touchedDf =>
      touchedDf.filter(!coalesce(cond, lit(false)))
    }

  /** [[deleteWhere]] with a POINT-SET manifest pre-prune: only files
    * whose zone map on `column` may contain AT LEAST ONE of `values`
    * are probed (the [[readMatchingAny]] pruning), then `cond` applies
    * row-exactly inside them. This is the delete a secondary-keyed
    * probe needs — e.g. deleting documents from a term-clustered
    * postings table: `doc_id` scatters across every file, so zone maps
    * on it prune nothing, but the deleted docs' TERM SET is known and
    * prunes to O(files overlapping that vocabulary) instead of a
    * full-table probe. Soundness requires every `cond`-matching row to
    * carry one of `values` in `column` (the caller's contract — here:
    * a postings row of a deleted doc necessarily holds one of the
    * doc's terms); rows outside the point set are simply never probed.
    */
  /** `audit` (round 16 — the soundness contract turned checkable):
    *   - `"none"` (default): trust the caller's contract, as before;
    *   - `"stats"`: after the delete, fail LOUDLY if some UNPROBED
    *     file PROVABLY held matching rows — provable from the zone
    *     maps alone ([[ManifestPlan.provablyAllMatch]]: the predicate
    *     decomposes totally into non-strict ranges, the file's whole
    *     range sits inside them with no nulls and rows > 0). One
    *     manifest-plan pass, zero data I/O; catches the provable
    *     subset of contract violations (a predicate the range
    *     analysis can't decompose, or scattered stats, stay on the
    *     contract);
    *   - `"exact"`: SCAN the unprobed files for any matching row —
    *     the complete audit, at exactly the probe cost the point-set
    *     API exists to avoid (backfills, tests, low-trust callers).
    */
  def deleteWhereMatchingAny(spark: SparkSession, path: String,
      column: String, values: Seq[String], cond: Column,
      cdc: Boolean = false, audit: String = "none"): RewriteMetrics = {
    require(Set("none", "stats", "exact").contains(audit),
      s"unknown audit mode '$audit' (none | stats | exact)")
    val m = rewriteWhere(spark, path, cond, "delete",
      cdcRows = if (!cdc) None else Some { touchedDf =>
        touchedDf.filter(coalesce(cond, lit(false)))
          .withColumn(ChangeTypeCol, lit("delete"))
      },
      candidatesOf = Some { psnap =>
        val ph = psnap.meta.physName(column)
        if (!psnap.isDistributed)
          matchingAnyDriver(psnap.meta.files, ph, values)
        else ManifestPlan.collectSurvivorsAnyOf(spark, path, psnap, ph,
          values)
      }) { touchedDf =>
      touchedDf.filter(!coalesce(cond, lit(false)))
    }
    if (audit != "none") {
      // audit the PRE-delete snapshot (no touched files → no commit
      // happened, the metrics version IS the pre-version)
      val pre = if (m.touchedFiles == 0) m.version else m.version - 1
      auditPointSetDelete(spark, path, column, values, cond, pre, audit)
    }
    m
  }

  /** The post-delete audit of [[deleteWhereMatchingAny]]: recompute
    * the probed set at the pre-delete version (deterministic — same
    * rule, same manifest) and check the UNPROBED complement for
    * matching rows the point set must have covered.
    */
  private def auditPointSetDelete(spark: SparkSession, path: String,
      column: String, values: Seq[String], cond: Column,
      preVersion: Long, mode: String): Unit = {
    val psnap = TxLog.snapshotPlanned(spark, path, Some(preVersion))
    val snap = psnap.meta
    val ph = snap.physName(column)
    val probed = (if (!psnap.isDistributed)
      matchingAnyDriver(snap.files, ph, values)
    else ManifestPlan.collectSurvivorsAnyOf(spark, path, psnap, ph,
      values)).map(_.path).toSet
    mode match {
      case "stats" =>
        org.apache.spark.sql.graft.ColumnBridge.exactRangesTotal(cond)
          .foreach { ranges =>
            val hits = ManifestPlan.collectSurvivorsExcluding(spark,
              path, psnap,
              ManifestPlan.provablyAllMatch(ranges, snap.physName),
              probed)
            if (hits.nonEmpty) sys.error(
              s"deleteWhereMatchingAny audit: the point set on " +
                s"'$column' PROVABLY missed matching rows — " +
                s"${hits.size} unprobed file(s) whose zone maps " +
                s"guarantee predicate matches (e.g. ${hits.head.path})" +
                " — the caller's soundness contract is violated; " +
                "matching rows remain undeleted")
          }
      case "exact" =>
        val unprobed = ManifestPlan.collectSurvivorsExcluding(spark,
          path, psnap, lit(true), probed)
        if (unprobed.nonEmpty) {
          val leftover = readFiles(spark, path, snap, unprobed)
            .filter(coalesce(cond, lit(false))).limit(1).collect()
          if (leftover.nonEmpty) sys.error(
            s"deleteWhereMatchingAny audit: the point set on " +
              s"'$column' missed matching rows (e.g. " +
              s"${leftover.head}) — the caller's soundness contract " +
              "is violated; matching rows remain undeleted")
        }
      case _ => ()
    }
  }

  /** DELETE WHERE as MERGE-ON-READ (DELETION VECTORS, round 16 —
    * protocol 6): matching rows are MARKED, never rewritten — the
    * probe scan writes (relative path, row index) pairs to a `_dv/`
    * sidecar and ONE metadata-class commit re-adds the touched
    * entries pointing at it (live `rows` decremented; a fully-emptied
    * file drops out entirely). Reads subtract the vectors with one
    * broadcast anti-join; every rewriting op (merge / optimize /
    * compact / [[purgeDv]]) reads vectors-applied and emits clean
    * files, so vectors drain naturally as the table churns.
    *
    * WHEN to prefer this over [[deleteWhere]] (copy-on-write): the
    * write cost is O(matching ROWS), not O(touched FILES) — a GDPR
    * single-row delete against 1 GB files writes a few hundred bytes
    * instead of re-encoding gigabytes. The price is a per-read
    * anti-join against the standing vectors; once vectors cover a
    * meaningful row fraction, [[purgeDv]] (or any optimize) rewrites
    * them away. Repeated vector deletes on one file fold their pairs
    * (the re-add replaces the ref wholesale — one vector per file,
    * ever). External (shallow-clone) references are refused loudly —
    * vectors key on table-relative paths; materialize first. Readers
    * below protocol 6 are refused: they would silently RESURRECT the
    * deleted rows.
    */
  def deleteWhereDv(spark: SparkSession, path: String, cond: Column,
      cdc: Boolean = false): RewriteMetrics = {
    var result: Option[RewriteMetrics] = None
    retrying(s"delete-dv on $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val candidates =
        if (!psnap.isDistributed)
          StatsPredicate.prune(snap.files, cond, snap.physName)
        else prunedDistributed(spark, path, psnap,
          ManifestPlan.prunePredicate(cond, snap.physName))
      require(candidates.forall(f => !isExternal(f.path)),
        "deletion vectors key on table-relative paths — materialize " +
          "the clone (optimize) or use the copy-on-write deleteWhere " +
          "for external references")
      lazy val totalFiles = ManifestPlan.fileCount(spark, path, psnap)
      if (candidates.isEmpty) {
        result = Some(RewriteMetrics(snap.version, 0, 0, totalFiles,
          0, 0))
        true
      } else {
        // probe WITH row positions, existing vectors applied (a row
        // must never decrement the live counts twice); the predicate
        // evaluates over the conformed LOGICAL view
        val probe = readFilesMeta(spark, path, snap, candidates)
          .filter(coalesce(cond, lit(false)))
          .persist()
        try {
          val perFile = probe.groupBy("__gf_rel")
            .agg(count(lit(1)).as("n")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          if (perFile.isEmpty) {
            result = Some(RewriteMetrics(snap.version,
              candidates.size.toLong, 0, totalFiles, 0, 0))
            true
          } else {
            val touched = candidates.filter(f => perFile.contains(f.path))
            val ref = s"_dv/${java.util.UUID.randomUUID()}"
            val newPairs = probe.select(
              col("__gf_rel").as("rel_path"),
              col("__gf_ri").as("row_index"))
            // the re-add replaces each file's ref WHOLESALE: fold the
            // touched files' existing pairs into the new vector
            val oldRefs = touched.flatMap(_.dv).distinct
            val pairs =
              if (oldRefs.isEmpty) newPairs
              else newPairs.unionByName(
                spark.read.schema(DvSchema)
                  .parquet(oldRefs.map(r => s"$path/$r"): _*)
                  .filter(col("rel_path")
                    .isInCollection(touched.map(_.path))))
            pairs.write.parquet(s"$path/$ref")
            val cdcDir = if (!cdc) None else Some(writeCdcDir(spark,
              path, probe.drop("__gf_rel", "__gf_ri")
                .withColumn(ChangeTypeCol, lit("delete")),
              snap.columnMap.getOrElse(Map.empty)))
            val readds = touched.flatMap { f =>
              val left = f.rows - perFile(f.path)
              if (left <= 0) None
              else Some(f.copy(rows = left, dv = Some(ref)))
            }
            val committed = TxLog.tryCommit(spark, path,
              Commit(snap.version + 1, "delete_dv", readds,
                touched.map(_.path), None, None, None, None, cdcDir,
                minReader = Some(6)))
            if (committed)
              result = Some(RewriteMetrics(snap.version + 1,
                candidates.size.toLong, touched.size.toLong,
                totalFiles - touched.size,
                touched.map(_.rows).sum, readds.map(_.rows).sum))
            committed
          }
        } finally { probe.unpersist(blocking = false); () }
      }
    }
    result.get
  }

  /** Rewrite every vector-carrying file CLEAN — the lazy compaction
    * that drains [[deleteWhereDv]]'s read-side debt (any optimize or
    * merge touching the files does the same as a side effect).
    * Returns the number of files rewritten.
    */
  def purgeDv(spark: SparkSession, path: String): Long = {
    var n = 0L
    retrying(s"purge-dv $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val sel =
        if (!psnap.isDistributed) snap.files.filter(_.dv.isDefined)
        else ManifestPlan.collectSurvivors(spark, path, psnap,
          col("dv").isNotNull)
      n = sel.size.toLong
      if (sel.isEmpty) true
      else {
        val out = readFiles(spark, path, snap, sel)
          .select(readSchemaCols(snap).map(col): _*)
        val adds = writeFiles(spark, path, out, snap.statsCols,
          snap.partitionCols.getOrElse(Seq.empty),
          colMap = snap.columnMap.getOrElse(Map.empty))
        TxLog.tryCommit(spark, path, Commit(snap.version + 1,
          "purge_dv", adds, sel.map(_.path), None, None))
      }
    }
    n
  }

  /** [[readFiles]] carrying the scan-side (relative path, row index)
    * as `__gf_rel`/`__gf_ri` through the conformance — the
    * deletion-vector probe's read (existing vectors applied, like any
    * read).
    */
  private def readFilesMeta(spark: SparkSession, path: String,
      snap: Snapshot, files: Seq[AddFile]): DataFrame = {
    val schema = StructType.fromDDL(snap.schemaDDL)
    val colMap = snap.columnMap.getOrElse(Map.empty)
    val physFields = schema.fields.map(physField(_, colMap, ""))
    val physSchema = StructType(physFields)
    val dvRefs = files.flatMap(_.dv).distinct
    val frames = files.groupBy(f => dataRootOf(path, f.path))
      .toSeq.sortBy(_._1)
      .map { case (root, fs) =>
        applyDv(spark, path, dvRefs,
          spark.read.schema(physSchema)
            .option("basePath", root)
            .parquet(fs.map(f => fileUri(path, f.path)): _*)
            .withColumn("__gf_rel", scanRelPath)
            .withColumn("__gf_ri", col("_metadata.row_index")))
      }
    frames.reduce(_ unionByName _)
      .select(conformCols(physFields.toSeq, schema.fields.toSeq,
        pf => s"`${pf.name.replace("`", "``")}`") ++
        Seq(col("__gf_rel"), col("__gf_ri")): _*)
  }

  /** UPDATE ... SET `set` WHERE `cond` — rows where the predicate is
    * TRUE get each `set` column replaced by its expression (which may
    * reference the row's current columns); FALSE and NULL rows pass
    * through. Same file-granular COW discipline as [[deleteWhere]].
    */
  def updateWhere(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column], cdc: Boolean = false): RewriteMetrics = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    def setSelect(df: DataFrame, always: Boolean): DataFrame = {
      val hit = if (always) lit(true) else coalesce(cond, lit(false))
      df.select(df.columns.filterNot(_ == ChangeTypeCol).map { c =>
        set.get(c).map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }.toSeq: _*)
    }
    rewriteWhere(spark, path, cond, "update",
      cdcRows = if (!cdc) None else Some { touchedDf =>
        val hits = touchedDf.filter(coalesce(cond, lit(false)))
        hits.withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(setSelect(hits, always = true)
            .withColumn(ChangeTypeCol, lit("update_postimage")))
      }) { touchedDf =>
      setSelect(touchedDf, always = false)
    }
  }

  /** Shared predicate-op skeleton: probe for touched files, rewrite
    * them through `transform`, publish one remove/add commit.
    * `cdcRows` (optional) builds the tagged row-level change frame
    * from the touched rows; written as a `_cdc/` sidecar and
    * referenced by the commit, exactly like `merge(cdc = true)`.
    */
  private def rewriteWhere(spark: SparkSession, path: String,
      cond: Column, op: String,
      cdcRows: Option[DataFrame => DataFrame] = None,
      candidatesOf: Option[TxLog.PlannedSnapshot => Seq[AddFile]] = None)(
      transform: DataFrame => DataFrame): RewriteMetrics = {
    var result: Option[RewriteMetrics] = None
    retrying(s"$op-where on $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      // Manifest pre-prune: the probe scan reads ONLY the files whose
      // zone maps could hold a TRUE row (StatsPredicate's conservative
      // range analysis, or the caller's own selection — e.g. the
      // point-set prune of deleteWhereMatchingAny) — a clustered range
      // delete over a 100 TB table probes O(matching files), not the
      // world. Sidecar-backed manifests prune distributed
      // (ManifestPlan twin).
      val candidates = candidatesOf.map(_(psnap)).getOrElse {
        if (!psnap.isDistributed)
          StatsPredicate.prune(snap.files, cond, snap.physName)
        else prunedDistributed(spark, path, psnap,
          ManifestPlan.prunePredicate(cond, snap.physName))
      }
      lazy val totalFiles = ManifestPlan.fileCount(spark, path, psnap)
      val hconf = spark.sessionState.newHadoopConf()
      val byAbs: Map[String, AddFile] =
        candidates.map(f => entryKey(hconf, path, f.path) -> f).toMap
      val touched = readFilesTagged(spark, path, snap, candidates, "_gf")
        .filter(coalesce(cond, lit(false)))
        .select("_gf").distinct().collect()
        .map { r =>
          val abs = scanKey(r.getString(0))
          byAbs.getOrElse(abs, sys.error(
            s"scanned file $abs not in the manifest (table $path)"))
        }.toSeq
      if (touched.isEmpty) {
        result = Some(RewriteMetrics(snap.version, candidates.size.toLong,
          0, totalFiles, 0, 0))
        true
      } else {
        val touchedDf = readFiles(spark, path, snap, touched)
        val out = transform(touchedDf)
          .select(readSchemaCols(snap).map(col): _*)
        val cdcDir = cdcRows.map(build => writeCdcDir(spark, path,
          build(touchedDf), snap.columnMap.getOrElse(Map.empty)))
        val adds = writeFiles(spark, path, out, snap.statsCols,
          snap.partitionCols.getOrElse(Seq.empty),
          snap.checkConstraints, snap.columnMap.getOrElse(Map.empty))
        val committed = TxLog.tryCommit(spark, path,
          Commit(snap.version + 1, op, adds, touched.map(_.path),
            None, None, None, None, cdcDir))
        if (committed)
          result = Some(RewriteMetrics(snap.version + 1,
            candidates.size.toLong, touched.size.toLong,
            totalFiles - touched.size,
            touched.map(_.rows).sum, adds.map(_.rows).sum))
        committed
      }
    }
    result.get
  }

  private def alreadyApplied(snap: Snapshot,
      txn: Option[TxLog.Txn]): Boolean =
    txn.exists(t => snap.txnVersion(t.app).exists(_ >= t.version))

  /** Bin-pack files smaller than `smallFileRows` into full rewrites of
    * `targetFileCount` output files. Contents are untouched; only
    * layout changes (the identity the `table_compact` gate pins).
    */
  def compact(spark: SparkSession, path: String, smallFileRows: Long,
      targetFileCount: Int): Unit =
    retrying(s"compact $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val smalls =
        if (!psnap.isDistributed)
          snap.files.filter(_.rows < smallFileRows)
        else ManifestPlan.collectSurvivors(spark, path, psnap,
          col("rows") < lit(smallFileRows))
      if (smalls.size <= 1) true
      else {
        val packed = readFiles(spark, path, snap, smalls)
          .repartition(targetFileCount)
        val adds = writeFiles(spark, path, packed, snap.statsCols,
          snap.partitionCols.getOrElse(Seq.empty),
          colMap = snap.columnMap.getOrElse(Map.empty))
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "compact",
          adds, smalls.map(_.path), None, None))
      }
    }

  /** OPTIMIZE: rewrite the whole table through `layout` — a clustering
    * transform such as `_.repartitionByRange(n, col(k))
    * .sortWithinPartitions(k)` or [[graft.operators.ZOrder.cluster]] /
    * [[graft.operators.HilbertLayout.cluster]] for multi-dimension
    * workloads. Contents are untouched (same identity as [[compact]]);
    * what changes is the FILE↔KEY-RANGE correspondence, which is what
    * makes the manifest zone maps selective: after ingest has scattered
    * keys across files, merges and stats-pruned reads degrade to
    * full-table work — one optimize restores O(touched-range) behavior
    * (CowTableSpec pins exactly this before/after). At 100 TB this
    * runs incrementally in production (optimize the files a predicate
    * selects, not the world); the whole-table form here is the
    * building block, and time travel keeps the pre-layout versions
    * readable.
    */
  def optimize(spark: SparkSession, path: String,
      layout: DataFrame => DataFrame): Unit =
    retrying(s"optimize $path") {
      // planned, not materialized: the rewrite reads through the
      // FileIndex and the removes are a lean path listing (round 16 —
      // whole-table maintenance no longer decodes the manifest)
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val out = layout(readFull(spark, path, psnap))
        .select(readSchemaCols(snap).map(col): _*)
      val adds = writeFiles(spark, path, out, snap.statsCols,
        snap.partitionCols.getOrElse(Seq.empty),
        colMap = snap.columnMap.getOrElse(Map.empty))
      TxLog.tryCommit(spark, path, Commit(snap.version + 1, "optimize",
        adds, ManifestPlan.livePaths(spark, path, psnap), None, None))
    }

  /** Predicate-scoped OPTIMIZE — the form production actually runs at
    * 100 TB (the whole-table [[optimize]] is the building block; its
    * own scaladoc says so). Only files whose zone map on `column` may
    * overlap `[lo, hi]` (string-encoded bounds, [[TxLog.ColStats]]
    * comparison rules — the [[readOverlapping]] pruning verbatim) are
    * read, re-clustered through `layout`, and republished in ONE
    * remove/add commit; every file OUTSIDE the predicate survives
    * byte-identical on disk and its manifest entry never moves. This is
    * how a nightly job restores zone-map selectivity over just the
    * ingest range that scattered (e.g. yesterday's partition) at
    * O(range) cost instead of O(table). Returns the number of files
    * rewritten (0 = nothing selected, no commit).
    */
  def optimizeWhere(spark: SparkSession, path: String, column: String,
      lo: String, hi: String, layout: DataFrame => DataFrame): Long = {
    var rewritten = 0L
    retrying(s"optimizeWhere $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      // conservative-EXCLUSIVE selection (exists, and a comparable
      // kind): a READ must include stats-less/opaque files or miss
      // rows, but a layout REWRITE including them is pure waste — a
      // maintenance pass with several hot ranges would rewrite every
      // such file once per range, forever
      val ph = snap.physName(column)
      val sel =
        if (!psnap.isDistributed)
          snap.files.filter(_.stats.get(ph).exists(st =>
            st.kind != "opaque" && st.mayOverlap(lo, hi)))
        else ManifestPlan.collectSurvivors(spark, path, psnap,
          ManifestPlan.mayOverlapExclusive(ph, lo, hi))
      rewritten = sel.size.toLong
      if (sel.isEmpty) true
      else {
        val out = layout(readFiles(spark, path, snap, sel))
          .select(readSchemaCols(snap).map(col): _*)
        val adds = writeFiles(spark, path, out, snap.statsCols,
          snap.partitionCols.getOrElse(Seq.empty),
          colMap = snap.columnMap.getOrElse(Map.empty))
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "optimize",
          adds, sel.map(_.path), None, None))
      }
    }
    rewritten
  }

  /** [[optimizeWhere]]'s predicate form: rewrites the files whose zone
    * maps could hold a row matching `cond` ([[StatsPredicate]] — the
    * same conjunct analysis the predicate DML plans with), so a
    * multi-conjunct scope ("yesterday's partition AND this key band")
    * selects exactly like a [[readWhere]]. File-granular like the
    * range form: selected files rewrite WHOLE through `layout`.
    */
  def optimizeMatching(spark: SparkSession, path: String, cond: Column,
      layout: DataFrame => DataFrame): Long = {
    var rewritten = 0L
    retrying(s"optimizeMatching $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val sel =
        if (!psnap.isDistributed)
          StatsPredicate.pruneForRewrite(snap.files, cond, snap.physName)
        else prunedDistributed(spark, path, psnap,
          ManifestPlan.rewritePredicate(cond, snap.physName))
      rewritten = sel.size.toLong
      if (sel.isEmpty) true
      else {
        val out = layout(readFiles(spark, path, snap, sel))
          .select(readSchemaCols(snap).map(col): _*)
        val adds = writeFiles(spark, path, out, snap.statsCols,
          snap.partitionCols.getOrElse(Seq.empty),
          colMap = snap.columnMap.getOrElse(Map.empty))
        TxLog.tryCommit(spark, path, Commit(snap.version + 1, "optimize",
          adds, sel.map(_.path), None, None))
      }
    }
    rewritten
  }

  /** INSERT OVERWRITE: atomically replace the table's ENTIRE contents
    * with `df` in one remove-all/add-all commit (schema must match —
    * this is a data operation, not an evolution; time travel keeps
    * every pre-overwrite version readable). `op` names the commit for
    * DESCRIBE HISTORY consumers that key on it (e.g. the ANN index's
    * "retrain" epoch commits). Returns the committed version.
    */
  def overwrite(spark: SparkSession, path: String, df: DataFrame,
      op: String = "overwrite"): Long = {
    var committed = 0L
    retrying(s"$op $path") {
      val psnap = TxLog.snapshotPlanned(spark, path)
      val snap = psnap.meta
      val out = df.select(readSchemaCols(snap).map(col): _*)
      val adds = writeFiles(spark, path, out, snap.statsCols,
        snap.partitionCols.getOrElse(Seq.empty), snap.checkConstraints,
        snap.columnMap.getOrElse(Map.empty))
      val won = TxLog.tryCommit(spark, path, Commit(snap.version + 1,
        op, adds, ManifestPlan.livePaths(spark, path, psnap), None, None))
      if (won) committed = snap.version + 1
      won
    }
    committed
  }

  /** [[overwrite]]'s COMPARE-AND-SWAP form: publish the replacement
    * ONLY if the table still sits at `expectedVersion` — the
    * read-modify-overwrite primitive a derived fold (e.g.
    * [[graft.text.Bm25Table.compactDf]]) needs: a plain overwrite's
    * retry loop would re-read the SNAPSHOT but keep the stale frame,
    * silently dropping whatever a concurrent writer appended between
    * the caller's read and the commit (review r16). Returns false on
    * any rival commit — re-derive against the new head and try again;
    * the staged files of a lost attempt are vacuum-reclaimable.
    */
  def tryOverwrite(spark: SparkSession, path: String, df: DataFrame,
      expectedVersion: Long, op: String = "overwrite"): Boolean = {
    val psnap = TxLog.snapshotPlanned(spark, path)
    if (psnap.meta.version != expectedVersion) return false
    val snap = psnap.meta
    val out = df.select(readSchemaCols(snap).map(col): _*)
    val adds = writeFiles(spark, path, out, snap.statsCols,
      snap.partitionCols.getOrElse(Seq.empty), snap.checkConstraints,
      snap.columnMap.getOrElse(Map.empty))
    TxLog.tryCommit(spark, path, Commit(expectedVersion + 1,
      op, adds, ManifestPlan.livePaths(spark, path, psnap), None, None))
  }

  /** Live paths of every version inside the retention window — THE
    * keep-set rule, shared by [[vacuum]] and [[cloneLeaseReport]] so
    * the report's `files_deferred` can never disagree with what
    * vacuum actually defers.
    */
  private def retentionKeep(spark: SparkSession, path: String,
      latest: Long, retainVersions: Int): Set[String] =
    (math.max(1, latest - retainVersions + 1) to latest)
      .flatMap(v => livePathsAt(spark, path, v))
      .toSet

  /** Live relative paths at `v` — the lean per-version listing the
    * maintenance keep-set folds are made of (round 16: path strings
    * cross the driver, decoded manifests don't).
    */
  private def livePathsAt(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    ManifestPlan.livePaths(spark, path,
      TxLog.snapshotPlanned(spark, path, Some(v)))

  /** Delete data files referenced by NO snapshot within the last
    * `retainVersions` versions (older versions become unreadable —
    * the standard retention trade). Returns deleted relative paths.
    *
    * '''Safe alongside writers''' via the age gate: an in-flight
    * operation publishes its data files into `data/` BEFORE its log
    * commit ([[writeFiles]] renames, then [[TxLog.tryCommit]]), so an
    * unreferenced-but-fresh parquet may be a commit-in-progress, not
    * garbage — deleting it would let the subsequent commit succeed
    * while referencing destroyed files (permanent read failure). Only
    * unreferenced files older than `retentionMs` are reclaimed (the
    * Delta `deletedFileRetentionDuration` discipline, default 7 days);
    * the same gate covers `.staging` op dirs, so a crashed writer's
    * leftovers are swept while a live writer's staging survives. The
    * residual assumption is bounded and documented: a single
    * write-to-commit window must not exceed the retention horizon.
    */
  def vacuum(spark: SparkSession, path: String,
      retainVersions: Int = 2,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val f = TxLog.fs(spark, path)
    val latest = TxLog.latestVersion(spark, path)
    val retainKeep = retentionKeep(spark, path, latest, retainVersions)
    val dataDir = new Path(path, "data")
    if (!f.exists(dataDir)) return Seq.empty
    val horizon = System.currentTimeMillis() - retentionMs
    // Clone leases pin their cloned version's files IN ADDITION to the
    // retention window: a registered clone's external references stay
    // readable however far the source moves on, until the lease is
    // dropped (dropCloneLease — after materialize, or abandonment).
    // This turns the documented shallow-clone retention caveat into a
    // contract the vacuum enforces. Leases are (re-)read HERE, after
    // the retention folds and immediately before the reclaim walk
    // (ADVICE r14 — reading them at entry left the whole fold time as
    // a registration race window). The residual window is the walk
    // itself, plus the inherent one: a clone of a version whose files
    // already left the retention window can race a concurrent vacuum
    // pass that started before its lease landed — shallowClone's
    // register-before-commit order bounds this to in-flight passes,
    // and a clone of a RETAINED version is always safe.
    val leaseVersions = cloneLeases(spark, path).map(_.srcVersion)
      .distinct.filter(v => v >= 1 && v <= latest)
    val keep = retainKeep ++ leaseVersions
      .flatMap(v => livePathsAt(spark, path, v))
    // QUALIFIED root: a cwd-relative table path (every other op
    // qualifies through the FileSystem) would otherwise never prefix
    // the walked absolute paths — rel would keep the full path, match
    // nothing in the keep set, and vacuum would delete every live
    // data file past the age gate (silent table destruction)
    val root = f.makeQualified(new Path(path)).toUri.getPath
      .stripSuffix("/")
    // Plain listStatus recursion, tolerant per entry: vacuum runs
    // ALONGSIDE writers, whose task commits rename files out from
    // under the walk — a vanished entry is simply not reclaimable this
    // pass. (Hadoop's recursive listFiles also shells out for
    // permissions on the local FS and throws on exactly that race.)
    def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      (try f.listStatus(dir).toSeq
      catch { case _: java.io.IOException => Seq.empty })
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Seq(st))
    val deleted = scala.collection.mutable.ArrayBuffer[String]()
    walk(dataDir).foreach { st =>
      val rel = st.getPath.toUri.getPath
        .stripPrefix(root).stripPrefix("/")
      if (st.isFile && !keep.contains(rel) && rel.endsWith(".parquet") &&
          st.getModificationTime <= horizon) {
        if (dryRun) deleted += rel
        else try { f.delete(st.getPath, false); deleted += rel }
        catch { case _: java.io.IOException => () }
      }
    }
    // CDC sidecars: reclaim _cdc dirs not referenced by any RETAINED
    // version, behind the same age gate (a fresh unreferenced dir may
    // be a commit-in-progress).
    val cdcKeep = (math.max(1, latest - retainVersions + 1) to latest)
      .flatMap(v => scala.util.Try(
        TxLog.commitAt(spark, path, v).cdcDir).toOption.flatten)
      .toSet
    val cdcRoot = new Path(path, "_cdc")
    val cdcDirs =
      try { if (f.exists(cdcRoot)) f.listStatus(cdcRoot).toSeq else Seq.empty }
      catch { case _: java.io.IOException => Seq.empty }
    cdcDirs.foreach { d =>
      val rel = s"_cdc/${d.getPath.getName}"
      val newest = (d.getModificationTime +:
        walk(d.getPath).map(_.getModificationTime)).max
      if (!cdcKeep.contains(rel) && newest <= horizon) {
        if (dryRun) deleted += rel
        else try { f.delete(d.getPath, true); deleted += rel }
        catch { case _: java.io.IOException => () }
      }
    }
    // Deletion vectors: reclaim _dv dirs referenced by NO retained
    // version's manifest, behind the same age gate (a fresh
    // unreferenced vector may be a delete-in-progress). Lean: the
    // per-version refs come off the planned frames.
    // loud like retentionKeep: a failure here must abort the vacuum,
    // never silently classify a LIVE vector as unreferenced (review r16)
    val dvKeep = (math.max(1, latest - retainVersions + 1) to latest)
      .flatMap(v => ManifestPlan.dvRefs(spark, path,
        TxLog.snapshotPlanned(spark, path, Some(v))))
      .toSet
    val dvRoot = new Path(path, "_dv")
    val dvDirs =
      try { if (f.exists(dvRoot)) f.listStatus(dvRoot).toSeq else Seq.empty }
      catch { case _: java.io.IOException => Seq.empty }
    dvDirs.foreach { d =>
      val rel = s"_dv/${d.getPath.getName}"
      val newest = (d.getModificationTime +:
        walk(d.getPath).map(_.getModificationTime)).max
      if (!dvKeep.contains(rel) && newest <= horizon) {
        if (dryRun) deleted += rel
        else try { f.delete(d.getPath, true); deleted += rel }
        catch { case _: java.io.IOException => () }
      }
    }
    // staging/log-temp sweeps report nothing either way; a dry run
    // must not mutate ANYTHING, so stop here.
    if (dryRun) return deleted.toSeq
    // Crashed-writer staging leftovers: reclaim an op dir only when its
    // NEWEST file predates the horizon — a live writer's staging is
    // still being written (or was written within the window) and its
    // publish renames would find the files gone.
    val staging = new Path(path, ".staging")
    val opDirs =
      try { if (f.exists(staging)) f.listStatus(staging).toSeq else Seq.empty }
      catch { case _: java.io.IOException => Seq.empty }
    opDirs.foreach { opDir =>
      val newest = (opDir.getModificationTime +:
        walk(opDir.getPath).map(_.getModificationTime)).max
      if (newest <= horizon) {
        try { f.delete(opDir.getPath, true); () }
        catch { case _: java.io.IOException => () }
      }
    }
    // Crashed-writer leftovers in the LOG dir: commit temps
    // (.tmp-*.json) and staged checkpoints (.ckpt-*.tmp) are transient
    // by construction — every durable log artifact is a bare
    // <version>.json / <version>.checkpoint.json — so any aged dotfile
    // is safe to sweep behind the same gate.
    val logDir = new Path(path, TxLog.LogDir)
    val logTmp =
      try { if (f.exists(logDir)) f.listStatus(logDir).toSeq else Seq.empty }
      catch { case _: java.io.IOException => Seq.empty }
    // Superseded checkpoints: keep the newest two checkpoint versions
    // (newest for fresh opens, one spare for a reader mid-fold on it),
    // reclaim older .checkpoint.json docs and their parquet sidecars
    // behind the age gate. Always safe: checkpoints are an
    // OPTIMIZATION — a time-traveled read below the oldest kept
    // checkpoint degrades to the full commit fold, the commits stay
    // the truth. At a checkpoint per 20 commits with 100k-entry
    // parquet sidecars, an unswept year of metadata outweighs the
    // data churn it describes.
    val ckptVs = logTmp.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.json"))
      .map(_.take(20).toLong).sorted
    val ckptKeep = ckptVs.takeRight(2).toSet
    logTmp.foreach { st =>
      val n = st.getPath.getName
      val superseded =
        (n.matches("\\d{20}\\.checkpoint\\.json") ||
          n.matches("\\d{20}\\.checkpoint\\.files\\.parquet")) &&
          !ckptKeep.contains(n.take(20).toLong)
      if (superseded && st.getModificationTime <= horizon) {
        try { f.delete(st.getPath, st.isDirectory); () }
        catch { case _: java.io.IOException => () }
      }
      if (st.getPath.getName.startsWith(".") &&
          st.getModificationTime <= horizon) {
        // files: commit temps / staged checkpoints. Directories: a
        // crashed parquet-checkpoint stage (.ckptp-*) — gate on the
        // NEWEST file inside, like the data staging sweep.
        val reclaim = st.isFile ||
          (st.getModificationTime +: walk(st.getPath)
            .map(_.getModificationTime)).max <= horizon
        if (reclaim) {
          try { f.delete(st.getPath, st.isDirectory); () }
          catch { case _: java.io.IOException => () }
        }
      }
    }
    deleted.toSeq
  }

  /** RESTORE to `version` — the rollback every table format grows for
    * the bad-deploy morning: ONE new commit whose removes are the
    * files added since `version` and whose adds are the files that
    * version held but the head lost. History is NEVER rewritten — the
    * bad commits stay readable under time travel (audit), the restore
    * is itself a commit (restorable again), and since data files are
    * immutable the restored adds are pure manifest references, zero
    * bytes copied. Requires the target version's files to still exist
    * (i.e. not vacuumed — the same retention contract as time travel);
    * verified against the manifest before committing so a reaped
    * restore fails loudly rather than publishing dead references.
    */
  def restore(spark: SparkSession, path: String, version: Long): Unit =
    retrying(s"restore $path to v$version") {
      val pHead = TxLog.snapshotPlanned(spark, path)
      val pTarget = TxLog.snapshotPlanned(spark, path, Some(version))
      val (head, target) = (pHead.meta, pTarget.meta)
      // delta sets: on sidecar-backed manifests two anti-joins collect
      // only the files the restore actually touches (round 16) — a
      // restore between nearby versions of a 10⁶-file table is
      // delta-proportional; inline manifests keep the driver sets
      // delta identity is (path, rows, dv), not path alone: a
      // deletion-vector commit MUTATES an entry in place (same path,
      // new dv/rows), and a path-only delta would silently keep the
      // head's vectors across the restore (review r16). A changed
      // entry re-adds under its target identity — the fold's
      // by-path update replaces it.
      val (adds, removes) =
        if (!pHead.isDistributed && !pTarget.isDistributed) {
          val headBy = head.files
            .map(a => a.path -> ((a.rows, a.dv))).toMap
          val targetPaths = target.files.map(_.path).toSet
          (target.files.filter(a =>
            !headBy.get(a.path).contains((a.rows, a.dv))),
            head.files.map(_.path).filterNot(targetPaths.contains))
        } else ManifestPlan.restoreDelta(spark, path, pHead, pTarget)
      val conf = spark.sessionState.newHadoopConf()
      adds.foreach { a =>
        // resolve against the ENTRY's filesystem — an external (clone)
        // reference may live on a different FS than the table root
        val p = new Path(fileUri(path, a.path))
        require(p.getFileSystem(conf).exists(p),
          s"cannot restore to v$version: ${a.path} was vacuumed")
        // ...and the entry's deletion vector must exist too, or the
        // restored table would publish unreadable (review r16)
        a.dv.foreach { d =>
          val dp = new Path(path, d)
          require(dp.getFileSystem(conf).exists(dp),
            s"cannot restore to v$version: deletion vector $d of " +
              s"${a.path} was vacuumed")
        }
      }
      // Re-added files may predate a constraint: addConstraint only
      // scanned the then-LIVE snapshot, so a file removed before the
      // constraint landed was never validated against it. Validate
      // the re-adds against the head's constraints before publishing
      // (ADVICE r12) — a constraint referencing a column the target
      // schema lacks fails analysis, which is equally loud.
      if (head.checkConstraints.nonEmpty && adds.nonEmpty) {
        val readded = readAddsAs(spark, path,
          StructType.fromDDL(target.schemaDDL), adds,
          target.columnMap.getOrElse(Map.empty))
        head.checkConstraints.foreach { case (name, e) =>
          firstViolation(readded, e).foreach(row => sys.error(
            s"cannot restore $path to v$version: re-added rows violate " +
              s"CHECK constraint '$name' ($e): $row — drop the " +
              "constraint first or restore to a version it holds on"))
        }
      }
      if (removes.isEmpty && adds.isEmpty) true
      else TxLog.tryCommit(spark, path, Commit(head.version + 1,
        "restore", adds, removes,
        // the restored SCHEMA travels too: a post-target evolution is
        // rolled back with the data (old files can't fill new columns
        // the restored rows never had — restating the target DDL keeps
        // reads consistent). The column MAP restores with it (a
        // post-target rename/drop rolls back); retired physical names
        // stay grow-only so they can never be rebound.
        Some(target.schemaDDL), None, None,
        columnMap = Some(target.columnMap.getOrElse(Map.empty)),
        retiredPhys = Some(
          (head.retiredPhys.getOrElse(Seq.empty) ++
            target.retiredPhys.getOrElse(Seq.empty)).distinct)))
    }

  /** SHALLOW CLONE: create a new table at `dstPath` whose manifest
    * REFERENCES `srcPath`'s data files by absolute path — zero bytes
    * copied, one metadata commit, however large the source. The
    * dev/test/experiment workflow every table format grows: fork a
    * 100 TB production table in milliseconds, run destructive
    * experiments against the fork, throw it away.
    *
    * The clone is an INDEPENDENT table from birth: its own log, so
    * writes to either side never affect the other (the source's files
    * are immutable — a clone-side merge/delete REWRITES its copy of a
    * touched file into the clone's own `data/` and drops the external
    * reference; zone maps, constraints, schema and partition layout
    * carry over; `asOfVersion` clones a time-traveled snapshot).
    * A whole-table [[optimize]] doubles as MATERIALIZE: after it, no
    * external references remain.
    *
    * '''Retention contract''' (round 14 — the Delta shallow-clone
    * caveat turned into an enforced contract): [[shallowClone]]
    * registers a LEASE under the source's `_clones/` pinning the
    * cloned version; the source's [[vacuum]] consults the leases and
    * DEFERS every file that version references, however far the
    * source moves on. Release with [[dropCloneLease]] once the clone
    * is materialized (a whole-table [[optimize]] leaves no external
    * references) or abandoned. The clone's own vacuum only ever walks
    * the clone's `data/`, so it can never delete source files.
    */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
      asOfVersion: Option[Long] = None,
      leaseOwner: Option[String] = None): Unit = {
    require(TxLog.latestVersion(spark, dstPath) == 0,
      s"table already exists at $dstPath")
    val psnap = TxLog.snapshotPlanned(spark, srcPath, asOfVersion)
    val snap = psnap.meta
    requireNoDv(spark, srcPath, psnap, "shallowClone")
    // Register the clone LEASE in the source BEFORE the clone commit
    // exists, so a source-side vacuum can never miss an active clone
    // (a crash in between leaves an orphan lease — reclaimable with
    // dropCloneLease, never dangerous). The lease pins the cloned
    // VERSION's files; see [[vacuum]] and [[cloneLeaseReport]].
    writeCloneLease(spark, srcPath, dstPath, snap.version, leaseOwner)
    // External references are FULLY QUALIFIED URIs (scheme +
    // authority), so a clone of an s3a/hdfs table — or a clone landing
    // on a different filesystem than its source — resolves each entry
    // against the entry's OWN filesystem instead of the clone root's
    // default FS (ADVICE r13: the bare-path form dropped the scheme
    // and `isExternal` keyed on a leading '/').
    val srcRoot = TxLog.fs(spark, srcPath)
      .makeQualified(new Path(srcPath)).toUri.toString.stripSuffix("/")
    val tableState = Commit(1L, "clone",
      Seq.empty, Seq.empty, Some(snap.schemaDDL),
      Some(snap.statsCols), None, snap.partitionCols, None,
      constraintsAdd =
        if (snap.checkConstraints.isEmpty) None
        else Some(snap.checkConstraints),
      columnMap = snap.columnMap,
      retiredPhys = snap.retiredPhys)
    val c =
      if (!psnap.isDistributed) {
        // a clone of a clone keeps grand-source references as they
        // are — external entries already carry their own root
        val adds = snap.files.map(f =>
          f.copy(path = fileUri(srcRoot, f.path)))
        // a protocol-2 reader keys externality on a leading '/' and
        // would resolve `file:/...` against the clone root — refuse
        // it loudly (protocol 1 couldn't read external refs at all);
        // a NESTED column map raises the floor further (minReaderFor)
        tableState.copy(adds = adds, minReader = Some(math.max(3,
          snap.columnMap.map(minReaderFor).getOrElse(1))))
      } else {
        // sidecar-backed source (round 16): the clone's entries are
        // the source's planned frame with paths resolved to external
        // references, written STRAIGHT to a commit adds-sidecar — a
        // 10⁶⁺-file clone never materializes either side's manifest
        // on the driver. Protocol 5: an older reader would ignore the
        // ref and silently read an empty table.
        val entries = ManifestPlan.filesDf(spark, srcPath, psnap)
          .withColumn("path",
            when(isExternalCol(col("path")), col("path"))
              .otherwise(concat(lit(srcRoot + "/"), col("path"))))
        val ref = TxLog.writeCommitAddsSidecar(spark, dstPath, 1L,
          entries)
        tableState.copy(minReader = Some(5), addsRef = Some(ref))
      }
    require(TxLog.tryCommit(spark, dstPath, c),
      s"concurrent create at $dstPath")
  }

  /** Clones REFUSE vector-carrying sources (review r16): a cloned
    * `_dv/` ref would resolve against the clone's own root where no
    * vector exists (shallow), or dangle after a source vacuum (deep) —
    * and silently resurrecting deleted rows is the one failure mode
    * protocol 6 exists to prevent. Drain first; one purge makes the
    * source cloneable forever.
    */
  private def requireNoDv(spark: SparkSession, srcPath: String,
      psnap: TxLog.PlannedSnapshot, what: String): Unit =
    require(
      if (!psnap.isDistributed) psnap.meta.files.forall(_.dv.isEmpty)
      else !psnap.meta.minReader.exists(_ >= 6) ||
        ManifestPlan.dvRefs(spark, srcPath, psnap).isEmpty,
      s"$what: the source carries deletion vectors — run purgeDv (or " +
        "any optimize) on it first, then clone")

  /** Column twin of [[TxLog.isExternalPath]] — used by the lean clone
    * writers to resolve manifest paths inside the frame.
    */
  private def isExternalCol(p: Column): Column =
    p.startsWith("/") || p.rlike("^[A-Za-z][A-Za-z0-9+.-]*:/")

  /** DEEP CLONE: an independent byte-for-byte COPY of the table at
    * `asOfVersion` — the backup / migration / archival face, and the
    * decoupled sibling of [[shallowClone]]: the clone's manifest
    * references its OWN copied files, so there are NO external
    * references, NO lease, and NO retention coupling — source and
    * clone vacuum freely from birth (the operational property a
    * backup exists for; a shallow clone is a fork, a deep clone is a
    * copy). Contents, schema, stats columns, partition layout,
    * constraints, and the column map all carry over; relative paths
    * are preserved (hive `col=value` partition segments keep parsing),
    * and a clone-of-a-shallow-clone's EXTERNAL references materialize
    * into the copy — a deep clone never dangles.
    *
    * The file copies run DISTRIBUTED — one Spark job over the manifest
    * entries, raw byte streams (no parquet re-encode, layout and
    * zone maps stay exact): at 100 TB this is an executor-parallel
    * copy bounded by aggregate I/O, never a driver loop. The manifest
    * fold itself is maintenance-class (materializing — the documented
    * full-read cost).
    */
  def deepClone(spark: SparkSession, srcPath: String, dstPath: String,
      asOfVersion: Option[Long] = None): Unit = {
    require(TxLog.latestVersion(spark, dstPath) == 0,
      s"table already exists at $dstPath")
    val psnap = TxLog.snapshotPlanned(spark, srcPath, asOfVersion)
    requireNoDv(spark, srcPath, psnap, "deepClone")
    if (psnap.isDistributed) {
      deepCloneLean(spark, srcPath, dstPath, psnap); return
    }
    val snap = psnap.meta
    // A LEASE protects the copy window (the shallowClone discipline —
    // registered BEFORE any file is read): without it, a concurrent
    // source vacuum could reclaim the snapshot's files mid-copy and
    // abort an hours-long 100 TB backup partway. Dropped after the
    // clone commits — a deep clone has no retention coupling once its
    // bytes are its own; a crash in between leaves an orphan lease,
    // reclaimable with dropCloneLease, never dangerous.
    writeCloneLease(spark, srcPath, dstPath, snap.version,
      Some("deep-clone-in-flight"))
    try {
      val srcRoot = TxLog.fs(spark, srcPath)
        .makeQualified(new Path(srcPath)).toUri.toString.stripSuffix("/")
      val dstRoot = TxLog.fs(spark, dstPath)
        .makeQualified(new Path(dstPath)).toUri.toString.stripSuffix("/")
      // destination-relative path: internal entries keep their layout;
      // external (shallow-clone) references re-root under the SOURCE's
      // data-relative suffix (op-uuid dirs keep the union
      // collision-free); an external entry outside any data root fails
      // loudly, like dataRootOf — a silent mangle would land files
      // outside data/ and break hive partition parsing
      def relOf(p: String): String =
        if (!isExternal(p)) p
        else {
          val i = p.lastIndexOf("/data/")
          require(i >= 0,
            s"external manifest entry outside any data root: $p")
          "data" + p.substring(i + "/data".length)
        }
      val pairs = snap.files.map(f =>
        (fileUri(srcRoot, f.path), s"$dstRoot/${relOf(f.path)}"))
      if (pairs.nonEmpty) {
        val conf = org.apache.spark.sql.graft.HadoopConfBridge
          .broadcast(spark.sparkContext,
            spark.sessionState.newHadoopConf())
        // parallelism scales with the cluster (the scaladoc's
        // "bounded by aggregate I/O" claim), floored so small
        // local runs still fan out
        val slices = math.min(pairs.size,
          math.max(64, spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext
          .parallelize(pairs, math.max(1, slices))
          .foreachPartition { it =>
            val c = org.apache.spark.sql.graft.HadoopConfBridge.value(conf)
            it.foreach { case (src, dst) =>
              val sp = new Path(src); val dp = new Path(dst)
              val dfs = dp.getFileSystem(c)
              // Stage + RENAME, never a direct overwrite: a rival
              // deepClone of the same source writes IDENTICAL
              // destination paths (relOf preserves source layout), and
              // a concurrent create-overwrite could tear a file the
              // rival already published (create+truncate is not
              // atomic). Each copier streams into its own tmp and
              // renames in; a rename is atomic, and since identical
              // paths imply identical source bytes (op-unique names),
              // whichever publish lands the file is complete and
              // correct. An already-present destination (rival got
              // there first, or an orphan of a crashed attempt — both
              // complete by the rename discipline) is skipped.
              if (!dfs.exists(dp)) {
                val tmp = new Path(dp.getParent,
                  s".${dp.getName}.${java.util.UUID.randomUUID()}.tmp")
                dfs.mkdirs(dp.getParent)
                org.apache.hadoop.fs.FileUtil.copy(
                  sp.getFileSystem(c), sp, dfs, tmp,
                  false /* keep source */, true /* overwrite */, c)
                if (!dfs.rename(tmp, dp)) {
                  // a failed rename is only benign when the rival's
                  // complete file IS there — otherwise publishing the
                  // manifest would reference missing bytes (review r16)
                  require(dfs.exists(dp),
                    s"deep-clone copy publish failed for $dp and no " +
                      "rival file is present")
                  dfs.delete(tmp, false); ()
                }
              }
            }
          }
      }
      val c = Commit(1L, "deep_clone",
        snap.files.map(f => f.copy(path = relOf(f.path))), Seq.empty,
        Some(snap.schemaDDL), Some(snap.statsCols), None,
        snap.partitionCols, None,
        constraintsAdd =
          if (snap.checkConstraints.isEmpty) None
          else Some(snap.checkConstraints),
        columnMap = snap.columnMap,
        retiredPhys = snap.retiredPhys,
        // no external refs in a deep clone — the only protocol need
        // left is the column map's
        minReader = snap.columnMap.map(minReaderFor))
      if (!TxLog.tryCommit(spark, dstPath, c)) {
        // lost the create race AFTER the copy: reclaim our copied
        // bytes instead of silently leaking a table-sized orphan set —
        // but NEVER a path the winning commit's manifest references.
        // A rival deepClone of the same source writes IDENTICAL paths
        // (relOf preserves source layout), so a blind delete here
        // would destroy the committed winner's data files and leave
        // its manifest dangling (ADVICE r15 medium). Non-clone rivals'
        // files live under their own op dirs and never collide, so
        // their orphans still reclaim in full.
        reclaimLostCopies(spark, dstPath, dstRoot, pairs.map(_._2))
        sys.error(s"concurrent create at $dstPath (copied files " +
          "reclaimed where the winner doesn't reference them)")
      }
    } finally { dropCloneLease(spark, srcPath, dstPath); () }
  }

  /** [[deepClone]] of a SIDECAR-BACKED source (round 16): the copy
    * pairs and the clone's manifest entries both derive from the
    * source's PLANNED frame — neither side's manifest ever
    * materializes on the driver. The copy job streams (src, dst)
    * pairs straight off the frame; the clone's entries write to a
    * commit adds-sidecar (protocol 5) with paths re-rooted by the
    * SAME rules as the driver form (`relOf`): internal entries keep
    * their layout, external (shallow-clone) references re-root under
    * their source-relative `data/` suffix — a greedy anchored
    * `regexp_replace` keys on the LAST `/data/` exactly like the
    * driver's `lastIndexOf`, and an external entry without a data
    * root fails loudly before any byte moves.
    */
  private def deepCloneLean(spark: SparkSession, srcPath: String,
      dstPath: String, psnap: TxLog.PlannedSnapshot): Unit = {
    val snap = psnap.meta
    writeCloneLease(spark, srcPath, dstPath, snap.version,
      Some("deep-clone-in-flight"))
    try {
      val srcRoot = TxLog.fs(spark, srcPath)
        .makeQualified(new Path(srcPath)).toUri.toString.stripSuffix("/")
      val dstRoot = TxLog.fs(spark, dstPath)
        .makeQualified(new Path(dstPath)).toUri.toString.stripSuffix("/")
      val ext = isExternalCol(col("path"))
      val frame = ManifestPlan.filesDf(spark, srcPath, psnap)
        .withColumn("_src",
          when(ext, col("path"))
            .otherwise(concat(lit(srcRoot + "/"), col("path"))))
        .withColumn("_rel",
          when(ext, regexp_replace(col("path"), "^.*/data/", "data/"))
            .otherwise(col("path")))
        .persist()
      try {
        val bad = frame
          .filter(ext && !col("path").contains("/data/")).limit(1)
          .collect()
        require(bad.isEmpty,
          s"external manifest entry outside any data root: " +
            s"${bad.headOption.map(_.getString(0)).getOrElse("")}")
        val conf = org.apache.spark.sql.graft.HadoopConfBridge
          .broadcast(spark.sparkContext,
            spark.sessionState.newHadoopConf())
        // same stage+rename copy discipline as the driver form
        frame.select(col("_src"),
            concat(lit(dstRoot + "/"), col("_rel")).as("_dst"))
          .repartition(math.max(64,
            spark.sparkContext.defaultParallelism * 2))
          .foreachPartition {
            (it: Iterator[org.apache.spark.sql.Row]) =>
            val c = org.apache.spark.sql.graft.HadoopConfBridge.value(conf)
            it.foreach { r =>
              val sp = new Path(r.getString(0))
              val dp = new Path(r.getString(1))
              val dfs = dp.getFileSystem(c)
              if (!dfs.exists(dp)) {
                val tmp = new Path(dp.getParent,
                  s".${dp.getName}.${java.util.UUID.randomUUID()}.tmp")
                dfs.mkdirs(dp.getParent)
                org.apache.hadoop.fs.FileUtil.copy(
                  sp.getFileSystem(c), sp, dfs, tmp, false, true, c)
                if (!dfs.rename(tmp, dp)) {
                  require(dfs.exists(dp),
                    s"deep-clone copy publish failed for $dp and no " +
                      "rival file is present")
                  dfs.delete(tmp, false); ()
                }
              }
            }
          }
        val entries = frame.select(col("_rel").as("path"), col("rows"),
          col("stats"), col("bytes"))
        val ref = TxLog.writeCommitAddsSidecar(spark, dstPath, 1L,
          entries)
        val c = Commit(1L, "deep_clone", Seq.empty, Seq.empty,
          Some(snap.schemaDDL), Some(snap.statsCols), None,
          snap.partitionCols, None,
          constraintsAdd =
            if (snap.checkConstraints.isEmpty) None
            else Some(snap.checkConstraints),
          columnMap = snap.columnMap,
          retiredPhys = snap.retiredPhys,
          minReader = Some(math.max(5,
            snap.columnMap.map(minReaderFor).getOrElse(1))),
          addsRef = Some(ref))
        if (!TxLog.tryCommit(spark, dstPath, c)) {
          // lost the create race AFTER the copy: lean reclaim — only
          // the destination path STRINGS cross the driver, and the
          // winner-aware rule is reclaimLostCopies' as always
          val copied = frame
            .select(concat(lit(dstRoot + "/"), col("_rel")))
            .collect().map(_.getString(0)).toSeq
          reclaimLostCopies(spark, dstPath, dstRoot, copied)
          sys.error(s"concurrent create at $dstPath (copied files " +
            "reclaimed where the winner doesn't reference them)")
        }
      } finally { frame.unpersist(blocking = false); () }
    } finally { dropCloneLease(spark, srcPath, dstPath); () }
  }

  /** The lost-create-race reclaim of [[deepClone]]: delete the copied
    * destination files EXCEPT any the winning CREATE commit (version
    * 1 — the commit the race was over; rival-added later files live
    * under their own op dirs and never collide) references, resolved
    * to on-disk locations — a shallow-clone winner's external refs
    * can never collide with our `dstRoot` copies; a deep-clone
    * winner's relative paths resolve to exactly the paths we wrote.
    * Keying on v1, not the LATEST snapshot, also keeps files the
    * winner already rewrote out of its head but still retains for
    * time travel safe (review r16). If the winner's commit can't be
    * read, reclaim NOTHING — leaking vacuum-able orphans is
    * recoverable, deleting a winner's data files is not.
    */
  private[tables] def reclaimLostCopies(spark: SparkSession,
      dstPath: String, dstRoot: String, copied: Seq[String]): Unit = {
    val winner: Set[String] =
      try TxLog.snapshot(spark, dstPath, Some(1L)).files
        .map(a => fileUri(dstRoot, a.path)).toSet
      catch { case scala.util.control.NonFatal(_) => return }
    val f = TxLog.fs(spark, dstPath)
    copied.filterNot(winner.contains).foreach { dst =>
      try { f.delete(new Path(dst), false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** A registered clone: where it lives, which source version its
    * external references pin, when the lease was taken, and (optional)
    * who owns it — the metadata an operator triaging a vacuum that
    * "reclaims nothing" reads first ([[cloneLeaseReport]]). Both new
    * fields default None so pre-upgrade lease files parse unchanged.
    */
  final case class CloneLease(id: String, clonePath: String,
      srcVersion: Long, createdAtMs: Option[Long] = None,
      owner: Option[String] = None)

  private def cloneDir(path: String) = new Path(path, "_clones")

  private def writeCloneLease(spark: SparkSession, srcPath: String,
      clonePath: String, srcVersion: Long,
      owner: Option[String]): Unit = {
    val f = TxLog.fs(spark, srcPath)
    f.mkdirs(cloneDir(srcPath))
    val id = java.util.UUID.randomUUID().toString
    // same serializer the reader parses with — no hand-spliced JSON
    val doc = org.json4s.jackson.Serialization.write(
      CloneLease(id, clonePath, srcVersion,
        Some(System.currentTimeMillis()), owner))(
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints))
    TxLog.writeString(f, new Path(cloneDir(srcPath), s"$id.json"), doc)
  }

  /** The operator face of the lease contract: one row per registered
    * lease with its AGE and the number of files it DEFERS beyond the
    * vacuum retention window — "why did last night's vacuum reclaim
    * nothing, and who do I page about it". An abandoned clone shows up
    * as an old lease with a non-zero deferral; release it with
    * [[dropCloneLease]]. (Deliberately a report, not an expiry: silent
    * lease expiry would re-open the broken-clone-reads hole the lease
    * exists to close.) Driver-side metadata fold, same cost class as
    * [[vacuum]]'s keep-set computation.
    */
  def cloneLeaseReport(spark: SparkSession, srcPath: String,
      retainVersions: Int = 2): DataFrame = {
    import spark.implicits._
    val latest = TxLog.latestVersion(spark, srcPath)
    val retainKeep = retentionKeep(spark, srcPath, latest, retainVersions)
    val now = System.currentTimeMillis()
    cloneLeases(spark, srcPath).map { l =>
      val deferred =
        if (l.srcVersion >= 1 && l.srcVersion <= latest)
          livePathsAt(spark, srcPath, l.srcVersion)
            .count(p => !retainKeep.contains(p)).toLong
        else 0L
      (l.id, l.clonePath, l.srcVersion,
        l.createdAtMs.map(t => new java.sql.Timestamp(t)).orNull,
        l.createdAtMs.map(t => (now - t) / 3600000.0).getOrElse(-1.0),
        l.owner.orNull, deferred)
    }.toDF("lease_id", "clone_path", "src_version", "created_at",
      "age_hours", "owner", "files_deferred")
  }

  /** The source table's registered clone leases ([[shallowClone]]
    * writes one per fork; [[dropCloneLease]] releases them).
    */
  def cloneLeases(spark: SparkSession, srcPath: String): Seq[CloneLease] = {
    val f = TxLog.fs(spark, srcPath)
    val dir = cloneDir(srcPath)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".json")).flatMap { st =>
      try {
        val jv = org.json4s.jackson.JsonMethods.parse(
          TxLog.readString(f, st.getPath))
        implicit val fm: org.json4s.Formats =
          org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
        Some(jv.extract[CloneLease])
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Release the lease(s) a clone at `clonePath` holds on `srcPath` —
    * the clone was materialized ([[optimize]] leaves no external
    * references), vacuumed away, or abandoned. After this the source's
    * [[vacuum]] stops deferring its files.
    */
  def dropCloneLease(spark: SparkSession, srcPath: String,
      clonePath: String): Int = {
    val f = TxLog.fs(spark, srcPath)
    val dropped = cloneLeases(spark, srcPath)
      .filter(_.clonePath == clonePath)
    dropped.foreach { l =>
      try { f.delete(new Path(cloneDir(srcPath), s"${l.id}.json"), false); () }
      catch { case _: java.io.IOException => () }
    }
    dropped.size
  }

  /** Column name [[readWithProvenance]] stamps. */
  val ProvenanceCol = "_commit_version"

  /** Snapshot read with ROW PROVENANCE: each row tagged with the
    * commit version whose write produced its file — the "which ingest
    * brought this row" audit a debugging session starts from, and the
    * join key back into [[TxLog.describeHistory]]'s per-commit
    * accounting. File→version comes from ONE driver-side log scan
    * (manifest-sized); rows join a broadcast (file-name → version) map
    * on the op-unique file name, so the tag costs one broadcast hash
    * join over the scan, no shuffle.
    *
    * Provenance is WRITE provenance: layout ops (compact / optimize)
    * and clone commits re-stamp the rows they rewrite or re-reference
    * — the same contract as every file-metadata-based lineage column.
    * Under an append/merge-only history it is exact ingest lineage.
    */
  def readWithProvenance(spark: SparkSession, path: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val psnap = TxLog.snapshotPlanned(spark, path, asOfVersion)
    val addedAt = scala.collection.mutable.Map[String, Long]()
    // Keying by file NAME is sound: names are op-unique
    // (`<opId>-part-<task>`), and the one collision partitionBy allows
    // — the same task file name under two partition dirs — is within
    // ONE op, i.e. one commit: both copies map to the same version.
    // The per-commit walk is inherent to provenance (each version's
    // adds live in its commit); the LIVE set is a lean path listing,
    // and the read itself goes through the FileIndex on sidecar-backed
    // tables (round 16 — no manifest decode).
    (1L to psnap.meta.version).foreach { v =>
      // lean path-only form: a protocol-5 clone's v1 names come from
      // its sidecar's path column, never the decoded AddFiles
      TxLog.commitAddPaths(spark, path,
        TxLog.commitAt(spark, path, v)).foreach(p =>
        addedAt.update(p.split('/').last, v))
    }
    val live = ManifestPlan.livePaths(spark, path, psnap)
      .map(_.split('/').last).toSet
    import spark.implicits._
    val nameToV = addedAt.toSeq.filter(p => live.contains(p._1))
      .toDF("_gf_name", ProvenanceCol)
    readFull(spark, path, psnap, tagFileName = Some("_gf_file"))
      .withColumn("_gf_name",
        element_at(split(col("_gf_file"), "/"), -1))
      .join(broadcast(nameToV), "_gf_name")
      .drop("_gf_name", "_gf_file")
  }

  /** Rows ADDED by commit `v` (the file-level change feed; for merges
    * this is rewritten survivors + updates + inserts — file-layout
    * dependent, so spec-pinned rather than oracle-pinned).
    */
  def changesAt(spark: SparkSession, path: String, v: Long): DataFrame = {
    val c = TxLog.commitAt(spark, path, v)
    val snap = TxLog.snapshotPlanned(spark, path, Some(v)).meta
    // commitAdds, not c.adds: a protocol-5 clone's v1 carries its adds
    // in a sidecar — the feed must ship the fork's full contents, not
    // a silently empty change set (review r16)
    readFiles(spark, path, snap, TxLog.commitAdds(spark, path, c))
  }

  /** [[changesAt]] restricted to rows matching `cond` — the change
    * feed's SELECTIVE form: the commit's add files are first pruned by
    * their zone maps ([[StatsPredicate]] — the same conservative range
    * analysis the predicate DML uses), then the full predicate applies
    * row-exactly. A consumer watching a narrow key slice of a wide
    * table's feed plans O(matching files) per commit instead of
    * shipping every commit whole.
    */
  def changesWhereAt(spark: SparkSession, path: String, v: Long,
      cond: Column): DataFrame = {
    val c = TxLog.commitAt(spark, path, v)
    val snap = TxLog.snapshotPlanned(spark, path, Some(v)).meta
    readFiles(spark, path, snap,
      StatsPredicate.prune(TxLog.commitAdds(spark, path, c), cond,
        snap.physName))
      .filter(cond)
  }

  /** Commit `v`'s added rows read under a PINNED logical schema +
    * column map (the change feed's conformance read): files are always
    * keyed by PHYSICAL names, so reading every commit of a feed under
    * the stream-start (schema, map) makes the feed RENAME-TRANSPARENT
    * — a catch-up across a rename surfaces the pinned logical names
    * with the real values (conforming by logical name instead would
    * silently null the renamed column for pre-rename commits).
    * Columns the commit's files predate read as typed nulls; `cond`
    * (optional) prunes the add files by zone map then filters
    * row-exactly, like [[changesWhereAt]].
    */
  private[graft] def changesAtPinned(spark: SparkSession, path: String,
      v: Long, dataDDL: String, colMap: Map[String, String],
      cond: Option[Column] = None): DataFrame = {
    val c = TxLog.commitAt(spark, path, v)
    val schema = StructType.fromDDL(dataDDL)
    val adds = TxLog.commitAdds(spark, path, c)
    val files = cond.fold(adds)(w =>
      StatsPredicate.prune(adds, w, n => colMap.getOrElse(n, n)))
    val df = readGrouped(spark, path, schema, files, colMap)
    cond.fold(df)(df.filter(_))
  }

  /** Row-level CDC of commit `v` (a `merge(cdc = true)` commit): the
    * exact change rows with [[ChangeTypeCol]] ∈ insert /
    * update_preimage / update_postimage / delete. Layout-independent
    * (unlike [[changesAt]]), so downstream consumers see pure deltas —
    * and the `table_merge_cdc` gate can pin it against a DuckDB replay.
    * Fails loudly when the commit wasn't CDC-enabled.
    */
  def changesCdcAt(spark: SparkSession, path: String, v: Long,
      snapAtV: Option[Snapshot] = None): DataFrame = {
    val c = TxLog.commitAt(spark, path, v)
    val dir = c.cdcDir.getOrElse(sys.error(
      s"commit $v of $path carries no CDC (merge ran without cdc=true)"))
    // callers that already folded the log to v pass the snapshot in —
    // a CDC catch-up otherwise pays the O(v) driver fold twice per
    // commit (once here, once for its own conformance)
    val snap = snapAtV.getOrElse(TxLog.snapshotPlanned(spark, path, Some(v)).meta)
    val logical = StructType.fromDDL(snap.schemaDDL)
    val colMap = snap.columnMap.getOrElse(Map.empty)
    val physFields = logical.fields.map(physField(_, colMap, ""))
    def quoted(c0: String) = s"`${c0.replace("`", "``")}`"
    if (!legacyCdcSidecar(spark, s"$path/$dir", logical,
        StructType(physFields)))
      // physical-named sidecar (round 16+, or an identity map where
      // the two namings coincide): read physical, surface logical
      spark.read.schema(StructType(physFields :+
          StructField(ChangeTypeCol, StringType, nullable = false)))
        .parquet(s"$path/$dir")
        .select(conformCols(physFields.toSeq, logical.fields.toSeq,
          pf => quoted(pf.name)) :+ col(ChangeTypeCol): _*)
    else
      // legacy sidecar: commit-time LOGICAL names on disk
      spark.read.schema(StructType(logical.fields :+
          StructField(ChangeTypeCol, StringType, nullable = false)))
        .parquet(s"$path/$dir")
  }

  /** Is the CDC sidecar at `loc` a PRE-round-16 one (commit-time
    * LOGICAL column names on disk)? New sidecars write PHYSICAL names
    * — uniform with data files, which is what lets a pinned feed read
    * them across renames AND shape changes (nested add/drop) by
    * parquet name-clipping. Identity maps need no sniff (the namings
    * coincide); otherwise one footer read of the sidecar decides by
    * the recursive field-name tree.
    */
  private def legacyCdcSidecar(spark: SparkSession, loc: String,
      logical: StructType, phys: StructType): Boolean = {
    if (nameTree(phys) == nameTree(logical)) return false
    // the verdict is a per-sidecar CONSTANT (sidecars are immutable):
    // memoize so a pinned feed catching up K commits on a renamed
    // table pays ONE footer read per commit ever, not one per getBatch
    // (review r16). Bounded: cleared wholesale past 100k entries —
    // booleans keyed by path, re-sniffing is merely a footer read.
    val cached = cdcFormatCache.get(loc)
    if (cached != null) return cached.booleanValue()
    val onDisk = StructType(Tables.schemaOf(spark, loc).fields
      .filterNot(_.name == ChangeTypeCol))
    val legacy = nameTree(onDisk) != nameTree(phys)
    if (cdcFormatCache.size() > 100000) cdcFormatCache.clear()
    cdcFormatCache.put(loc, java.lang.Boolean.valueOf(legacy))
    legacy
  }

  private val cdcFormatCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The recursive FIELD-NAME tree of a type (types ignored — parquet
    * inference may differ in nullability): the sidecar-format sniff's
    * comparison key.
    */
  private def nameTree(dt: DataType): Any = dt match {
    case st: StructType =>
      st.fields.map(f => f.name -> nameTree(f.dataType)).toSeq
    case ArrayType(et, _) => ("[]", nameTree(et))
    case MapType(_, vt, _) => ("{}", nameTree(vt))
    case _ => "."
  }

  /** Commit `v`'s CDC rows conformed to a PINNED (dataDDL, map) — the
    * change feed's exactly-once face. Because new sidecars carry
    * PHYSICAL names (time-invariant), reading them under the PINNED
    * physical schema fills fields the commit predates with nulls and
    * ignores fields the pin predates — so a catch-up spanning nested
    * renames AND nested add/drop conforms by parquet name-clipping,
    * never by a shape-sensitive cast. Legacy sidecars (pre-upgrade,
    * written under a non-identity map's logical names) conform via
    * the top-level physical-identity projection with the positional
    * nested cast — exact across renames; a shape change across a
    * LEGACY sidecar fails loudly at analysis, as before.
    */
  private[graft] def changesCdcAtPinned(spark: SparkSession, path: String,
      v: Long, pinnedDataDDL: String, pinnedMap: Map[String, String],
      vSnap: Snapshot): DataFrame = {
    val c = TxLog.commitAt(spark, path, v)
    val dir = c.cdcDir.getOrElse(sys.error(
      s"commit $v of $path carries no CDC (merge ran without cdc=true)"))
    val pinned = StructType.fromDDL(pinnedDataDDL)
    val pinnedPhys = pinned.fields.map(physField(_, pinnedMap, ""))
    val vLogical = StructType.fromDDL(vSnap.schemaDDL)
    val vPhys = vLogical.fields.map(
      physField(_, vSnap.columnMap.getOrElse(Map.empty), ""))
    def quoted(c0: String) = s"`${c0.replace("`", "``")}`"
    val ct = StructField(ChangeTypeCol, StringType, nullable = false)
    if (!legacyCdcSidecar(spark, s"$path/$dir", vLogical,
        StructType(vPhys)))
      spark.read.schema(StructType(pinnedPhys :+ ct))
        .parquet(s"$path/$dir")
        .select(conformCols(pinnedPhys.toSeq, pinned.fields.toSeq,
          pf => quoted(pf.name)) :+ col(ChangeTypeCol): _*)
    else {
      val changed0 = spark.read
        .schema(StructType(vLogical.fields :+ ct))
        .parquet(s"$path/$dir")
      val byPhys = vLogical.fieldNames
        .map(n => vSnap.physName(n) -> n).toMap
      val cols = pinned.fields.toSeq.map { f =>
        byPhys.get(pinnedMap.getOrElse(f.name, f.name)) match {
          case Some(vName) if changed0.columns.contains(vName) =>
            val c0 = col(quoted(vName))
            val vType = changed0.schema(vName).dataType
            (if (vType == f.dataType) c0
            else c0.cast(relaxNullability(f.dataType))).as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        }
      }
      changed0.select(cols :+ col(ChangeTypeCol): _*)
    }
  }

  /** Write a tagged change frame (LOGICAL names + [[ChangeTypeCol]])
    * as a `_cdc/` sidecar under PHYSICAL names — the same naming as
    * data files, for the same reason: physical names are
    * rename-stable, so every later conformance is a name-clipped read.
    */
  private def writeCdcDir(spark: SparkSession, path: String,
      changes: DataFrame, colMap: Map[String, String]): String = {
    val rel = s"_cdc/${java.util.UUID.randomUUID()}"
    val dataFields = changes.schema.fields
      .filterNot(_.name == ChangeTypeCol).toSeq
    val physFields = dataFields.map(physField(_, colMap, ""))
    def quoted(c0: String) = s"`${c0.replace("`", "``")}`"
    changes.select(conformCols(dataFields, physFields,
      lf => quoted(lf.name)) :+ col(ChangeTypeCol): _*)
      .write.parquet(s"$path/$rel")
    rel
  }

  // ---------------------------------------------------------------- //

  /** Additive schema evolution: columns in `df` beyond the table's
    * schema (minus `ignore` — operational flags like the delete
    * column) become NEW trailing table columns when `allow` is set;
    * files written before the evolution read them as null (the
    * explicit-schema parquet read fills missing columns). Existing
    * columns must keep their exact type — parquet files are immutable,
    * so a retype would leave files of mixed physical types behind one
    * logical column; rejected loudly, like SchemaConform's
    * incompatible-retype rule. Returns the DDL to stamp into the
    * commit (None if nothing changed) and the effective column list.
    */
  /** Every physical name CLAIMED at this snapshot: the live columns'
    * bindings (identity or mapped) plus the retired names. A fresh
    * physical binding must avoid ALL of them — a map value or retired
    * name alone misses identity-bound live columns, and colliding
    * with one (e.g. a live column literally named `x_r5` when
    * re-adding `x` at version 4) would make every read build a
    * duplicate-named physical schema and fail.
    */
  private def claimedPhys(snap: Snapshot): Set[String] =
    StructType.fromDDL(snap.schemaDDL).fieldNames
      .map(snap.physName).toSet ++
      snap.columnMap.getOrElse(Map.empty).values ++
      snap.retiredPhys.getOrElse(Seq.empty)

  /** A physical name for re-adding logical `name`, guaranteed free. */
  private def freshPhys(name: String, snap: Snapshot): String =
    freshPhysIn(name, claimedPhys(snap), snap.version)

  /** The one collision-probe rule for fresh physical bindings — both
    * the top-level and the nested (parent-scoped) paths name through
    * here, so the naming scheme can never drift between them.
    */
  private def freshPhysIn(name: String, claimed: Set[String],
      version: Long): String = {
    var cand = s"${name}_r${version + 1}"
    var i = 0
    while (claimed.contains(cand)) {
      i += 1; cand = s"${name}_r${version + 1}_$i"
    }
    cand
  }

  private final case class Evolved(ddl: Option[String],
      cols: Seq[String], fresh: Map[String, String])

  private def evolvedSchema(snap: Snapshot, df: DataFrame, allow: Boolean,
      ignore: Set[String]): Evolved = {
    val cur = StructType.fromDDL(snap.schemaDDL)
    df.schema.fields.filter(f => cur.fieldNames.contains(f.name))
      .foreach { f =>
        val want = cur(f.name).dataType
        // nullability-RELAXED comparison: schema DDL cannot even
        // express array-element / struct-field non-nullability (the
        // round trip loses it), and parquet reads everything nullable
        // — only a genuine TYPE change is a retype
        require(relaxNullability(f.dataType) == relaxNullability(want),
          s"column ${f.name}: table has $want, frame has ${f.dataType} — " +
            "retypes are not supported (files are immutable)")
      }
    val extra = df.schema.fields.filterNot(f =>
      cur.fieldNames.contains(f.name) || ignore.contains(f.name))
    // Without mergeSchema, extra frame columns are operational
    // passengers (sequence/flag columns) and simply don't land.
    if (extra.isEmpty || !allow) Evolved(None, cur.fieldNames.toSeq, Map.empty)
    else {
      // A new logical name whose default physical name is already in
      // use — bound to a RENAMED column, retired by a DROP, or a live
      // column's binding — takes a fresh (collision-checked) physical
      // name, or old files' bytes would surface under the new column
      // (the resurrect hazard column mapping exists to prevent).
      val usedPhys = claimedPhys(snap)
      val fresh = extra.collect {
        case f if usedPhys.contains(f.name) =>
          f.name -> freshPhys(f.name, snap)
      }.toMap
      val ns = StructType(cur.fields ++ extra.map(_.copy(nullable = true)))
      Evolved(Some(ns.toDDL), ns.fieldNames.toSeq, fresh)
    }
  }

  private def readSchemaCols(snap: Snapshot): Seq[String] =
    StructType.fromDDL(snap.schemaDDL).fields.map(_.name).toSeq

  /** Manifest entries are table-root-relative — EXCEPT a shallow
    * clone's, which reference the SOURCE's files externally
    * ([[TxLog.isExternalPath]]: scheme-qualified URIs since protocol
    * 3, bare absolute paths in protocol-2 logs).
    */
  private def isExternal(p: String): Boolean = TxLog.isExternalPath(p)

  /** On-disk location of a manifest entry under its owning root. */
  private def fileUri(root: String, p: String): String =
    TxLog.fileLocation(root, p)

  /** The filesystem-local PATH component of a manifest entry's
    * on-disk location — the key `input_file_name()` round-trips
    * through `java.net.URI.getPath` (scheme/authority dropped): a
    * scheme-qualified external entry must key by its path, or the
    * scanned-file → manifest-entry map misses it loudly.
    */
  /** The canonical `(authority, path)` key of a manifest entry's
    * on-disk location — QUALIFIED against the entry's own filesystem,
    * so it matches what `input_file_name()` reports on ANY
    * filesystem. Authority stays in the key (two buckets can mirror
    * identical path layouts — clone-of-clone — and a path-only key
    * would silently collapse them); qualification matters equally:
    * `input_file_name` carries the scheme+authority the scan resolved
    * (hdfs://nn:8020/...), while a path-only manifest root would not —
    * the mismatch would fail every merge/delete on an
    * authority-carrying filesystem (local tests can't see it: file:
    * URIs have no authority).
    */
  private def entryKey(conf: org.apache.hadoop.conf.Configuration,
      tablePath: String, p: String): String = {
    val hp = new Path(fileUri(tablePath, p))
    val q = hp.getFileSystem(conf).makeQualified(hp).toUri
    s"${Option(q.getAuthority).getOrElse("")}|${q.getPath}"
  }

  /** The matching key for a scanned `input_file_name()` URI. */
  private def scanKey(fileName: String): String = {
    val u = new java.net.URI(fileName)
    s"${Option(u.getAuthority).getOrElse("")}|${u.getPath}"
  }

  /** The `data/` partition root that owns a manifest entry — the
    * basePath hive-style `col=value` segments parse against. External
    * (clone) entries parse against the SOURCE's data root; hive
    * escaping %-encodes '/' inside values, so the last literal
    * `/data/` segment is unambiguous.
    */
  private def dataRootOf(tableRoot: String, p: String): String =
    if (!isExternal(p)) s"$tableRoot/data"
    else {
      val i = p.lastIndexOf("/data/")
      require(i >= 0, s"external manifest entry outside any data root: $p")
      p.substring(0, i + "/data".length)
    }

  private def readFiles(spark: SparkSession, path: String, snap: Snapshot,
      files: Seq[AddFile]): DataFrame =
    readGrouped(spark, path, StructType.fromDDL(snap.schemaDDL), files,
      snap.columnMap.getOrElse(Map.empty))

  /** [[readFiles]] with the scanned file's name surfaced as `tag` —
    * see [[readGrouped]]'s tagFileName contract (never add
    * `input_file_name()` on top of a table read yourself: a
    * deletion-vector join makes it ambiguous).
    */
  private def readFilesTagged(spark: SparkSession, path: String,
      snap: Snapshot, files: Seq[AddFile], tag: String): DataFrame =
    readGrouped(spark, path, StructType.fromDDL(snap.schemaDDL), files,
      snap.columnMap.getOrElse(Map.empty), tagFileName = Some(tag))

  /** Read manifest entries under an explicit schema, grouped by their
    * owning partition root: basePath makes the hive-style `col=value`
    * segments of a partitioned layout parse back into columns even
    * though we hand the reader an explicit FILE list, and a cloned
    * table may hold entries under BOTH its own `data/` and its
    * source's (one read per root, unioned — root count is the clone
    * chain depth, almost always 1 or 2).
    */
  /** Physical form of a LOGICAL field: the name remapped per the
    * column map — keyed by the field's dotted logical path — and the
    * type rebuilt recursively so STRUCT-INTERNAL fields remap too
    * (nested column mapping, protocol 4). Array/map wrappers are
    * transparent: the path names struct fields only, matching Spark's
    * nested-column addressing. Top-level keys are plain names — the
    * pre-nested map reads unchanged.
    */
  private def physField(f: StructField, colMap: Map[String, String],
      prefix: String): StructField = {
    val logPath = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
    f.copy(name = colMap.getOrElse(logPath, f.name),
      dataType = physInner(f.dataType, colMap, logPath))
  }

  private def physInner(dt: DataType, colMap: Map[String, String],
      prefix: String): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(physField(_, colMap, prefix)))
    case ArrayType(et, n) => ArrayType(physInner(et, colMap, prefix), n)
    case MapType(kt, vt, n) => MapType(kt, physInner(vt, colMap, prefix), n)
    case other => other
  }

  /** logical→physical (or back) column projection: a positional
    * struct CAST renames every nested field in one expression — legal
    * exactly because a rename never changes shape or types (the
    * retype guard holds that invariant). The cast target is
    * nullability-RELAXED: parquet reads every field nullable, and a
    * NOT NULL annotation in the pinned DDL would otherwise make the
    * rename cast unresolvable (nullable → non-null is not a cast).
    */
  private def conformCols(from: Seq[StructField], to: Seq[StructField],
      quotedNameOf: StructField => String): Seq[Column] =
    from.zip(to).map { case (src, dst) =>
      val c = col(quotedNameOf(src))
      (if (src.dataType == dst.dataType) c
      else c.cast(relaxNullability(dst.dataType)))
        .as(dst.name)
    }

  private[graft] def relaxNullability(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    case ArrayType(et, _) =>
      ArrayType(relaxNullability(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(relaxNullability(kt), relaxNullability(vt),
        valueContainsNull = true)
    case other => other
  }

  /** The deletion-vector row schema: the owning file's MANIFEST
    * relative path + the deleted row's index within it.
    */
  private[tables] val DvSchema =
    StructType.fromDDL("rel_path STRING, row_index BIGINT")

  /** The scan-side twin of a manifest entry's relative path:
    * `_metadata.file_path` is URI-ENCODED (hive-escaped dirs arrive
    * re-encoded, spaces as %20) — ONE `url_decode` undoes exactly that
    * layer, and the greedy anchored replace keys on the LAST `/data/`
    * like every other rel-path rule in the engine.
    */
  private def scanRelPath: Column =
    // '+' is LITERAL in a URI path but form-decodes to a space —
    // pre-escape it so url_decode undoes exactly the URI layer
    // (review r16: a '+' in a partition value must round-trip)
    url_decode(regexp_replace(
      regexp_replace(col("_metadata.file_path"), "^.*/data/", "data/"),
      "\\+", "%2B"))

  /** Subtract the files' DELETION VECTORS from a file-scan frame —
    * must run directly over the scan (metadata columns resolve at the
    * file relation, not through unions): one broadcast LEFT ANTI join
    * on (relative path, row index). No-op when no file carries a
    * vector, so undeleted tables pay nothing.
    */
  private def applyDv(spark: SparkSession, path: String,
      refs: Seq[String], frame: DataFrame): DataFrame =
    if (refs.isEmpty) frame
    else {
      val dv = spark.read.schema(DvSchema)
        .parquet(refs.distinct.map(r => s"$path/$r"): _*)
      // dv-side references QUALIFIED: a table column named rel_path /
      // row_index must not make the join ambiguous (review r16)
      frame
        .withColumn("__gf_dvrel", scanRelPath)
        .withColumn("__gf_dvri", col("_metadata.row_index"))
        .join(broadcast(dv),
          col("__gf_dvrel") === dv("rel_path") &&
            col("__gf_dvri") === dv("row_index"), "left_anti")
        .drop("__gf_dvrel", "__gf_dvri")
    }

  /** `tagFileName`: surface `input_file_name()` as the named column,
    * computed AT THE SCAN — after the deletion-vector anti-join the
    * plan holds two file sources and the expression would be
    * ambiguous (callers must never add it themselves on top of a
    * table read).
    */
  private def readGrouped(spark: SparkSession, path: String,
      schema: StructType, files: Seq[AddFile],
      colMap: Map[String, String] = Map.empty,
      tagFileName: Option[String] = None): DataFrame = {
    if (files.isEmpty) {
      val out = StructType(schema.fields ++ tagFileName.map(n =>
        StructField(n, StringType, nullable = true)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    } else {
      // files store PHYSICAL column names (column mapping): read under
      // the physical schema, then surface logical names. A column whose
      // physical name a file predates (fresh-phys re-add) reads null —
      // the explicit-schema parquet contract, which is exactly why a
      // dropped-then-readded column can never resurrect old values.
      val physFields = schema.fields.map(physField(_, colMap, ""))
      val physSchema = StructType(physFields)
      val dvRefs = files.flatMap(_.dv).distinct
      val frames = files.groupBy(f => dataRootOf(path, f.path))
        .toSeq.sortBy(_._1)
        .map { case (root, fs) =>
          val raw0 = spark.read.schema(physSchema)
            .option("basePath", root)
            .parquet(fs.map(f => fileUri(path, f.path)): _*)
          applyDv(spark, path, dvRefs,
            tagFileName.fold(raw0)(n =>
              raw0.withColumn(n, input_file_name())))
        }
      frames.reduce(_ unionByName _)
        .select(conformCols(physFields.toSeq, schema.fields.toSeq,
          pf => s"`${pf.name.replace("`", "``")}`") ++
          tagFileName.map(col).toSeq: _*)
    }
  }

  /** Write `df` as a fresh batch of parquet files under `data/` and
    * return the manifest entries (relative paths + row counts + zone
    * maps). Stats come from ONE metadata-shaped aggregate over the
    * just-written files (group by file name; output rows = file count).
    *
    * Layout is standard hive style — partition dirs FIRST, op-unique
    * file names (`data/b=2/<op>-part-*.parquet`): files are staged
    * under `.staging/<op>` and RENAMED in, so the whole `data/` tree is
    * one consistent partition root (Spark's partition discovery rejects
    * per-op subroots) and a snapshot reads as a single relation. The
    * renames are per-file metadata ops on HDFS/local; an object-store
    * deployment writes final names directly instead (the same caveat
    * as the log's rename-CAS).
    */
  private def writeFiles(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String],
      partitionCols: Seq[String] = Seq.empty,
      constraints: Map[String, String] = Map.empty,
      colMap: Map[String, String] = Map.empty): Seq[AddFile] = {
    val opId = java.util.UUID.randomUUID().toString
    val opDir = s".staging/$opId"
    // `df` arrives under LOGICAL names; on disk (file columns, nested
    // struct fields, hive partition dirs, manifest stats keys)
    // everything is PHYSICAL — `statsCols`/`partitionCols` are already
    // physical (snapshot fields), the frame renames here (nested
    // fields via the positional struct cast). Identity when no mapping.
    def quoted(c: String) = s"`${c.replace("`", "``")}`"
    val logicalFields = df.schema.fields.toSeq
    val physFields = logicalFields.map(physField(_, colMap, ""))
    val dfPhys = df.select(conformCols(logicalFields, physFields,
      lf => quoted(lf.name)): _*)
    val w = dfPhys.write
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(s"$path/$opDir")

    val written = spark.read.schema(dfPhys.schema)
      .option("basePath", s"$path/$opDir")
      .parquet(s"$path/$opDir")
    // CHECK constraints validate the STAGED data (one cheap re-read —
    // never a recompute of the op's plan) BEFORE anything publishes:
    // a violation discards the staging dir and fails the write whole.
    // Constraint exprs speak LOGICAL names — validate the logical view.
    if (constraints.nonEmpty) {
      val logical = written.select(conformCols(physFields, logicalFields,
        pf => quoted(pf.name)): _*)
      constraints.foreach { case (name, e) =>
        val viol = logical.filter(expr(e) === false).limit(1).collect()
        if (viol.nonEmpty) {
          TxLog.fs(spark, path).delete(new Path(path, opDir), true)
          sys.error(s"CHECK constraint '$name' ($e) violated by this " +
            s"write: ${viol.head}")
        }
      }
    }
    // The null flag rides the same one-pass aggregate: min/max ignore
    // nulls, so without it a file holding null-keyed rows plus a
    // disjoint non-null range would be pruned against a null-keyed
    // merge batch (which matches via <=>) — a silent duplicate insert.
    val statAggs = statsCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"),
        max(col(c).isNull.cast("int")).as(s"_nul_$c"))
    }
    val kinds: Map[String, String] = statsCols.map { c =>
      c -> (written.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => "long"
        case DoubleType | FloatType                        => "double"
        case StringType                                    => "string"
        case _                                             => "opaque"
      })
    }.toMap
    val statRows = written
      .groupBy(input_file_name().as("_gf"))
      .agg(count(lit(1)).as("_rows"), statAggs: _*)
      .collect()
      .map { r =>
        // Key by the DECODED staging-relative path. One java.net.URI
        // decode maps input_file_name back to the on-disk name
        // (hive-escaped partition dirs arrive URI-RE-encoded); the
        // task-file name alone is NOT unique — partitionBy reuses
        // part-00000-... across partition dirs within one write.
        new java.net.URI(r.getString(0)).getPath -> r
      }.toMap

    val f = TxLog.fs(spark, path)
    val stagingRoot = new Path(path, opDir)
    val it = f.listFiles(stagingRoot, true)
    val rootPath = stagingRoot.toUri.getPath.stripSuffix("/")
    val out = scala.collection.mutable.ArrayBuffer[AddFile]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val onDisk = st.getPath.toUri.getPath
        // A staged parquet with NO stats row is either a ZERO-ROW part
        // (Spark emits one for an empty plan — e.g. a merge whose
        // touched rows were all deleted; nothing to publish, skip it)
        // or a path-decode mismatch (must stay loud). One single-file
        // count distinguishes them; it only runs on this rare path.
        val r = statRows.getOrElse(onDisk, {
          val empty = spark.read.schema(dfPhys.schema)
            .parquet(st.getPath.toString).isEmpty
          if (empty) null
          else sys.error(s"no stats row for staged file ${st.getPath} " +
            s"(have: ${statRows.keys.take(3).mkString(", ")}...)")
        })
        if (r == null) { /* zero-row part: not published */ } else {
        val stagedRel = st.getPath.toUri.getPath
          .stripPrefix(rootPath).stripPrefix("/")
        val segs = stagedRel.split('/')
        val rel = ("data" +: segs.init :+ s"$opId-${segs.last}")
          .mkString("/")
        val stats = statsCols.map { c =>
          val mn = r.getAs[String](s"_min_$c")
          val mx = r.getAs[String](s"_max_$c")
          val hasNulls = Some(r.getAs[Int](s"_nul_$c") == 1)
          c -> (if (mn == null || mx == null)
            ColStats("opaque", "", "", hasNulls)
          else ColStats(kinds(c), mn, mx, hasNulls))
        }.toMap
        val dst = new Path(path, rel)
        f.mkdirs(dst.getParent)
        require(f.rename(st.getPath, dst), s"failed to publish $dst")
        // byte length from the staging listing already in hand — the
        // manifest carries it so scan planning never stats files
        out += AddFile(rel, r.getAs[Long]("_rows"), stats,
          Some(st.getLen))
      } }
    }
    f.delete(stagingRoot, true)
    out.toSeq
  }

  /** First row of `df` violating CHECK `exprSql` — FALSE only, NULL
    * passes (SQL CHECK semantics).
    */
  private def firstViolation(df: DataFrame,
      exprSql: String): Option[org.apache.spark.sql.Row] =
    df.filter(expr(exprSql) === false).limit(1).collect().headOption

  /** Read published manifest entries under an explicit schema (the
    * [[readFiles]] discipline without a snapshot — constraint
    * re-validation paths where the relevant schema is the writer's or
    * a time-traveled one, not the head's).
    */
  private def readAddsAs(spark: SparkSession, path: String,
      schema: StructType, adds: Seq[AddFile],
      colMap: Map[String, String] = Map.empty): DataFrame =
    readGrouped(spark, path, schema, adds, colMap)

  private def retrying(what: String)(attempt: => Boolean): Unit = {
    var tries = 0
    var done = false
    while (!done && tries < MaxRetries) {
      done = attempt
      tries += 1
    }
    require(done, s"$what: lost the commit race $MaxRetries times")
  }
}
