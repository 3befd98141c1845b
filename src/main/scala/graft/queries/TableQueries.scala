package graft.queries

import graft.tables.{CowTable, TxLog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle gates for the [[graft.tables.CowTable]] transactional table
  * format. Unlike every other gate these are REAL round trips: each
  * creates an on-disk table under `java.io.tmpdir` (fixed per-SF path,
  * self-cleaned at entry — the qMvRollup precedent), runs the physical
  * operation sequence (create → merge / append → compact), and returns
  * the snapshot READ BACK FROM DISK, so the DuckDB oracle pins the
  * whole log-fold + zone-map + copy-on-write machinery end to end: any
  * file the merge wrongly rewrote, dropped, or double-counted changes
  * the returned multiset. Table CONTENTS are a pure function of the
  * input frames (file layout is not, and is spec-pinned instead —
  * CowTableSpec).
  */
object TableQueries {

  private def scratch(dir: String, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cow/" +
      s"${new java.io.File(dir).getName}/$name"

  private def reset(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = TxLog.fs(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** MERGE round trip on orders keyed o_orderkey (lineitem's composite
    * key is NOT unique in this testdata, so orders is the keyed table
    * here): one in seven keys is upserted (+100 total price, restatus
    * 'U'), one in 21 deleted, one in 997 cloned to a fresh key range as
    * inserts. The returned frame is the post-merge snapshot read from
    * disk.
    */
  def tableMerge(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "merge")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 21 === 0).as("del"))
      .unionByName(base.filter(col("o_orderkey") % 997 === 1)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(1.0d).as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit(false).as("del")))
    CowTable.merge(spark, t, updates, Seq("o_orderkey"), Some("del"))
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableMergeSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT * FROM base WHERE o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice,
      |         'U' AS o_orderstatus
      |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
      |         CAST(1 AS DOUBLE) AS o_totalprice, 'N' AS o_orderstatus
      |  FROM base WHERE o_orderkey % 997 = 1)
      |ORDER BY o_orderkey""".stripMargin

  /** Time travel: after a merge, version 1 must still read as the
    * ORIGINAL table (commits close over immutable files, never mutate
    * them) — both versions are read from disk and summarized per
    * order status. One in five orders is restatused, one in 25 deleted.
    */
  def tableTimetravel(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "timetravel")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"),
        (col("o_orderkey") % 25 === 0).as("del"))
    CowTable.merge(spark, t, updates, Seq("o_orderkey"), Some("del"))
    def summarize(v: Long): DataFrame =
      CowTable.read(spark, t, Some(v))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_orderkey")).as("key_sum"))
        .withColumn("version", lit(v))
    summarize(1L).unionByName(summarize(2L))
      .select("version", "o_orderstatus", "cnt", "key_sum")
      .orderBy("version", "o_orderstatus")
  }

  val tableTimetravelSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
      |v2 AS (
      |  SELECT o_orderkey, o_orderstatus FROM base WHERE o_orderkey % 5 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, 'X' AS o_orderstatus
      |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 25 <> 0)
      |SELECT * FROM (
      |  SELECT 1 AS version, o_orderstatus, COUNT(*) AS cnt,
      |         CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |  FROM base GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 2, o_orderstatus, COUNT(*),
      |         CAST(SUM(o_orderkey) AS BIGINT)
      |  FROM v2 GROUP BY o_orderstatus)
      |ORDER BY version, o_orderstatus""".stripMargin

  /** Append + compact round trip on customer: contents must be
    * identical through the bin-pack rewrite (layout is the only thing
    * compaction may change).
    */
  def tableCompact(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "compact")
    reset(spark, t)
    val base = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    CowTable.create(spark, t,
      base.repartitionByRange(10, col("c_custkey")), Seq("c_custkey"))
    CowTable.append(spark, t,
      base.filter(col("c_custkey") % 10 === 3)
        .select((col("c_custkey") + 1000000000L).as("c_custkey"),
          col("c_nationkey"), (col("c_acctbal") * 2.0d).as("c_acctbal")))
    CowTable.compact(spark, t, smallFileRows = Long.MaxValue,
      targetFileCount = 2)
    CowTable.read(spark, t).orderBy("c_custkey")
  }

  val tableCompactSql: String =
    """SELECT * FROM (
      |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000000, c_nationkey, c_acctbal * 2
      |  FROM customer WHERE c_custkey % 10 = 3)
      |ORDER BY c_custkey""".stripMargin

  /** OPTIMIZE round trip: scattered ingest, then a Z-order relayout
    * ([[graft.operators.ZOrder.cluster]] on (custkey, orderkey))
    * through the real remove-all/add-all commit; contents must be
    * untouched through the clustering rewrite (the selectivity gain
    * itself is spec-pinned — CowTableSpec's before/after pruning test —
    * since file layout is invisible to a contents oracle).
    */
  def tableOptimize(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "optimize")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t, base.repartition(6), Seq("o_orderkey"))
    CowTable.optimize(spark, t, df => graft.operators.ZOrder
      .cluster(df, col("o_custkey"), col("o_orderkey"), numFiles = 8))
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableOptimizeSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Partitioned MERGE round trip: customer hive-partitioned by
    * nation, keyed (c_nationkey, c_custkey) so the nation bounds of
    * the update batch partition-prune the merge; updates hit three
    * low nations (+1000 balance), one in nine of those deleted. The
    * returned frame is the post-merge snapshot read from disk,
    * partition column reconstructed from the directory layout.
    */
  def tablePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "partitioned")
    reset(spark, t)
    val base = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_acctbal")
    CowTable.create(spark, t, base, Seq("c_custkey"),
      partitionBy = Seq("c_nationkey"))
    val updates = base
      .filter(col("c_custkey") % 3 === 0 && col("c_nationkey") < 3)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal") + 1000.0d).as("c_acctbal"),
        (col("c_custkey") % 9 === 0).as("del"))
    CowTable.merge(spark, t, updates,
      Seq("c_nationkey", "c_custkey"), Some("del"))
    CowTable.read(spark, t).orderBy("c_custkey")
  }

  val tablePartitionedSql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer)
      |SELECT * FROM (
      |  SELECT * FROM base
      |  WHERE NOT (c_custkey % 3 = 0 AND c_nationkey < 3)
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey, c_acctbal + 1000 AS c_acctbal
      |  FROM base
      |  WHERE c_custkey % 3 = 0 AND c_nationkey < 3 AND c_custkey % 9 <> 0)
      |ORDER BY c_custkey""".stripMargin

  /** SCD2 history MAINTAINED IN a CowTable ([[graft.tables.Scd2Table]]):
    * the same day-1 CDC feed as `scd2_cdc`, but the history lives
    * on disk and the batch becomes one open-partition-pruned MERGE.
    * The oracle is scd2_apply's SQL VERBATIM (the scd2_cdc identity
    * pattern, now proven THROUGH the storage round trip): delta apply
    * into a table ≡ snapshot apply in memory.
    */
  def tableScd2(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "scd2")
    reset(spark, t)
    val orders = Tables.load(spark, dir, "orders")
    val k = col("o_orderkey")
    val upserts = orders.filter(k % 100 =!= 0)
      .filter(k % 7 === 0 || k % 13 === 0)
      .withColumn("o_totalprice",
        when(k % 7 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(k % 13 === 0, lit("X-URGENT"))
          .otherwise(col("o_orderpriority")))
    val inserts = orders.filter(k % 97 === 0)
      .withColumn("o_orderkey", k + 100000000L)
    val tombstones = orders.filter(k % 100 === 0)
    val delta = upserts.withColumn("is_delete", lit(false))
      .unionByName(inserts.withColumn("is_delete", lit(false)))
      .unionByName(tombstones.withColumn("is_delete", lit(true)))
    graft.tables.Scd2Table.init(spark, t, orders, Seq("o_orderkey"),
      asOf = 0L)
    graft.tables.Scd2Table.applyDelta(spark, t, delta, Seq("o_orderkey"),
      batchTs = 86400L, Some("is_delete"))
    graft.tables.Scd2Table.history(spark, t)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("valid_from"), col("valid_to"))
      .orderBy("o_orderkey", "valid_from")
  }

  /** Standing aggregates MAINTAINED IN a CowTable
    * ([[graft.tables.AggTable]]): q_agg_upsert's exact split (events
    * before/after the cut), but the standing table lives on disk and
    * the late batch folds in via a manifest-pruned read + churn-only
    * merge. Oracle is q_agg_upsert's SQL VERBATIM — incremental ≡
    * recompute, proven through the storage round trip.
    */
  def tableAggmerge(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "aggmerge")
    reset(spark, t)
    val ev = Tables.loadEvents(spark, dir)
    val cut = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    val keys = Seq("user_id", "event_type")
    graft.tables.AggTable.init(spark, t,
      ev.filter(col("ts") < cut), keys, "value")
    graft.tables.AggTable.fold(spark, t,
      ev.filter(col("ts") >= cut), keys, "value")
    graft.tables.AggTable.read(spark, t)
      .select(col("user_id"), col("event_type"), col("n"),
        col("total").cast("double").as("total"), col("vmin"), col("vmax"))
      .orderBy("user_id", "event_type")
  }

  /** Additive schema evolution round trip: an evolved append lands a
    * new `risk` column; every pre-evolution row must read it as NULL
    * through the explicit-schema parquet read (files are never
    * rewritten for an evolution — the DDL just advances in the log).
    */
  def tableEvolve(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "evolve")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    CowTable.create(spark, t, base, Seq("o_orderkey"))
    CowTable.append(spark, t,
      base.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          (col("o_custkey") % 100).cast("double").as("risk")),
      mergeSchema = true)
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableEvolveSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS risk
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey,
      |         CAST(o_custkey % 100 AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 11 = 0)
      |ORDER BY o_orderkey""".stripMargin

  /** COLUMN MAPPING round trip ([[CowTable.renameColumn]] — rename as
    * a METADATA commit, protocol 3): create + append under the old
    * name, rename `o_totalprice` → `price`, then append AND merge
    * under the new name, so post-rename writes flow through the
    * logical→physical indirection and zone maps keep pruning. The
    * output stacks four reads, each stamping the LOGICAL schema it saw
    * into a `cols` data column (the oracle pins names as values):
    * head (new name, merge applied), time travel BELOW the rename (old
    * name), and the change feed of one pre-rename and one post-rename
    * commit — the three behaviors the rename contract promises.
    */
  def tableRename(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "rename")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey")) // v1
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")))                         // v2
    CowTable.renameColumn(spark, t, "o_totalprice", "price")            // v3
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_custkey"), (col("o_totalprice") + 0.5d).as("price")))    // v4
    CowTable.merge(spark, t, base.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("price")),
      Seq("o_orderkey"))                                                // v5
    def stamped(df: DataFrame, src: String): DataFrame = {
      val cols = df.columns.mkString(",")
      val value = df.columns.last
      df.select(lit(src).as("src"), lit(cols).as("cols"),
        col("o_orderkey"), col("o_custkey"), col(value).as("price"))
    }
    stamped(CowTable.read(spark, t), "head")
      .unionByName(stamped(CowTable.read(spark, t, Some(2L)), "v2"))
      .unionByName(stamped(CowTable.changesAt(spark, t, 2L), "feed2"))
      .unionByName(stamped(CowTable.changesAt(spark, t, 4L), "feed4"))
      .orderBy("src", "o_orderkey")
  }

  val tableRenameSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |s5 AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
      |         o_totalprice
      |  FROM base WHERE o_orderkey % 5 = 0),
      |s7 AS (
      |  SELECT o_orderkey + 2000000000 AS o_orderkey, o_custkey,
      |         o_totalprice + 0.5 AS price
      |  FROM base WHERE o_orderkey % 7 = 0),
      |head AS (
      |  SELECT o_orderkey, o_custkey,
      |         o_totalprice
      |           + CASE WHEN o_orderkey % 11 = 0 THEN 100.0 ELSE 0 END
      |           AS price
      |  FROM base
      |  UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM s5
      |  UNION ALL SELECT o_orderkey, o_custkey, price FROM s7)
      |SELECT * FROM (
      |  SELECT 'head' AS src,
      |         'o_orderkey,o_custkey,price' AS cols,
      |         o_orderkey, o_custkey, price
      |  FROM head
      |  UNION ALL
      |  SELECT 'v2', 'o_orderkey,o_custkey,o_totalprice',
      |         o_orderkey, o_custkey, o_totalprice
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM s5)
      |  UNION ALL
      |  SELECT 'feed2', 'o_orderkey,o_custkey,o_totalprice',
      |         o_orderkey, o_custkey, o_totalprice FROM s5
      |  UNION ALL
      |  SELECT 'feed4', 'o_orderkey,o_custkey,price',
      |         o_orderkey, o_custkey, price FROM s7)
      |ORDER BY src, o_orderkey""".stripMargin

  /** NESTED column mapping round trip ([[CowTable.renameColumn]] with
    * a dotted path — round 15, protocol 4): a struct-internal field
    * renames as a METADATA commit. Same shape as [[tableRename]]: the
    * output stacks reads stamping the struct's LOGICAL field list into
    * a data column, so the oracle pins head (new inner name, real
    * values — the silent-null hazard the protocol bump guards), time
    * travel below the rename (old inner name), and the change feed of
    * a post-rename commit, while writes keep flowing through the
    * unchanged physical name.
    */
  def tableRenameNested(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "renamenested")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("cust"),
          col("o_totalprice").as("amount")).as("meta"))
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey")) // v1
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("meta")))                                                   // v2
    CowTable.renameColumn(spark, t, "meta.amount", "price")             // v3
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        struct(col("meta.cust").as("cust"),
          (col("meta.amount") + 0.5d).as("price")).as("meta")))         // v4
    def stamped(df: DataFrame, src: String): DataFrame = {
      val fs = df.schema("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
      df.select(lit(src).as("src"),
        lit(fs.mkString(",")).as("fields"),
        col("o_orderkey"),
        col("meta").getField("cust").as("cust"),
        col("meta").getField(fs.last).as("price"))
    }
    stamped(CowTable.read(spark, t), "head")
      .unionByName(stamped(CowTable.read(spark, t, Some(2L)), "v2"))
      .unionByName(stamped(CowTable.changesAt(spark, t, 4L), "feed4"))
      .orderBy("src", "o_orderkey")
  }

  val tableRenameNestedSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey AS cust, o_totalprice AS amount
      |  FROM orders),
      |s5 AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, cust, amount
      |  FROM base WHERE o_orderkey % 5 = 0),
      |s7 AS (
      |  SELECT o_orderkey + 2000000000 AS o_orderkey, cust,
      |         amount + 0.5 AS price
      |  FROM base WHERE o_orderkey % 7 = 0),
      |head AS (
      |  SELECT o_orderkey, cust, amount AS price FROM base
      |  UNION ALL SELECT o_orderkey, cust, amount FROM s5
      |  UNION ALL SELECT o_orderkey, cust, price FROM s7)
      |SELECT * FROM (
      |  SELECT 'head' AS src, 'cust,price' AS fields,
      |         o_orderkey, cust, price
      |  FROM head
      |  UNION ALL
      |  SELECT 'v2', 'cust,amount', o_orderkey, cust, amount
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM s5)
      |  UNION ALL
      |  SELECT 'feed4', 'cust,price', o_orderkey, cust, price FROM s7)
      |ORDER BY src, o_orderkey""".stripMargin

  /** NESTED schema evolution round trip ([[CowTable.addColumn]] /
    * [[CowTable.dropColumn]] with dotted paths — round 16): a
    * struct-internal field is ADDED (old files read typed nulls),
    * written, DROPPED (files keep bytes; head never projects it), and
    * the dropped name RE-ADDED (fresh physical binding — the oracle
    * pins that pre-drop values never resurrect). Sources stacked:
    * head (final shape — re-added `amount` null everywhere except the
    * post-re-add band), v4 time travel (pre-drop shape with the REAL
    * amounts and the added bonus), v2 time travel (the original
    * shape), and the pinned-feed conformance of the pre-add commit v2
    * under the HEAD schema (`catchup` — bonus conforms to null, the
    * re-added amount reads null, never the old bytes).
    */
  def tableEvolveNested(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "evolvenested")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("cust"),
          col("o_totalprice").as("amount")).as("meta"))
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey")) // v1
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("meta")))                                                   // v2
    CowTable.addColumn(spark, t, "meta.bonus", "BIGINT")                // v3
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        struct(col("meta.cust").as("cust"),
          col("meta.amount").as("amount"),
          (col("meta.cust") % 10L).as("bonus")).as("meta")))            // v4
    CowTable.dropColumn(spark, t, "meta.amount")                        // v5
    CowTable.addColumn(spark, t, "meta.amount", "DOUBLE")               // v6
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 3000000000L).as("o_orderkey"),
        struct(col("meta.cust").as("cust"),
          (col("meta.cust") % 10L).as("bonus"),
          (col("meta.amount") + 0.25d).as("amount")).as("meta")))       // v7
    def stamped(df: DataFrame, src: String): DataFrame = {
      val fs = df.schema("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
      def opt(n: String, t0: String) =
        (if (fs.contains(n)) col("meta").getField(n)
        else lit(null)).cast(t0).as(n)
      df.select(lit(src).as("src"),
        lit(fs.mkString(",")).as("fields"),
        col("o_orderkey"),
        col("meta").getField("cust").as("cust"),
        opt("amount", "double"), opt("bonus", "bigint"))
    }
    val headSnap = graft.tables.TxLog.snapshotPlanned(spark, t).meta
    val catchup = CowTable.changesAtPinned(spark, t, 2L,
      org.apache.spark.sql.types.StructType
        .fromDDL(headSnap.schemaDDL).toDDL,
      headSnap.columnMap.getOrElse(Map.empty))
    stamped(CowTable.read(spark, t), "head")
      .unionByName(stamped(CowTable.read(spark, t, Some(4L)), "v4"))
      .unionByName(stamped(CowTable.read(spark, t, Some(2L)), "v2"))
      .unionByName(stamped(catchup, "catchup"))
      .orderBy("src", "o_orderkey")
  }

  val tableEvolveNestedSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey AS cust, o_totalprice AS amount
      |  FROM orders),
      |s5 AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, cust, amount
      |  FROM base WHERE o_orderkey % 5 = 0),
      |s7 AS (
      |  SELECT o_orderkey + 2000000000 AS o_orderkey, cust, amount,
      |         cust % 10 AS bonus
      |  FROM base WHERE o_orderkey % 7 = 0),
      |s11 AS (
      |  SELECT o_orderkey + 3000000000 AS o_orderkey, cust,
      |         cust % 10 AS bonus, amount + 0.25 AS amount
      |  FROM base WHERE o_orderkey % 11 = 0)
      |SELECT * FROM (
      |  SELECT 'head' AS src, 'cust,bonus,amount' AS fields,
      |         o_orderkey, cust, CAST(NULL AS DOUBLE) AS amount,
      |         CAST(NULL AS BIGINT) AS bonus
      |  FROM (SELECT o_orderkey, cust FROM base
      |        UNION ALL SELECT o_orderkey, cust FROM s5)
      |  UNION ALL
      |  SELECT 'head', 'cust,bonus,amount', o_orderkey, cust,
      |         CAST(NULL AS DOUBLE), bonus FROM s7
      |  UNION ALL
      |  SELECT 'head', 'cust,bonus,amount', o_orderkey, cust,
      |         amount, bonus FROM s11
      |  UNION ALL
      |  SELECT 'v4', 'cust,amount,bonus', o_orderkey, cust, amount,
      |         CAST(NULL AS BIGINT)
      |  FROM (SELECT o_orderkey, cust, amount FROM base
      |        UNION ALL SELECT o_orderkey, cust, amount FROM s5)
      |  UNION ALL
      |  SELECT 'v4', 'cust,amount,bonus', o_orderkey, cust, amount,
      |         bonus FROM s7
      |  UNION ALL
      |  SELECT 'v2', 'cust,amount', o_orderkey, cust, amount,
      |         CAST(NULL AS BIGINT)
      |  FROM (SELECT o_orderkey, cust, amount FROM base
      |        UNION ALL SELECT o_orderkey, cust, amount FROM s5)
      |  UNION ALL
      |  SELECT 'catchup', 'cust,bonus,amount', o_orderkey, cust,
      |         CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT) FROM s5)
      |ORDER BY src, o_orderkey""".stripMargin

  /** The transactional corpus-ingest loop, end to end: a standing
    * document corpus held in a CowTable, a new batch screened against
    * it with the PROVEN incremental-dedup verdicts (exact + LSH-banded
    * near screens — the `dedup_incremental` pipeline and fixture,
    * verbatim), and only the `keep` verdicts appended atomically. The
    * final table IS the gate output, so the oracle pins the
    * composition: screening semantics AND the transactional append in
    * one hash. This is the 100 TB nightly-ingest shape — corpus never
    * rescreened, batch work O(|batch|), the append one commit.
    */
  def pipelineTableIngest(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "ingest")
    reset(spark, t)
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select("doc_id", "text")
    val batch = DedupQueries.incrementalBatch(docs)
    CowTable.create(spark, t, docs, Seq("doc_id"))
    val keeps = batch.join(
      graft.dedup.IncrementalDedup.verdicts(docs, batch, "doc_id", "text")
        .filter(col("keep") === 1).select("doc_id"),
      "doc_id")
    CowTable.append(spark, t, keeps)
    CowTable.read(spark, t).orderBy("doc_id")
  }

  val pipelineTableIngestSql: String =
    s"""WITH v AS (
       |${DedupQueries.dedupIncrementalSql}
       |), batch2 AS (
       |  SELECT doc_id + 200000 AS doc_id, text FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 300000, text || ' zzz' FROM documents
       |  WHERE doc_id % 7 = 1
       |  UNION ALL SELECT doc_id + 400000, reverse(text) FROM documents
       |  WHERE doc_id % 7 = 2)
       |SELECT * FROM (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT b.doc_id, b.text FROM batch2 b
       |  JOIN v ON v.doc_id = b.doc_id
       |  WHERE v.keep = 1)
       |ORDER BY doc_id""".stripMargin

  /** Conditional MERGE round trip (`WHEN MATCHED AND <cond> THEN
    * UPDATE SET <cols>`): one in five orders arrives as a CDC update
    * whose price moved by 100·((key mod 3) − 1) — the matched clause
    * `src.price > tgt.price` admits only the key%3=2 third (the
    * out-of-order-guard shape), and the partial SET writes ONLY
    * (price, status): the update batch carries a poisoned custkey that
    * must never land. Tombstones (key%35=0) delete regardless of the
    * clause; a disjoint key band inserts full rows. The oracle replays
    * exactly these clause semantics in DuckDB.
    */
  def tableMergeCond(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "mergecond")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(-1L).as("o_custkey"), // poisoned
        (col("o_totalprice") +
          ((col("o_orderkey") % 3) - 1).cast("double") * 100.0d)
          .as("o_totalprice"),
        lit("C").as("o_orderstatus"),
        (col("o_orderkey") % 35 === 0).as("del"))
      .unionByName(base.filter(col("o_orderkey") % 499 === 7)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(5.0d).as("o_totalprice"),
          lit("I").as("o_orderstatus"), lit(false).as("del")))
    CowTable.merge(spark, t, updates, Seq("o_orderkey"), Some("del"),
      matchedCondition =
        Some((tgt, src) => src("o_totalprice") > tgt("o_totalprice")),
      setCols = Some(Seq("o_totalprice", "o_orderstatus")))
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableMergeCondSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders),
      |upd AS (
      |  SELECT o_orderkey,
      |         o_totalprice + ((o_orderkey % 3) - 1) * 100 AS new_price
      |  FROM base WHERE o_orderkey % 5 = 0)
      |SELECT * FROM (
      |  SELECT b.o_orderkey, b.o_custkey,
      |    CASE WHEN u.o_orderkey IS NOT NULL AND u.new_price > b.o_totalprice
      |         THEN u.new_price ELSE b.o_totalprice END AS o_totalprice,
      |    CASE WHEN u.o_orderkey IS NOT NULL AND u.new_price > b.o_totalprice
      |         THEN 'C' ELSE b.o_orderstatus END AS o_orderstatus
      |  FROM base b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
      |  WHERE NOT (b.o_orderkey % 35 = 0 AND b.o_orderkey % 5 = 0)
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey,
      |         CAST(5 AS DOUBLE), 'I'
      |  FROM base WHERE o_orderkey % 499 = 7)
      |ORDER BY o_orderkey""".stripMargin

  /** Predicate-scoped OPTIMIZE round trip: a range-clustered table
    * takes a scattered append (one wide-range file degrading every
    * narrow merge), then `optimizeWhere` re-clusters ONLY the files
    * overlapping the low half of the key space in one remove/add
    * commit. Contents must be untouched through the scoped relayout
    * (the untouched-files-survive-byte-identical and
    * selectivity-restored halves are spec-pinned — layout is invisible
    * to a contents oracle).
    */
  def tableOptimizeWhere(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "optwhere")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.append(spark, t,
      base.filter(col("o_orderkey") % 17 === 3)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), (col("o_totalprice") / 2.0d).as("o_totalprice"))
        .repartition(1))
    CowTable.optimizeWhere(spark, t, "o_orderkey",
      lo = "1000000000", hi = "9999999999",
      layout = _.repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableOptimizeWhereSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice / 2
      |  FROM orders WHERE o_orderkey % 17 = 3)
      |ORDER BY o_orderkey""".stripMargin

  /** The table as a streaming SOURCE ([[graft.streaming.TableChangeFeed]]):
    * three commits land (create + two appends), then the change feed is
    * read as a real Structured Streaming query into a memory sink —
    * every row stamped with the commit version that added it. Appends
    * make the feed contents layout-independent (each commit's adds are
    * exactly its appended rows), so the DuckDB oracle replays the
    * per-version multisets; merge-fed feeds are spec-pinned instead
    * (changesAt's documented layout dependence).
    */
  def tableChangefeed(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "changefeed")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val k = col("o_orderkey")
    CowTable.create(spark, t, base.filter(k % 3 === 0), Seq("o_orderkey"))
    CowTable.append(spark, t, base.filter(k % 3 === 1))
    CowTable.append(spark, t, base.filter(k % 3 === 2))
    val sink = s"cf_${new java.io.File(dir).getName.replace('.', '_')}"
    val q = graft.streaming.TableChangeFeed.readChanges(spark, t)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    spark.table(sink)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col(graft.streaming.TableChangeFeed.VersionCol)
          .as("commit_version"))
      .orderBy("commit_version", "o_orderkey")
  }

  val tableChangefeedSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(1 AS BIGINT) AS commit_version
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, 2
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, 3
      |  FROM orders WHERE o_orderkey % 3 = 2)
      |ORDER BY commit_version, o_orderkey""".stripMargin

  /** The SELECTIVE change feed: same three commits, but the consumer
    * watches only a key slice (`where = o_orderkey % 2 = 0 AND
    * o_custkey < 500`) — each commit's add files prune by zone map
    * before any scan, then the predicate applies row-exactly, so a
    * narrow consumer of a wide table's feed ships O(matching) per
    * commit. The oracle replays the filtered per-version multisets.
    */
  def tableChangefeedWhere(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "changefeedw")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val k = col("o_orderkey")
    CowTable.create(spark, t,
      base.filter(k % 3 === 0).repartitionByRange(4, k), Seq("o_orderkey"))
    CowTable.append(spark, t, base.filter(k % 3 === 1))
    CowTable.append(spark, t, base.filter(k % 3 === 2))
    val sink = s"cfw_${new java.io.File(dir).getName.replace('.', '_')}"
    val q = graft.streaming.TableChangeFeed.readChanges(spark, t,
        where = Some("o_orderkey % 2 = 0 AND o_custkey < 500"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    spark.table(sink)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col(graft.streaming.TableChangeFeed.VersionCol)
          .as("commit_version"))
      .orderBy("commit_version", "o_orderkey")
  }

  val tableChangefeedWhereSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(1 AS BIGINT) AS commit_version
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, 2
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, 3
      |  FROM orders WHERE o_orderkey % 3 = 2)
      |WHERE o_orderkey % 2 = 0 AND o_custkey < 500
      |ORDER BY commit_version, o_orderkey""".stripMargin

  /** The table DRIVING its own consumer: an events table's change feed
    * (from version 2 — version 1 seeds the consumer) streams through
    * the exactly-once [[graft.streaming.TableSink.aggSink]] into a
    * standing [[graft.tables.AggTable]]; the gate output is the final
    * aggregate state read from disk, so one hash pins the feed's
    * completeness AND the fold's correctness. Oracle = the plain
    * aggregate over all rows (q_agg_upsert's shape): streamed
    * table→table maintenance ≡ batch recompute.
    */
  def pipelineChangefeedAgg(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "cfagg_src")
    val agg = scratch(dir, "cfagg_dst")
    val ckpt = scratch(dir, "cfagg_ckpt")
    reset(spark, src); reset(spark, agg); reset(spark, ckpt)
    val ev = Tables.loadEvents(spark, dir)
      .select("user_id", "event_type", "value")
    val cut1 = col("user_id") % 3 === 0
    val cut2 = col("user_id") % 3 === 1
    CowTable.create(spark, src, ev.filter(cut1),
      Seq("user_id"))                                    // v1 seeds
    CowTable.append(spark, src, ev.filter(cut2))         // v2 streams
    CowTable.append(spark, src, ev.filter(!cut1 && !cut2)) // v3 streams
    graft.tables.AggTable.init(spark, agg,
      CowTable.read(spark, src, Some(1L)),
      Seq("user_id", "event_type"), "value")
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, src, startingVersion = 2L)
      .select("user_id", "event_type", "value")
    val q = graft.streaming.TableSink
      .aggSink(feed, agg, Seq("user_id", "event_type"), "value",
        appId = "table-agg")
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    graft.tables.AggTable.read(spark, agg)
      .select(col("user_id"), col("event_type"), col("n"),
        col("total").cast("double").as("total"), col("vmin"), col("vmax"))
      .orderBy("user_id", "event_type")
  }

  /** DELETE WHERE round trip (SQL null semantics pinned): orders with
    * a band of prices NULLed first (via an evolved column would change
    * schema, so the fixture nulls through a MERGE), then
    * `deleteWhere(price*2 > threshold)` — TRUE rows go, FALSE and NULL
    * rows STAY (a `filter(!cond)` would wrongly drop the NULL rows;
    * the oracle's `WHERE NOT coalesce(cond, false)` pins the
    * three-valued contract through the storage round trip).
    */
  def tableDeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "delwhere")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    // null a price band so the delete predicate goes three-valued
    CowTable.merge(spark, t,
      base.filter(col("o_orderkey") % 19 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit(null).cast("double").as("o_totalprice")),
      Seq("o_orderkey"))
    CowTable.deleteWhere(spark, t,
      col("o_totalprice") * 2.0d > 300000.0d &&
        col("o_orderkey") % 3 === 1)
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableDeleteWhereSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT * FROM base
      |WHERE NOT coalesce(o_totalprice * 2 > 300000 AND o_orderkey % 3 = 1,
      |                   false)
      |ORDER BY o_orderkey""".stripMargin

  /** MERGE-ON-READ delete round trip ([[CowTable.deleteWhereDv]],
    * round 16 — protocol 6): two vector deletes (the second folds refs
    * on files the first already marked; the predicate goes
    * three-valued through the same nulled price band as the COW
    * delete gate), then the head (vectors subtracted at read), v1
    * time travel (everything back), and the head after [[purgeDv]]
    * (clean files, identical rows) all pinned by one hash.
    */
  def tableDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "deldv")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.merge(spark, t,
      base.filter(col("o_orderkey") % 19 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit(null).cast("double").as("o_totalprice")),
      Seq("o_orderkey"))                                            // v2
    CowTable.deleteWhereDv(spark, t,
      col("o_totalprice") * 2.0d > 300000.0d &&
        col("o_orderkey") % 3 === 1)                                // v3
    CowTable.deleteWhereDv(spark, t, col("o_orderkey") % 11 === 5)  // v4
    def stamped(df: DataFrame, src: String) =
      df.select(lit(src).as("src"), col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
    val head = stamped(CowTable.read(spark, t), "head")
    val v2 = stamped(CowTable.read(spark, t, Some(2L)), "v2")
    CowTable.purgeDv(spark, t)                                      // v5
    val purged = stamped(CowTable.read(spark, t), "purged")
    head.unionByName(v2).unionByName(purged)
      .orderBy("src", "o_orderkey")
  }

  val tableDeleteDvSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders),
      |kept AS (
      |  SELECT * FROM base
      |  WHERE NOT coalesce(o_totalprice * 2 > 300000
      |                     AND o_orderkey % 3 = 1, false)
      |    AND NOT coalesce(o_orderkey % 11 = 5, false))
      |SELECT * FROM (
      |  SELECT 'head' AS src, o_orderkey, o_custkey, o_totalprice
      |  FROM kept
      |  UNION ALL
      |  SELECT 'purged', o_orderkey, o_custkey, o_totalprice FROM kept
      |  UNION ALL
      |  SELECT 'v2', o_orderkey, o_custkey, o_totalprice FROM base)
      |ORDER BY src, o_orderkey""".stripMargin

  /** UPDATE ... SET ... WHERE round trip: big urgent-band orders get a
    * computed restatement (price-derived SET expression referencing the
    * row's own columns); unmatched rows — including NULL-predicate
    * rows — pass through byte-identical.
    */
  def tableUpdateWhere(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "updwhere")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.updateWhere(spark, t,
      col("o_totalprice") > 250000.0d && col("o_orderkey") % 2 === 0,
      Map(
        "o_totalprice" -> (col("o_totalprice") * 0.9d +
          (col("o_custkey") % 100).cast("double")),
        "o_orderstatus" -> lit("R")))
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableUpdateWhereSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_totalprice > 250000 AND o_orderkey % 2 = 0
      |       THEN o_totalprice * 0.9 + CAST(o_custkey % 100 AS DOUBLE)
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_totalprice > 250000 AND o_orderkey % 2 = 0
      |       THEN 'R' ELSE o_orderstatus END AS o_orderstatus
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Row-level CDC round trip: the `table_merge` fixture rules re-run
    * with `cdc = true`, and the GATE OUTPUT is the commit's CDC read
    * ([[CowTable.changesCdcAt]]) — update pre/postimages, delete
    * preimages, inserts. Unlike the file-level change feed this is
    * layout-INDEPENDENT, so DuckDB replays the exact change multiset:
    * one hash pins that the sidecar holds precisely the rows that
    * changed, with the right images.
    */
  def tableMergeCdc(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "mergecdc")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 21 === 0).as("del"))
      .unionByName(base.filter(col("o_orderkey") % 997 === 1)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(1.0d).as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit(false).as("del")))
    CowTable.merge(spark, t, updates, Seq("o_orderkey"), Some("del"),
      cdc = true)
    CowTable.changesCdcAt(spark, t, 2L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"),
        col(CowTable.ChangeTypeCol).as("change_type"))
      .orderBy("change_type", "o_orderkey")
  }

  val tableMergeCdcSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
      |         'update_preimage' AS change_type
      |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice + 100, 'U',
      |         'update_postimage'
      |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
      |         'delete'
      |  FROM base WHERE o_orderkey % 21 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey, CAST(1 AS DOUBLE),
      |         'N', 'insert'
      |  FROM base WHERE o_orderkey % 997 = 1)
      |ORDER BY change_type, o_orderkey""".stripMargin

  /** RESTORE round trip: create → bad merge → restore(1) — the head
    * must read as the ORIGINAL table through one rollback commit
    * (history never rewritten; the bad version stays time-travelable,
    * which the second output block pins by reading it back too).
    */
  def tableRestore(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "restore")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    val bad = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"),
        (col("o_orderkey") % 25 === 0).as("del"))
    CowTable.merge(spark, t, bad, Seq("o_orderkey"), Some("del"))
    CowTable.restore(spark, t, 1L)
    def summarize(v: Option[Long], tag: Long): DataFrame =
      CowTable.read(spark, t, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("snap", lit(tag))
    summarize(None, 0L)           // restored head == original
      .unionByName(summarize(Some(2L), 2L)) // bad version still readable
      .select("snap", "o_orderstatus", "cnt", "key_sum")
      .orderBy("snap", "o_orderstatus")
  }

  val tableRestoreSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
      |v2 AS (
      |  SELECT o_orderkey, o_orderstatus FROM base WHERE o_orderkey % 5 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, 'X' AS o_orderstatus
      |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 25 <> 0)
      |SELECT * FROM (
      |  SELECT 0 AS snap, o_orderstatus, COUNT(*) AS cnt,
      |         CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |  FROM base GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 2, o_orderstatus, COUNT(*),
      |         CAST(SUM(o_orderkey) AS BIGINT)
      |  FROM v2 GROUP BY o_orderstatus)
      |ORDER BY snap, o_orderstatus""".stripMargin

  /** Table REPLICATION over the row-level change feed: the source
    * takes a create, a CDC merge (upserts + deletes + inserts), a
    * plain append, and CDC predicate-DML; [[graft.streaming
    * .TableSink.replicaSink]] folds [[graft.streaming
    * .TableChangeFeed.readCdc]] into a second table, and the GATE
    * OUTPUT is the REPLICA read from disk — one hash pins feed
    * totality (every op representable), image correctness, and the
    * latest-commit-wins fold. Oracle = the source's expected contents
    * replayed in DuckDB: replica ≡ source ≡ oracle.
    */
  def pipelineTableReplica(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "repl_src")
    val dst = scratch(dir, "repl_dst")
    val ckpt = scratch(dir, "repl_ckpt")
    reset(spark, src); reset(spark, dst); reset(spark, ckpt)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, src,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 21 === 0).as("del"))
    CowTable.merge(spark, src, updates, Seq("o_orderkey"), Some("del"),
      cdc = true)
    CowTable.append(spark, src,
      base.filter(col("o_orderkey") % 997 === 1)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(1.0d).as("o_totalprice"),
          lit("N").as("o_orderstatus")))
    CowTable.deleteWhere(spark, src,
      col("o_orderkey") % 113 === 5, cdc = true)
    CowTable.updateWhere(spark, src, col("o_orderkey") % 131 === 7,
      Map("o_orderstatus" -> lit("W")), cdc = true)
    val q = graft.streaming.TableSink.replicaSink(
      graft.streaming.TableChangeFeed.readCdc(spark, src),
      dst, Seq("o_orderkey"), appId = "table-replica")
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    CowTable.read(spark, dst).orderBy("o_orderkey")
  }

  val pipelineTableReplicaSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |  FROM orders),
      |merged AS (
      |  SELECT * FROM base WHERE o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice + 100, 'U'
      |  FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey % 21 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey, CAST(1 AS DOUBLE), 'N'
      |  FROM base WHERE o_orderkey % 997 = 1)
      |SELECT o_orderkey, o_custkey, o_totalprice,
      |  CASE WHEN o_orderkey % 131 = 7 THEN 'W'
      |       ELSE o_orderstatus END AS o_orderstatus
      |FROM merged
      |WHERE o_orderkey % 113 <> 5
      |ORDER BY o_orderkey""".stripMargin

  /** FILTERED replication over the SCOPED feed (round 15): the same
    * source op sequence, the replica keeps only
    * `o_orderstatus <> 'U'` — the predicate the merge deliberately
    * crosses BOTH ways (updates restatus rows to 'U', evicting them;
    * the later updateWhere restatuses some of those to 'W',
    * re-admitting them), plus ordinary inserts, deletes and stay-in
    * updates. The replica consumes
    * `readCdc(where, whereKeys)` — the scoped feed ships exit rows as
    * DELETE markers (keyed pre/post pairing), so the replica needs no
    * filter of its own and its feed volume tracks the SLICE's change
    * rate; the oracle wraps the exact-replica replay in the filter.
    */
  def pipelineTableReplicaWhere(spark: SparkSession,
      dir: String): DataFrame = {
    val src = scratch(dir, "replw_src")
    val dst = scratch(dir, "replw_dst")
    val ckpt = scratch(dir, "replw_ckpt")
    reset(spark, src); reset(spark, dst); reset(spark, ckpt)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, src,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 21 === 0).as("del"))
    CowTable.merge(spark, src, updates, Seq("o_orderkey"), Some("del"),
      cdc = true)
    CowTable.append(spark, src,
      base.filter(col("o_orderkey") % 997 === 1)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(1.0d).as("o_totalprice"),
          lit("N").as("o_orderstatus")))
    CowTable.deleteWhere(spark, src,
      col("o_orderkey") % 113 === 5, cdc = true)
    CowTable.updateWhere(spark, src, col("o_orderkey") % 131 === 7,
      Map("o_orderstatus" -> lit("W")), cdc = true)
    val q = graft.streaming.TableSink.replicaSink(
      graft.streaming.TableChangeFeed.readCdc(spark, src,
        where = Some("o_orderstatus <> 'U'"),
        whereKeys = Seq("o_orderkey")),
      dst, Seq("o_orderkey"), appId = "table-replica")
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    CowTable.read(spark, dst).orderBy("o_orderkey")
  }

  val pipelineTableReplicaWhereSql: String =
    s"""SELECT * FROM (
       |${pipelineTableReplicaSql.stripSuffix("\nORDER BY o_orderkey")})
       |WHERE o_orderstatus <> 'U'
       |ORDER BY o_orderkey""".stripMargin

  /** Predicate read round trip: a key-clustered table read back
    * through [[CowTable.readWhere]] — manifest ranges prune the plan,
    * the full predicate (including the non-prunable price conjunct)
    * applies row-exactly. Oracle = the plain WHERE.
    */
  def tableReadWhere(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "readwhere")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.readWhere(spark, t,
      col("o_orderkey") >= 1000L && col("o_orderkey") < 30000L &&
        col("o_totalprice") > 100000.0d)
      .orderBy("o_orderkey")
  }

  val tableReadWhereSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey >= 1000 AND o_orderkey < 30000
      |  AND o_totalprice > 100000
      |ORDER BY o_orderkey""".stripMargin

  /** Feed-driven SCD2 audit history ([[graft.streaming.TableHistory]]):
    * the source takes a CDC merge then a CDC range delete; the history
    * is maintained purely from the change feed, and the GATE OUTPUT is
    * the history's reconstruction of EVERY source version
    * (`Scd2Table.asOf(v)` summarized per status) — history ≡ the
    * source's own time travel, replayed state-by-state by the oracle.
    */
  def pipelineTableHistory(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "hist_src")
    val hist = scratch(dir, "hist_dst")
    val ckpt = scratch(dir, "hist_ckpt")
    reset(spark, src); reset(spark, hist); reset(spark, ckpt)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    CowTable.create(spark, src,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    graft.tables.Scd2Table.init(spark, hist,
      CowTable.read(spark, src, Some(1L)), Seq("o_orderkey"), asOf = 1L)
    val updates = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("X").as("o_orderstatus"),
        (col("o_orderkey") % 25 === 0).as("del"))
    CowTable.merge(spark, src, updates, Seq("o_orderkey"), Some("del"),
      cdc = true)                                               // v2
    CowTable.deleteWhere(spark, src,
      col("o_orderkey") % 7 === 3, cdc = true)                  // v3
    val q = graft.streaming.TableHistory.scd2Sink(
      graft.streaming.TableChangeFeed.readCdc(spark, src,
        startingVersion = 2L),
      hist, Seq("o_orderkey"), appId = "table-history")
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    (1L to 3L).map { v =>
      graft.tables.Scd2Table.asOf(spark, hist, v)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("key_sum"))
        .withColumn("snap", lit(v))
    }.reduce(_.unionByName(_))
      .select("snap", "o_orderstatus", "cnt", "key_sum")
      .orderBy("snap", "o_orderstatus")
  }

  val pipelineTableHistorySql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
      |v2 AS (
      |  SELECT o_orderkey, o_orderstatus FROM base WHERE o_orderkey % 5 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, 'X' AS o_orderstatus
      |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 25 <> 0),
      |v3 AS (
      |  SELECT * FROM v2 WHERE o_orderkey % 7 <> 3)
      |SELECT * FROM (
      |  SELECT 1 AS snap, o_orderstatus, COUNT(*) AS cnt,
      |         CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |  FROM base GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 2, o_orderstatus, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      |  FROM v2 GROUP BY o_orderstatus
      |  UNION ALL
      |  SELECT 3, o_orderstatus, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      |  FROM v3 GROUP BY o_orderstatus)
      |ORDER BY snap, o_orderstatus""".stripMargin

  /** CHECK constraints round trip: the `table_merge` rules run against
    * a constrained table (`o_totalprice >= 0` — every legitimate write
    * passes), then a poisoned batch with negative prices is REJECTED
    * whole; the gate output is the final read, which must equal the
    * unconstrained merge result exactly — i.e. the rejected batch
    * provably published nothing and the constraint machinery is
    * contents-invisible for passing writes. Oracle = tableMergeSql
    * VERBATIM.
    */
  def tableConstraint(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "constraint")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.addConstraint(spark, t, "price_nonneg", "o_totalprice >= 0")
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0d).as("o_totalprice"),
        lit("U").as("o_orderstatus"),
        (col("o_orderkey") % 21 === 0).as("del"))
      .unionByName(base.filter(col("o_orderkey") % 997 === 1)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"), lit(1.0d).as("o_totalprice"),
          lit("N").as("o_orderstatus"), lit(false).as("del")))
    CowTable.merge(spark, t, updates, Seq("o_orderkey"), Some("del"))
    val poisoned = base.filter(col("o_orderkey") % 501 === 2)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_custkey"), lit(-5.0d).as("o_totalprice"),
        lit("P").as("o_orderstatus"))
    val rejected =
      try { CowTable.append(spark, t, poisoned); false }
      catch { case e: RuntimeException
        if e.getMessage.contains("price_nonneg") => true }
    require(rejected, "the poisoned batch must be rejected")
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  /** The continuous-curation loop, end to end and SELF-DRIVEN: raw
    * ingest commits land in one CowTable (wave 1 create, wave 2
    * append); its change feed streams through
    * [[graft.streaming.TableCuration.curateSink]], which screens each
    * commit IN VERSION ORDER against the curated table with the
    * proven incremental-dedup verdicts and appends only the keeps,
    * Txn-stamped. Wave 2 contains exact and near copies of wave 1's
    * KEEPS — rejected only because wave 1's keeps already entered the
    * curated corpus, so the hash pins the sequential-screen semantics,
    * the feed's completeness, and the transactional appends in one.
    * Both waves arrive in ONE catch-up micro-batch here, exercising
    * the per-version split inside a single trigger. The oracle
    * replays the two screens sequentially in DuckDB
    * ([[DedupQueries.screenCtes]] chained over corpus then
    * corpus ∪ keeps₁).
    */
  def pipelineFeedCurate(spark: SparkSession, dir: String): DataFrame = {
    val raw = scratch(dir, "fc_raw")
    val cur = scratch(dir, "fc_cur")
    val ckpt = scratch(dir, "fc_ckpt")
    reset(spark, raw); reset(spark, cur); reset(spark, ckpt)
    // the PRODUCTION screen path: a persisted bucketed corpus index,
    // bootstrapped from the seed and extended per admitted batch —
    // O(|commit|) shingle work per trigger, the corpus never
    // re-shingled (drop catalog AND warehouse leftovers: a prior
    // Verify JVM's managed tables survive as bare locations)
    val idx = "graft_curidx"
    Seq(s"${idx}_hashes", s"${idx}_bands", s"${idx}_shingles").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select("doc_id", "text")
    CowTable.create(spark, cur, docs, Seq("doc_id"))
    graft.dedup.IncrementalDedup.writeIndex(
      graft.dedup.IncrementalDedup.buildIndex(docs, "doc_id", "text"), idx)
    CowTable.create(spark, raw,
      DedupQueries.incrementalBatch(docs), Seq("doc_id"))        // v1
    CowTable.append(spark, raw, DedupQueries.curateBatch2(docs)) // v2
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, raw, startingVersion = 1L)
    val q = graft.streaming.TableCuration
      .curateSink(feed, cur, "doc_id", "text", appId = "table-curation",
        indexPrefix = Some(idx))
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    CowTable.read(spark, cur).orderBy("doc_id")
  }

  val pipelineFeedCurateSql: String =
    s"""WITH batch1 AS (
       |  SELECT doc_id + 200000 AS doc_id, text FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 300000, text || ' zzz' FROM documents
       |  WHERE doc_id % 7 = 1
       |  UNION ALL SELECT doc_id + 400000, reverse(text) FROM documents
       |  WHERE doc_id % 7 = 2),
       |${DedupQueries.screenCtes("documents", "batch1", "c", "b", "v1")},
       |corpus2 AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM v1keeps),
       |batch2 AS (
       |  SELECT doc_id + 500000 AS doc_id, reverse(text) AS text
       |  FROM documents WHERE doc_id % 7 = 2
       |  UNION ALL SELECT doc_id + 600000, reverse(text) FROM documents
       |  WHERE doc_id % 7 = 3
       |  UNION ALL SELECT doc_id + 700000, text || ' zzz' FROM documents
       |  WHERE doc_id % 7 = 4
       |  UNION ALL SELECT doc_id + 800000, reverse(text) || ' qqq'
       |  FROM documents WHERE doc_id % 7 = 2),
       |${DedupQueries.screenCtes("corpus2", "batch2", "d", "e", "v2")}
       |SELECT doc_id, text FROM corpus2
       |UNION ALL SELECT doc_id, text FROM v2keeps
       |ORDER BY doc_id""".stripMargin

  /** Shallow-clone round trip with divergence on BOTH sides: the clone
    * references the range-clustered source's files by absolute path
    * (zero copies), a narrow predicate UPDATE on the clone rewrites
    * ONLY the touched low-key file into the clone's own data dir
    * (externally-referenced candidates probed, touched external entry
    * swapped for a local rewrite — the COW-on-clone path), then a
    * source-side DELETE removes every fifth key FROM THE SOURCE ONLY.
    * Gate output = the clone read back: a mixed external+local
    * snapshot where any leak of the source delete, any miss of the
    * clone update, or any broken external reference changes the hash.
    */
  def tableClone(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "clone_src")
    val dst = scratch(dir, "clone_dst")
    reset(spark, src); reset(spark, dst)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, src,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.shallowClone(spark, src, dst)
    CowTable.updateWhere(spark, dst, col("o_orderkey") < 2000,
      Map("o_totalprice" -> (col("o_totalprice") + 100.0d),
        "o_orderstatus" -> lit("U")))
    CowTable.deleteWhere(spark, src, col("o_orderkey") % 5 === 0)
    CowTable.read(spark, dst).orderBy("o_orderkey")
  }

  val tableCloneSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey < 2000 THEN o_totalprice + 100.0
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey < 2000 THEN 'U'
      |       ELSE o_orderstatus END AS o_orderstatus
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** DEEP CLONE round trip ([[CowTable.deepClone]] — independent
    * byte-for-byte copy, round 15): clone a merged table, DIVERGE both
    * sides (source delete, clone update), then vacuum the SOURCE
    * aggressively (retain 1, no age gate) — the decoupling this
    * operator exists for: no lease, no external references, the copy
    * reads on regardless of what the source reclaims (the shallow
    * clone's retention contract is exactly what a backup must NOT
    * have). The clone's content after its own update IS the gate
    * output.
    */
  def tableDeepClone(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "dclone_src")
    val dst = scratch(dir, "dclone_dst")
    reset(spark, src); reset(spark, dst)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, src,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.merge(spark, src,
      base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 50.0d).as("o_totalprice"),
          lit("M").as("o_orderstatus")),
      Seq("o_orderkey"))
    CowTable.deepClone(spark, src, dst)
    // diverge: neither side may see the other's writes
    CowTable.deleteWhere(spark, src, col("o_orderkey") % 3 === 0)
    CowTable.updateWhere(spark, dst, col("o_orderkey") < 2000,
      Map("o_orderstatus" -> lit("D")))
    // the backup property: an aggressive SOURCE vacuum (which would
    // have required a lease to spare a shallow clone) reclaims freely
    // and the deep clone still reads
    CowTable.vacuum(spark, src, retainVersions = 1, retentionMs = 0)
    CowTable.read(spark, dst).orderBy("o_orderkey")
  }

  val tableDeepCloneSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 50.0
      |       ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey < 2000 THEN 'D'
      |       WHEN o_orderkey % 7 = 0 THEN 'M'
      |       ELSE o_orderstatus END AS o_orderstatus
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** The maintenance loop end to end: a range-clustered table takes
    * three SCATTERED full-range ingests (each append's files span the
    * whole key domain — the fragmentation every nightly pipeline
    * accumulates), then ONE `Maintenance.maintain` call reads the
    * manifest, detects the over-covered range via the typed interval
    * sweep, and re-clusters exactly it. Contents must be untouched —
    * the gate hash pins that the advisor's detect → scope → rewrite
    * loop is layout-only; the quality contract (detected before,
    * quiet after, selectivity restored) is MaintenanceSpec's.
    */
  def tableMaintain(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "maintain")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    CowTable.create(spark, t,
      base.repartitionByRange(8, col("o_orderkey")), Seq("o_orderkey"))
    (0 until 3).foreach { r =>
      CowTable.append(spark, t,
        base.filter(col("o_orderkey") % 3 === r)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + (r + 1) * 10.0d).as("o_totalprice"),
            col("o_orderstatus"))
          .repartition(4))
    }
    graft.tables.Maintenance.maintain(spark, t,
      maxOverlapDepth = 3, smallFileRows = 0L)
    CowTable.read(spark, t).orderBy("o_orderkey")
  }

  val tableMaintainSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey,
      |  o_totalprice + 10.0 * (o_orderkey % 3 + 1), o_orderstatus
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** The curation loop's AUDIT side: the same two-wave feed-curation
    * run, but the gate output is the QUARANTINE table — every reject
    * with its verdict flags, Txn-stamped per source commit ("what did
    * we drop and why", queryable like any table). Runs the
    * rebuild-mode screen so both curateSink modes stay gate-covered
    * (the indexed mode is `pipeline_feed_curate`'s). The oracle
    * replays both screens sequentially and selects the complements.
    */
  def pipelineFeedQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val raw = scratch(dir, "fq_raw")
    val cur = scratch(dir, "fq_cur")
    val quar = scratch(dir, "fq_quar")
    val ckpt = scratch(dir, "fq_ckpt")
    Seq(raw, cur, quar, ckpt).foreach(reset(spark, _))
    val docs = Tables.loadSpread(spark, dir, "documents")
      .select("doc_id", "text")
    CowTable.create(spark, cur, docs, Seq("doc_id"))
    CowTable.create(spark, raw,
      DedupQueries.incrementalBatch(docs), Seq("doc_id"))        // v1
    CowTable.append(spark, raw, DedupQueries.curateBatch2(docs)) // v2
    val feed = graft.streaming.TableChangeFeed
      .readChanges(spark, raw, startingVersion = 1L)
    val q = graft.streaming.TableCuration
      .curateSink(feed, cur, "doc_id", "text", appId = "table-curation",
        quarantinePath = Some(quar))
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally q.stop()
    CowTable.read(spark, quar).orderBy("doc_id")
  }

  val pipelineFeedQuarantineSql: String = {
    def rejects(batchRel: String, vp: String) =
      s"""SELECT bt.doc_id, bt.text,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS exact_dup,
         |  CASE WHEN n.b_id IS NOT NULL THEN 1 ELSE 0 END AS near_dup
         |FROM $batchRel bt
         |LEFT JOIN ${vp}exact e ON e.doc_id = bt.doc_id
         |LEFT JOIN ${vp}near n ON n.b_id = bt.doc_id
         |WHERE e.doc_id IS NOT NULL OR n.b_id IS NOT NULL""".stripMargin
    s"""WITH batch1 AS (
       |  SELECT doc_id + 200000 AS doc_id, text FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 300000, text || ' zzz' FROM documents
       |  WHERE doc_id % 7 = 1
       |  UNION ALL SELECT doc_id + 400000, reverse(text) FROM documents
       |  WHERE doc_id % 7 = 2),
       |${DedupQueries.screenCtes("documents", "batch1", "c", "b", "v1")},
       |corpus2 AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM v1keeps),
       |batch2 AS (
       |  SELECT doc_id + 500000 AS doc_id, reverse(text) AS text
       |  FROM documents WHERE doc_id % 7 = 2
       |  UNION ALL SELECT doc_id + 600000, reverse(text) FROM documents
       |  WHERE doc_id % 7 = 3
       |  UNION ALL SELECT doc_id + 700000, text || ' zzz' FROM documents
       |  WHERE doc_id % 7 = 4
       |  UNION ALL SELECT doc_id + 800000, reverse(text) || ' qqq'
       |  FROM documents WHERE doc_id % 7 = 2),
       |${DedupQueries.screenCtes("corpus2", "batch2", "d", "e", "v2")}
       |SELECT * FROM (
       |${rejects("batch1", "v1")}
       |UNION ALL
       |${rejects("batch2", "v2")})
       |ORDER BY doc_id""".stripMargin
  }

  /** Row provenance round trip: three disjoint ingest waves (create +
    * two re-keyed appends), then `readWithProvenance` — every row must
    * come back tagged with the commit version that wrote its file.
    * Wave membership is key-determined, so provenance is
    * layout-INdependent here and the oracle replays it as a CASE.
    */
  def tableProvenance(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "provenance")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    CowTable.create(spark, t,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 3 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("o_custkey")))
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 3 === 1)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_custkey")))
    CowTable.readWithProvenance(spark, t).orderBy("o_orderkey")
  }

  val tableProvenanceSql: String =
    """SELECT o_orderkey, o_custkey, CAST(1 AS BIGINT) AS _commit_version
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 1000000000, o_custkey, 2 FROM orders
      |WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey + 2000000000, o_custkey, 3 FROM orders
      |WHERE o_orderkey % 3 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** Table→table streaming pipe with NO foreachBatch glue: one
    * CowTable's change feed written into another through the DSv1
    * sink provider (`writeStream.format(...)`), exactly-once per
    * micro-batch. Three source commits (create + two appends, the
    * middle one re-keyed) drain in one catch-up; gate output = the
    * TARGET table read from disk.
    */
  def pipelineTablePipe(spark: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "pipe_src")
    val dst = scratch(dir, "pipe_dst")
    val ckpt = scratch(dir, "pipe_ckpt")
    Seq(src, dst, ckpt).foreach(reset(spark, _))
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    CowTable.create(spark, src,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.append(spark, src, base.filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("o_custkey")))
    CowTable.append(spark, src, base.filter(col("o_orderkey") % 7 === 0)
      .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
        col("o_custkey")))
    val q = graft.streaming.TableChangeFeed.readChanges(spark, src)
      .select("o_orderkey", "o_custkey")
      .writeStream
      .format("cowtable")
      .option("path", dst)
      .option("statsCols", "o_orderkey")
      .option("checkpointLocation", ckpt)
      .start()
    try { q.processAllAvailable() } finally q.stop()
    CowTable.read(spark, dst).orderBy("o_orderkey")
  }

  val pipelineTablePipeSql: String =
    """SELECT o_orderkey, o_custkey FROM orders
      |UNION ALL
      |SELECT o_orderkey + 1000000000, o_custkey FROM orders
      |WHERE o_orderkey % 5 = 0
      |UNION ALL
      |SELECT o_orderkey + 2000000000, o_custkey FROM orders
      |WHERE o_orderkey % 7 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** The table format as plain SQL text: one statement reads the head
    * through the `cow_table` TVF, time-travels to v1 through its
    * second argument, and reads commit 2's adds through
    * `cow_table_changes` — the SparkSessionExtensions surface a SQL
    * user gets with zero Scala (`Sessions` installs GraftExtensions in
    * every harness session, so this is the default experience).
    */
  def tableSqlTvf(spark: SparkSession, dir: String): DataFrame = {
    val t = scratch(dir, "tvf")
    reset(spark, t)
    val base = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    CowTable.create(spark, t,
      base.repartitionByRange(4, col("o_orderkey")), Seq("o_orderkey"))
    CowTable.append(spark, t, base.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        col("o_custkey")))
    spark.sql(
      s"""SELECT 'head' AS src, o_orderkey, o_custkey FROM cow_table('$t')
         |UNION ALL
         |SELECT 'v1', o_orderkey, o_custkey FROM cow_table('$t', 1)
         |UNION ALL
         |SELECT 'v2adds', o_orderkey, o_custkey
         |FROM cow_table_changes('$t', 2)
         |ORDER BY src, o_orderkey""".stripMargin)
  }

  val tableSqlTvfSql: String =
    """WITH slice AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey
      |  FROM orders WHERE o_orderkey % 11 = 0)
      |SELECT * FROM (
      |  SELECT 'head' AS src, o_orderkey, o_custkey FROM orders
      |  UNION ALL SELECT 'head', o_orderkey, o_custkey FROM slice
      |  UNION ALL SELECT 'v1', o_orderkey, o_custkey FROM orders
      |  UNION ALL SELECT 'v2adds', o_orderkey, o_custkey FROM slice)
      |ORDER BY src, o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "table_sql_tvf" -> (tableSqlTvf(_, _)),
    "pipeline_table_pipe" -> (pipelineTablePipe(_, _)),
    "table_provenance" -> (tableProvenance(_, _)),
    "pipeline_feed_quarantine" -> (pipelineFeedQuarantine(_, _)),
    "table_maintain" -> (tableMaintain(_, _)),
    "table_clone" -> (tableClone(_, _)),
    "table_deep_clone" -> (tableDeepClone(_, _)),
    "pipeline_feed_curate" -> (pipelineFeedCurate(_, _)),
    "table_constraint" -> (tableConstraint(_, _)),
    "pipeline_table_history" -> (pipelineTableHistory(_, _)),
    "table_read_where" -> (tableReadWhere(_, _)),
    "pipeline_table_replica" -> (pipelineTableReplica(_, _)),
    "pipeline_table_replica_where" -> (pipelineTableReplicaWhere(_, _)),
    "table_merge_cdc" -> (tableMergeCdc(_, _)),
    "table_restore" -> (tableRestore(_, _)),
    "table_delete_where" -> (tableDeleteWhere(_, _)),
    "table_update_where" -> (tableUpdateWhere(_, _)),
    "table_merge_cond" -> (tableMergeCond(_, _)),
    "table_optimize_where" -> (tableOptimizeWhere(_, _)),
    "table_changefeed" -> (tableChangefeed(_, _)),
    "table_changefeed_where" -> (tableChangefeedWhere(_, _)),
    "pipeline_changefeed_agg" -> (pipelineChangefeedAgg(_, _)),
    "pipeline_table_ingest" -> (pipelineTableIngest(_, _)),
    "table_evolve" -> (tableEvolve(_, _)),
    "table_rename" -> (tableRename(_, _)),
    "table_rename_nested" -> (tableRenameNested(_, _)),
    "table_evolve_nested" -> (tableEvolveNested(_, _)),
    "table_delete_dv" -> (tableDeleteDv(_, _)),
    "table_aggmerge" -> (tableAggmerge(_, _)),
    "table_scd2" -> (tableScd2(_, _)),
    "table_partitioned" -> (tablePartitioned(_, _)),
    "table_optimize" -> (tableOptimize(_, _)),
    "table_merge" -> (tableMerge(_, _)),
    "table_timetravel" -> (tableTimetravel(_, _)),
    "table_compact" -> (tableCompact(_, _)))

  val oracleSql: Map[String, String] = Map(
    "table_sql_tvf" -> tableSqlTvfSql,
    "pipeline_table_pipe" -> pipelineTablePipeSql,
    "table_provenance" -> tableProvenanceSql,
    "pipeline_feed_quarantine" -> pipelineFeedQuarantineSql,
    "table_maintain" -> tableMaintainSql,
    "table_clone" -> tableCloneSql,
    "table_deep_clone" -> tableDeepCloneSql,
    "pipeline_feed_curate" -> pipelineFeedCurateSql,
    "table_constraint" -> tableMergeSql,
    "pipeline_table_history" -> pipelineTableHistorySql,
    "table_read_where" -> tableReadWhereSql,
    "pipeline_table_replica" -> pipelineTableReplicaSql,
    "pipeline_table_replica_where" -> pipelineTableReplicaWhereSql,
    "table_merge_cdc" -> tableMergeCdcSql,
    "table_restore" -> tableRestoreSql,
    "table_delete_where" -> tableDeleteWhereSql,
    "table_update_where" -> tableUpdateWhereSql,
    "table_merge_cond" -> tableMergeCondSql,
    "table_optimize_where" -> tableOptimizeWhereSql,
    "table_changefeed" -> tableChangefeedSql,
    "table_changefeed_where" -> tableChangefeedWhereSql,
    "pipeline_changefeed_agg" -> Relational.qAggUpsertSql,
    "pipeline_table_ingest" -> pipelineTableIngestSql,
    "table_evolve" -> tableEvolveSql,
    "table_rename" -> tableRenameSql,
    "table_rename_nested" -> tableRenameNestedSql,
    "table_evolve_nested" -> tableEvolveNestedSql,
    "table_delete_dv" -> tableDeleteDvSql,
    "table_aggmerge" -> Relational.qAggUpsertSql,
    "table_scd2" -> DiffQueries.scd2ApplySql,
    "table_partitioned" -> tablePartitionedSql,
    "table_optimize" -> tableOptimizeSql,
    "table_merge" -> tableMergeSql,
    "table_timetravel" -> tableTimetravelSql,
    "table_compact" -> tableCompactSql)
}
