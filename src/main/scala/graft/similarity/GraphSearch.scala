package graft.similarity

import graft.similarity.Cosine._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy BEAM search over a kNN graph — the search face that turns
  * [[KnnGraph]] / [[NnDescent]]'s graph from a product into an index
  * (the HNSW/NSG serving idea: walk the neighborhood graph toward the
  * query instead of scanning cells). Entry points come from the coarse
  * layer ([[IVFIndex]] cell assignment — the same two-level
  * coarse-then-fine discipline as [[IvfPq]]); each hop expands the
  * current frontier's UNDIRECTED graph neighbors, scores them by exact
  * cosine to the query, and keeps the best `beamWidth` as the next
  * frontier; every candidate ever scored stays in the result pool.
  *
  * Semantics chosen for oracle replay (and hence for determinism on
  * ANY cluster): a FIXED number of hops (not convergence-tested — the
  * plan is static), frontier selection and the final ranking by
  * [[Cosine.ranked]]'s (cos_sim DESC, n_id ASC) — a total order — and
  * no visited-set exclusion (a candidate rescored on a later hop
  * recomputes the identical double, so the final DISTINCT
  * collapses it; exclusion semantics would need per-query mutable
  * state, which is exactly what a declarative plan can't express and
  * an oracle can't replay). The DuckDB oracle unrolls the same hops
  * CTE by CTE and reproduces every cosine bit-for-bit.
  *
  * Scale shape (the 100 TB argument): the frontier is |queries| ×
  * beamWidth rows and every per-hop candidate set is ≤ frontier ×
  * 2·graphK — broadcast-side tiny; the corpus-scale participants are
  * the undirected edge list (≤ 2·graphK·N rows, hash-joined on the
  * frontier node id with the FRONTIER broadcast) and the vector table
  * (hash-joined on candidate id, again against a broadcast candidate
  * set). Nothing is all-pairs; per query the total work is
  * O(hops · beamWidth · graphK) scored candidates — independent of N,
  * which is the entire point of graph-based ANN serving.
  */
object GraphSearch {

  /** `entryK` coarse-cell entry points, `hops` expansion rounds,
    * `beamWidth`-wide frontier between rounds.
    */
  case class Config(beamWidth: Int = 8, hops: Int = 2, entryK: Int = 4) {
    require(beamWidth >= 1 && hops >= 1 && entryK >= 1)
  }

  /** Top-`k` per query via beam search over `graph` (a
    * (src_id, n_id)-shaped kNN edge list), with `assigned` =
    * [[IVFIndex.assign]]'s (vid, v, nrm, cell) frame providing both
    * the vectors and the coarse entry layer. Entry points are the
    * `entryK` smallest-id members of the query's own cell (smallest-id:
    * deterministic, needs no extra scoring pass; the beam's first hop
    * immediately re-ranks by similarity anyway). Queries alone in
    * their cell produce no rows — the honest empty answer, same
    * contract as [[KnnGraph.build]].
    *
    * Output: (q_id, rank, n_id, cos_sim), rank 1 = most similar among
    * every candidate the walk scored.
    */
  def searchOver(assigned: DataFrame, graph: DataFrame,
      isQuery: Column => Column, k: Int,
      cfg: Config = Config()): DataFrame =
    searchQueries(assigned,
      // undirected edges: a hop may enter a node through its reverse
      // edge — the standard graph-ANN trick that roughly doubles
      // reachable neighborhoods at no index cost
      undirected(graph),
      assigned.filter(isQuery(col("vid")))
        .select(col("vid").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("cell").as("q_cell")),
      k, cfg)

  /** (a, b) undirected distinct edges of a (src_id, n_id) graph. */
  private[similarity] def undirected(graph: DataFrame): DataFrame =
    graph.select(col("src_id").as("a"), col("n_id").as("b"))
      .union(graph.select(col("n_id").as("a"), col("src_id").as("b")))
      .distinct()

  /** The walk over prepared pieces — `assigned` = the corpus
    * (vid, v, nrm, cell), `und` = undirected (a, b) edges, `queries` =
    * (q_id, qv, qn, q_cell) which may be corpus members OR external
    * vectors assigned against the same centroid layer (the served
    * form). A candidate sharing the query's id is excluded — for
    * corpus-member queries that is self-exclusion; external query ids
    * should be disjoint from corpus ids (the serving contract).
    */
  private[similarity] def searchQueries(assigned: DataFrame,
      und: DataFrame, queries: DataFrame, k: Int, cfg: Config): DataFrame = {
    val vecs = assigned.select(col("vid"), col("v"), col("nrm"))

    // entry points: entryK smallest-id cellmates of each query
    val we = Window.partitionBy("q_id").orderBy(asc("vid"))
    val entries = queries.select(col("q_id"), col("q_cell"))
      .join(assigned.select(col("vid"), col("cell")),
        col("q_cell") === col("cell"))
      .filter(col("vid") =!= col("q_id"))
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") <= cfg.entryK)
      .select(col("q_id"), col("vid").as("n_id"))

    // score a (q_id, n_id) candidate set by exact cosine — candidates
    // are broadcast-size by construction, the corpus side joins by id
    def scored(cands: DataFrame): DataFrame =
      broadcast(cands)
        .join(vecs, col("n_id") === col("vid"))
        .join(broadcast(queries.select(col("q_id").as("sq"), col("qv"),
          col("qn"))), col("q_id") === col("sq"))
        .select(col("q_id"), col("n_id"),
          cosineWithNorms(dot(col("qv"), col("v")), col("qn"), col("nrm"))
            .as("cos_sim"))

    var frontier = scored(entries)
    var seen = frontier
    for (_ <- 1 to cfg.hops) {
      val beam = ranked(frontier, "q_id", cfg.beamWidth)
        .select(col("q_id"), col("n_id"))
      val cands = broadcast(beam)
        .join(und, col("n_id") === col("a"))
        .filter(col("b") =!= col("q_id"))
        .select(col("q_id"), col("b").as("n_id"))
        .distinct()
      frontier = scored(cands)
      seen = seen.unionByName(frontier)
    }
    // a candidate reached on several hops carries the identical double
    // each time — DISTINCT collapses it before the final ranking
    topK(seen.distinct(), "q_id", k)
  }

  /** The self-contained form: build the coarse assignment from the
    * stride config, search over a caller-supplied graph.
    */
  def search(vectors: DataFrame, idCol: String, vecCol: String,
      graph: DataFrame, isQuery: Column => Column, k: Int,
      cfg: Config = Config(),
      ivfCfg: IVFIndex.Config = IVFIndex.Config()): DataFrame =
    searchOver(IVFIndex.assign(vectors, idCol, vecCol, ivfCfg), graph,
      isQuery, k, cfg)

  // ------------------------------------------------------ persisted index

  /** Persist the graph index as catalog tables — the staging form a
    * recurring serving pipeline reads instead of rebuilding (the
    * [[IvfPq.writeIndex]] / [[graft.text.Bm25]] discipline):
    *
    *   - `<table>_vectors`: the assigned corpus (vid, v, nrm),
    *     `partitionBy("cell")` — entry-point lookups for a query batch
    *     read ONLY the batch's cells (scan-level partition pruning);
    *   - `<table>_edges`: the UNDIRECTED distinct edge list (a, b) —
    *     stored undirected so serving never re-derives it;
    *   - `<table>_cents`: the coarse centroid frame — later query
    *     batches assign against the IDENTICAL cell boundaries.
    */
  def writeIndex(vectors: DataFrame, idCol: String, vecCol: String,
      graphK: Int, table: String,
      ivfCfg: IVFIndex.Config = IVFIndex.Config()): Unit = {
    val cents = IVFIndex.centroidFrame(vectors, idCol, vecCol, ivfCfg)
    cents.write.mode("overwrite").saveAsTable(s"${table}_cents")
    val spark = vectors.sparkSession
    val frozen = spark.table(s"${table}_cents")
    val assigned = IVFIndex
      .assignWithCentroids(vectors, idCol, vecCol, frozen).persist()
    assigned.write.partitionBy("cell").mode("overwrite")
      .saveAsTable(s"${table}_vectors")
    undirected(KnnGraph.buildWithCentroids(vectors, idCol, vecCol,
        graphK, frozen))
      .write.mode("overwrite").saveAsTable(s"${table}_edges")
    assigned.unpersist(blocking = false)
  }

  /** Serve a query batch from a persisted index: zero build work — the
    * batch assigns against the frozen centroid table, entry-point
    * lookup prunes the vectors scan to the batch's cells, and the walk
    * runs [[searchQueries]] verbatim, so served answers are spec'd
    * row-equal to the build-and-search path for the same vectors.
    * Query ids must be disjoint from corpus ids (the id-exclusion
    * contract documented on [[searchQueries]]).
    */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, cfg: Config = Config()): DataFrame = {
    val q = IVFIndex.assignWithCentroids(queries, idCol, vecCol,
        spark.table(s"${table}_cents"))
      .select(col("vid").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("q_cell"))
    searchQueries(spark.table(s"${table}_vectors"),
      spark.table(s"${table}_edges"), q, k, cfg)
  }
}
