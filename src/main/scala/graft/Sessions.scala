package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession recipe for the harness mains (via [[Runner]]) and
  * the test session — the settings below were each measured in
  * earlier rounds and MUST stay in sync across the tools, so they live
  * here once.
  */
object Sessions {

  /** @param cpus local[] thread count; also sizes shuffle partitions so
    *             small-SF shuffles don't fan 200 ways
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // Shuffle partitions sized to the HARNESS data scale, not the
      // core count — the "size spark.sql.shuffle.partitions to the
      // target SF" discipline applied to our own harness. At sf0.1
      // the largest exchange is a few tens of MB, so cpus/2 = 16
      // partitions keeps every exchange partition in the 1–10 MB
      // sweet spot while SCANS retain full cpus-way parallelism (the
      // loadSpread repartition uses defaultParallelism, a separate
      // knob). Measured full-fleet A/B, same host regime, 85 slots:
      // raw 79.8 s @32 → 66.0 s @16 (−17%, every family improved;
      // SURVEY round-11 bench appendix). At production scale this
      // constant is cluster-tuned upward (or AQE coalesces a large
      // initial count) — the principle is partitions track DATA
      // volume, which a fixed per-core count does not.
      .config("spark.sql.shuffle.partitions",
        scala.util.Try((cpus.toInt / 2).max(1).toString).getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as long and let
      // Tables.loadEvents truncate to micros (matches DuckDB)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // AQE on (the 100 TB posture: runtime coalescing + skew
      // splitting)
      .config("spark.sql.adaptive.enabled", "true")
      // keep FALSE: letting AQE re-plan cached outputs coalesces small
      // persisted frames to ~1 partition, serializing their CPU-heavy
      // consumers (measured 2× on pipeline_curate, SURVEY §9). The
      // empty-partition cost it would save is handled by lazy
      // checkpoints in the iterative operators instead
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      // the generated-class cache defaults to 100 entries; a 47-query
      // suite (× warmup) compiles far more units, and eviction re-pays
      // janino+JIT mid-run (measured 4× on late queries, SURVEY §9)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Align whole-stage-codegen's bail-out with HotSpot's
      // -XX:DontCompileHugeMethods limit (8000 bytes of bytecode), not
      // Spark's 64 KB default. WSCG fuses a stage into ONE method and
      // cannot split it (operands are locals), so a literal-heavy plan
      // — k-means/PQ centroid argmins, wide CASE ladders — lands in
      // the 8 KB..64 KB gap: Spark keeps the fused method, the JIT
      // refuses it, and the stage runs in the bytecode interpreter
      // (~10× CPU, silently). Under the limit Spark falls back to
      // per-operator codegen whose splitExpressions emits many small
      // JIT-able methods: measured 32 s → 3.5 s executor CPU on the
      // PQ coding stage, identical results.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")

  /** Build with WARN logging — the shape every main uses. */
  def local(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
