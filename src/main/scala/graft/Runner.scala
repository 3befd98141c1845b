package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The query loop the harness mains (Bench, Verify, Trace, Stress)
  * share: session size, input directory, query selection and the
  * per-query step live here once, so every tool measures the config
  * that Bench runs. The three environment options it reads are the
  * only ones under `src/main`.
  */
object Runner {

  /** The harness session on `local[SPARK_GRAFT_CPUS]`, else on every
    * processor the JVM sees.
    */
  def session(): SparkSession = Sessions.local(sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))

  /** Input scale-factor directory: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The names of `all`, in order, that a comma-separated `only` list
    * keeps; every name when the list is absent.
    */
  def select(all: Seq[String], only: Option[String]): Seq[String] =
    only.fold(all) { v =>
      val keep = v.split(",").map(_.trim).toSet
      all.filter(keep)
    }

  /** [[select]] driven by `SPARK_GRAFT_ONLY`, the local-iteration
    * hook for running a few queries; unset means all of them.
    */
  def selected(all: Seq[String]): Seq[String] =
    select(all, sys.env.get("SPARK_GRAFT_ONLY"))

  /** One per-query step: the body's result, or its non-fatal error
    * as a string (a fatal one ends the run rather than leave a suspect
    * JVM producing results). Then [[settle]], outside any timing the
    * body takes.
    */
  def step[A](spark: SparkSession)(body: => A): Either[String, A] = {
    val r = try Right(body) catch { case NonFatal(e) => Left(e.toString) }
    settle(spark)
    r
  }

  /** Drop the caches a query persisted, then quiesce the heap, so the
    * next query neither inherits memory pressure nor absorbs the
    * full-GC pause of everything before it.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** A registry query as Bench times it: the top-level presentation
    * sort is elided (see
    * [[org.apache.spark.sql.graft.PlanSurgery.stripGlobalSort]]).
    */
  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    org.apache.spark.sql.graft.PlanSurgery
      .stripGlobalSort(SparkEntry.queries(name)(spark, dir))

  /** Materialize every projected column through the `noop` sink: no
    * driver collect, no disk I/O, and no column pruning of the work.
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** JSON string literal: quote, backslash and every control char
    * escaped, so oracle SQL with a tab or CR stays loadable.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Fixed-point number, locale-independent. */
  def num(v: Double, decimals: Int): String =
    s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
}
