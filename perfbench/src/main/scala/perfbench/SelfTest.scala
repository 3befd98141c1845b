package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import perfbench.Checks.Neighbour

import scala.jdk.CollectionConverters._

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  *
  *   - the same seed gives byte-identical inputs, another seed others —
  *     both for the generators and for the files each workload writes;
  *   - each check accepts the planted truth and rejects it with one
  *     planted change removed;
  *   - one real op per workload, at a small size, passes its check.
  *
  * Prints the metric and workload names it emits as the last stdout line
  * (run.py compares them with BENCHMARK.json); exits 1 on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    System.err.println(s"${if (pass) "ok  " else "FAIL"} $what")
    if (!pass) failures += 1
  }

  private def digest(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def small(seed: Long) = {
    val p = Gen.smallPair(seed, 3)
    digest((p.s1 ++ p.s2).map(_.mkString("\u0001")).mkString("\n") + p.truth)
  }
  private def corpus(seed: Long) = {
    val c = Gen.corpus(seed, 3, 400)
    digest(c.texts.mkString("\n") + c.clones)
  }
  private def vectors(seed: Long) =
    digest(Gen.vectors(seed, 1, 100, Gen.centres(seed)).map(_.mkString(",")).mkString("\n"))

  private def generators(): Unit =
    Seq("small diff" -> small _, "corpus" -> corpus _, "vectors" -> vectors _).foreach { case (n, f) =>
      check(s"$n generator: same seed, same bytes", f(7) == f(7))
      check(s"$n generator: other seed, other bytes", f(7) != f(8))
    }

  private def checks(): Unit = {
    val t = Gen.smallPair(7, 0).truth
    val flags = Map("S1_ONLY" -> t.s1Only, "S2_ONLY" -> t.s2Only, "NODIFF" -> t.noDiff,
      "" -> t.diff)
    check("diff check accepts the planted truth",
      Checks.diff(t, flags, t.perCol, flags, t.entries).isEmpty)
    val gone = t.entries.head
    val stats = t.perCol.updated(gone._2, t.perCol(gone._2) - 1).filter(_._2 > 0)
    check("diff check rejects the rows with one planted change removed",
      Checks.diff(t, flags, t.perCol, flags, t.entries - gone).nonEmpty)
    check("diff check rejects the stats with one planted change removed",
      Checks.diff(t, flags, stats, flags, t.entries).nonEmpty)
    check("small diff: per-column change rates follow the golden counts", {
      val pairs = (0 until 40).map(Gen.smallPair(7, _))
      val shared = pairs.map(p => p.truth.diff + p.truth.noDiff).sum.toDouble
      Gen.SmallCols.tail.zip(Gen.GoldenCounts).forall { case (c, g) =>
        val rate = pairs.map(_.truth.perCol.getOrElse(c, 0L)).sum / shared
        math.abs(rate - g.toDouble / Gen.GoldenShared) < 0.03
      }
    })

    val c = Gen.corpus(7, 0, 400)
    val originals = c.ids.filterNot(c.clones.map(_.id).toSet)
    check("curate check accepts the originals", Checks.curate(c, originals, 0.4).isEmpty)
    val exact = c.clones.find(_.k == 0).get.id
    check("curate check rejects an exact clone kept twice",
      Checks.curate(c, originals :+ exact, 0.4).nonEmpty)
    check("curate check rejects a dropped original",
      Checks.curate(c, originals.tail, 0.4).nonEmpty)

    val vs = Gen.vectors(7, 1, 200, Gen.centres(7))
    val ids = vs.indices.map(_.toLong).toArray
    val norms = vs.map(v => math.sqrt(v.map(x => x * x).sum))
    val q = Gen.vectors(7, 2, 1, Gen.centres(7)).head
    val top = Checks.exactTopK(q, ids, vs, norms, 10)
    val qn = math.sqrt(q.map(x => x * x).sum)
    def cos(i: Long) = q.indices.map(j => q(j) * vs(i.toInt)(j)).sum / (qn * norms(i.toInt))
    val exactRows = top.zipWithIndex.map { case (n, r) => Neighbour(-1, r + 1, n, cos(n)) }
    check("ann check accepts the exact top-10 with recall 1",
      Checks.ann(Map(-1L -> q), exactRows, 10, ids, vs, norms) == ((Nil, 10)))
    val wrong = exactRows.updated(3, exactRows(3).copy(cos = exactRows(3).cos + 1e-6))
    check("ann check rejects a wrong cosine",
      Checks.ann(Map(-1L -> q), wrong, 10, ids, vs, norms)._1.nonEmpty)
  }

  /** Sorted rows of every parquet input a workload's set-up wrote. */
  private def written(spark: org.apache.spark.sql.SparkSession, work: Path): String = {
    val dirs = Files.walk(work).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isDirectory(p))
      .map(_.toString).toSeq.sorted
    digest(dirs.map { d =>
      work.relativize(Paths.get(d)).toString + "\n" +
        spark.read.parquet(d).collect().map(_.toString).sorted.mkString("\n")
    }.mkString("\n"))
  }

  private def workloads(work: Path): Unit = {
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    def make(name: String, ctx: Ctx): Workload = name match {
      case "curate_corpus" => new CurateCorpus(ctx, 600)
      case "ann_search" => new AnnSearch(ctx, 3000)
      case n => Workloads(n, ctx)
    }
    Workloads.names.foreach { name =>
      val digests = Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).map { case (d, seed) =>
        val dir = work.resolve(s"$name-$d")
        make(name, new Ctx(spark, dir, seed)).setup()
        written(spark, dir)
      }
      check(s"$name inputs: same seed, same rows", digests(0) == digests(1))
      check(s"$name inputs: other seed, other rows", digests(0) != digests(2))
      val wl = make(name, new Ctx(spark, work.resolve(s"$name-run"), 11L))
      wl.setup()
      val outcomes = (0 until 5).map(wl.op)
      outcomes.flatMap(_.problems).take(3).foreach(p => System.err.println(s"  $p"))
      check(s"$name: five real ops pass their checks", outcomes.forall(_.problems.isEmpty))
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    generators()
    checks()
    val work = Paths.get(sys.props("java.io.tmpdir")).resolve("selftest")
    Files.createDirectories(work)
    workloads(work)
    def names(xs: Seq[String]) = xs.map(Json.str).mkString("[", ", ", "]")
    println(Json.obj(Seq(
      "end_to_end" -> names(Main.EndToEnd.map(_._1)),
      "per_layer" -> names(Main.PerLayer.map(_._1)),
      "workloads" -> names(Workloads.names))))
    if (failures > 0) {
      System.err.println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }
}
