package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** The benchmark driver:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <temp dir> [--spans <file>]
  *
  * One caller in a closed loop: each op starts when the previous one has
  * returned. Set-up starts the session, writes the first inputs (for
  * ann, builds the index and appends once) and runs [[WarmOps]] ops; the
  * live heap is read after them, so it reflects a fixed amount of work.
  * The measured phase then runs ops for `--seconds`.
  * With `--trace 1` the first half runs untraced and the second half
  * traced, and per-layer metrics are printed instead of end-to-end ones.
  * The last line of stdout is the result object; everything else goes to
  * stderr.
  */
object Main {
  val WarmOps = 4

  /** End-to-end metrics: name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_s" -> "s",
    "op_p90_s" -> "s", "heap_live_mb" -> "MB")

  /** Per-layer metrics: name -> unit. A metric of a layer that a
    * workload does not use reads 0 there.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "diff.build_s" -> "s", "diff.plan_s" -> "s", "diff.compute_s" -> "s",
    "diff.stats_s" -> "s", "diff.rows_s" -> "s", "diff.jobs" -> "count",
    "diff.stages" -> "count", "diff.tasks" -> "count",
    "diff.exec_cpu_s" -> "s", "diff.task_wait_s" -> "s",
    "diff.shuffle_write_mb" -> "MB", "diff.spill_mb" -> "MB",
    "diff.blocks_left" -> "count",
    "queries.load_s" -> "s",
    "text.curate_build_s" -> "s", "text.curate_exec_s" -> "s",
    "text.score_s" -> "s", "text.exec_cpu_s" -> "s",
    "text.shuffle_write_mb" -> "MB",
    "dedup.exact_s" -> "s", "dedup.candidates_s" -> "s",
    "dedup.verify_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verified_ratio" -> "ratio",
    "dedup.exec_cpu_s" -> "s", "dedup.shuffle_write_mb" -> "MB",
    "dedup.blocks_left" -> "count", "dedup.near_dup_recall" -> "ratio",
    "similarity.model_read_s" -> "s", "similarity.topk_build_s" -> "s",
    "similarity.topk_exec_s" -> "s",
    "similarity.rows_scanned_per_query" -> "rows/query",
    "similarity.jobs" -> "count", "similarity.exec_cpu_s" -> "s",
    "similarity.append_s" -> "s",
    "similarity.append_mb_written_per_user_mb" -> "MB/MB",
    "similarity.index_build_s" -> "s", "similarity.blocks_left" -> "count",
    "similarity.recall_at_10" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_wait_s" -> "s",
    "spark.codegen_compile_s" -> "s", "spark.codegen_compiles_per_op" -> "count",
    "spark.exec_cpu_s" -> "s", "spark.exec_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "setup.session_s" -> "s", "setup.warmup_s" -> "s",
    "setup.process_to_first_op_s" -> "s", "trace.overhead_s" -> "s")

  private def err(s: String): Unit = System.err.println(s)

  /** Ops run back to back from index `first` for `seconds` of wall time. */
  private def loop(wl: Workload, first: Int, seconds: Double)
      : Seq[(Int, OpOutcome)] = {
    val out = Seq.newBuilder[(Int, OpOutcome)]
    val t0 = System.nanoTime()
    var i = first
    while (i == first || System.nanoTime() - t0 < seconds * 1e9) {
      out += i -> runOp(wl, i)
      i += 1
    }
    out.result()
  }

  /** One op; a throw is a failed op with its error, never retried. */
  private def runOp(wl: Workload, i: Int): OpOutcome = {
    val t0 = System.nanoTime()
    val o = try wl.op(i) catch {
      case NonFatal(e) =>
        OpOutcome((System.nanoTime() - t0) / 1e9, 0,
          Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"))
    }
    o.problems.take(5).foreach(p => err(s"op $i FAILED: $p"))
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Sessions.local(cpus)
    // JVM start to a ready session: the session set-up a caller pays
    val session = Probe.sinceStartSeconds
    val ctx = new Ctx(spark, work, seed)
    val wl = Workloads(name, ctx)
    err(f"session ready at $session%.2f s")

    val built = wl.setup()
    val warm = (1 to WarmOps).map(w => runOp(wl, -w))
    val warmSeconds = warm.map(_.seconds).sum
    err(f"set-up library calls: $built%.2f s; warm-up ops: " +
      warm.map(o => f"${o.seconds}%.2f").mkString(" ") + " s")
    // set-up as the library's time before the first measured op: the
    // benchmark's own input generation and checks are left out
    val setup = session + built + warmSeconds
    val firstOpAt = Probe.sinceStartSeconds
    val jit = Probe.jitSeconds
    val heap = Probe.heapLiveMb

    val gc0 = Probe.gcSeconds
    val plain = loop(wl, 0, if (trace) seconds / 2 else seconds)
    val gcPerOp = (Probe.gcSeconds - gc0) / plain.size
    val traced =
      if (!trace) Nil
      else {
        ctx.tracer.start()
        loop(wl, plain.size, seconds / 2)
      }

    val all = warm ++ plain.map(_._2) ++ traced.map(_._2)
    val failed = all.count(_.problems.nonEmpty)
    val times = plain.map(_._2.seconds)
    val e2e = Map(
      "setup_s" -> Metric(setup, "s"),
      "items_per_s" -> Metric(plain.map(_._2.items).sum / times.sum, "1/s", times.size),
      "op_p50_s" -> Metric(Stats.median(times), "s", times.size),
      "op_p90_s" -> Metric(Stats.quantile(times, 0.9), "s", times.size),
      "heap_live_mb" -> Metric(heap, "MB"))

    val layerValues = wl.layers(traced.map(_._1)) ++ Map(
      "jvm.gc_s" -> gcPerOp, "jvm.jit_s" -> jit,
      "setup.session_s" -> session, "setup.warmup_s" -> warmSeconds,
      "setup.process_to_first_op_s" -> firstOpAt,
      "trace.overhead_s" -> (if (traced.isEmpty) 0.0
        else Stats.median(traced.map(_._2.seconds)) - Stats.median(times)))

    err(s"op seconds: ${times.map(t => f"$t%.3f").mkString(" ")}")
    err(f"== $name seed=$seed: ${all.size} ops attempted, $failed failed " +
      f"(fail_frac ${failed.toDouble / all.size}%.4f)")
    e2e.toSeq.sortBy(m => EndToEnd.indexWhere(_._1 == m._1)).foreach { case (k, m) =>
      err(f"  $k%-14s ${m.value}%12.6f ${m.unit}%-5s n=${m.samples}")
    }
    Seq("similarity.recall_at_10", "dedup.near_dup_recall", "similarity.append_s",
      "diff.blocks_left", "dedup.blocks_left", "similarity.blocks_left")
      .filter(k => layerValues.get(k).exists(_ != 0.0))
      .foreach(k => err(f"  $k%-24s ${layerValues(k)}%.6f"))

    if (trace) opts.get("spans").foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.writeString(Paths.get(p), ctx.tracer.spansJson)
    }
    val metrics =
      if (trace) PerLayer.map { case (k, u) => k -> Metric(layerValues.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, _) => k -> e2e(k) }
    val body = metrics.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    }
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> all.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(body))))
  }
}
