package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The benchmark's entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> [--work <dir>]`.
  *
  * Prints one informational JSON line and then, as the last line, the
  * result: `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics when untraced and the per-layer metrics when
  * traced. */
object Main {

  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_ms", "ms", "lower"))

  val Layers: Seq[String] =
    Seq("analysis", "build", "codec", "table", "query", "sql", "streaming", "pipeline")

  val PerLayer: Seq[Metric] = {
    def m(n: String, u: String, b: String) = Metric(n, u, b)
    Seq(
      m("analysis.tokens", "count", "higher"), m("analysis.tokens_per_s", "1/s", "higher"),
      m("build.plan_ms", "ms", "lower"), m("build.jobs", "count", "lower"),
      m("build.tasks", "count", "lower"), m("build.task_busy_s", "s", "lower"),
      m("build.task_gc_s", "s", "lower"), m("build.idle_s", "s", "lower"),
      m("build.shuffle_write_mb", "MB", "lower"), m("build.spill_mb", "MB", "lower"),
      m("build.docs_per_s", "1/s", "higher"), m("build.scaling_eff", "ratio", "higher"),
      m("codec.bytes_per_posting", "bytes", "lower"),
      m("codec.decode_mpostings_per_s", "Mpostings/s", "higher"),
      m("codec.encode_mpostings_per_s", "Mpostings/s", "higher"),
      m("table.write_s", "s", "lower"), m("table.bytes_written_mb", "MB", "lower"),
      m("table.files_written", "count", "lower"), m("table.load_ms", "ms", "lower"),
      m("table.index_bytes_per_source_byte", "ratio", "lower"),
      m("query.p50_ms", "ms", "lower"), m("query.tail_ms", "ms", "lower"),
      m("query.tail_pct", "%", "higher"), m("query.samples", "count", "higher")) ++
      Inputs.Shapes.map(s => m(s"query.$s.p50_ms", "ms", "lower")) ++ Seq(
      m("query.jobs_per_query", "count", "lower"), m("query.tasks_per_query", "count", "lower"),
      m("query.driver_wait_ms", "ms", "lower"), m("query.task_busy_ms", "ms", "lower"),
      m("query.scan_kb_per_query", "KB", "lower"), m("query.shuffle_kb_per_query", "KB", "lower"),
      m("query.result_kb_per_query", "KB", "lower"), m("query.index_cache_mb", "MB", "lower"),
      m("sql.register_ms", "ms", "lower"), m("sql.match.p50_ms", "ms", "lower"),
      m("streaming.append_ms", "ms", "lower"), m("streaming.delete_ms", "ms", "lower"),
      m("streaming.update_ms", "ms", "lower"), m("streaming.load_merged_ms", "ms", "lower"),
      m("streaming.append_p50_ms", "ms", "lower"), m("streaming.compact_s", "s", "lower"),
      m("streaming.segments_max", "count", "lower"), m("streaming.tombstones_max", "count", "lower"),
      m("streaming.compact_rewrite_ratio", "ratio", "lower")) ++
      Dedup.Ops.flatMap(o => Seq(m(s"pipeline.${o}_s", "s", "lower"),
        m(s"pipeline.$o.shuffle_mb", "MB", "lower"))) ++ Seq(
      m("pipeline.minhash_precision", "ratio", "higher"),
      m("pipeline.planted_recall", "ratio", "higher"),
      m("pipeline.docs_per_s", "1/s", "higher")) ++
      Layers.map(l => m(s"$l.self_s", "s", "lower")) ++ Seq(
      m("trace.overhead_ms", "ms", "lower"), m("trace.overhead_pct", "%", "lower"),
      m("trace.spans", "count", "lower"))
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length % 2 != 0 || args.grouped(2).exists(p => !p(0).startsWith("--")))
      fail("arguments are --<name> <value> pairs")
    val opts = args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    val workDir = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val wl = opts.get("workload").flatMap(Workloads.byName)
      .getOrElse(fail(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(fail("--seed <integer> is required"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).filter(_ >= 0)
      .getOrElse(fail("--seconds <number> is required"))
    val traced = opts.get("trace") match {
      case Some("1") => true
      case Some("0") | None => false
      case Some(o) => fail(s"--trace must be 0 or 1, got $o")
    }
    val work = workDir.resolve(s"${wl.name}-$seed-${ProcessHandle.current().pid()}")
    Run.deleteTree(work.toString)
    val ctx = new Ctx(seed, traced, work, cores)
    val outcome =
      try wl.run(ctx, seconds)
      finally ctx.drainListener()
    val metrics = if (traced) perLayer(ctx, outcome) else endToEnd(ctx, outcome)
    ctx.stopSpark()
    Run.deleteTree(work.toString)
    if (traced) writeSpans(ctx, wl.name)

    val ops = ctx.samplesOf("op")
    val tail = Stats.tail(ops)
    val failedChecks = ctx.checks.filterNot(_._2).map(_._1)
    println(Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(seed), "trace" -> Json.bool(traced),
      "cores" -> Json.num(cores.toLong), "op_samples" -> Json.num(ops.size.toLong),
      "op_latencies_ms" -> Json.arr(ops.map(Json.num)),
      "ops_per_s" -> Json.num(1000.0 * ops.size / ops.sum),
      "op_tail" -> tail.map { case (p, v) => Json.obj(Seq("pct" -> Json.num(p), "ms" -> Json.num(v))) }
        .getOrElse("null"),
      "error_rate" -> Json.num(ctx.failed.toDouble / math.max(1L, ctx.attempted)),
      "setup_runs_s" -> Json.arr(outcome.setupS.map(Json.num)),
      "failed_checks" -> Json.arr(failedChecks.toSeq.map(Json.str))) ++
      outcome.detail.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))
    println(Json.obj(Seq(
      "correct" -> Json.bool(failedChecks.isEmpty && ctx.failed == 0),
      "attempted" -> Json.num(ctx.attempted), "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (m, v) =>
        m.name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(m.unit)))
      }))))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def endToEnd(ctx: Ctx, o: Outcome): Seq[(Metric, Double)] = {
    val values = Map(
      "setup_s" -> Stats.median(o.setupS),
      "op_ms" -> Stats.meanOfMedians(ctx.kindsOf("op")))
    EndToEnd.map(m => m -> values(m.name))
  }

  /** Per-layer metrics: what the workload measured itself, plus the
    * Spark work its measured calls ran (per call), span self times per
    * traced operation, and the tracing overhead. Layers a workload does
    * not touch read 0. */
  def perLayer(ctx: Ctx, o: Outcome): Seq[(Metric, Double)] = {
    val a = ctx.attribution
    def perCall(group: String): (GroupTotals, Double, Double) = {
      val w = ctx.windowsUnder(group)
      val n = math.max(1, w.size).toDouble
      (a.totalsUnder(s"measure:$group"), n,
        Intervals.idleWithin(w, a.taskIntervalsUnder(s"measure:$group")).toDouble)
    }
    val derived = scala.collection.mutable.Map.empty[String, Double]
    locally {
      val (t, n, idle) = perCall("build")
      derived ++= Seq("build.jobs" -> t.jobs / n, "build.tasks" -> t.tasks / n,
        "build.task_busy_s" -> t.busyMs / 1000.0 / n, "build.task_gc_s" -> t.gcMs / 1000.0 / n,
        "build.idle_s" -> idle / 1000.0 / n, "build.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6 / n,
        "build.spill_mb" -> t.spillBytes / 1e6 / n)
    }
    locally {
      val (t, n, idle) = perCall("query")
      derived ++= Seq("query.jobs_per_query" -> t.jobs / n, "query.tasks_per_query" -> t.tasks / n,
        "query.driver_wait_ms" -> idle / n, "query.task_busy_ms" -> t.busyMs / n,
        "query.scan_kb_per_query" -> t.inputBytes / 1e3 / n,
        "query.shuffle_kb_per_query" -> t.shuffleWriteBytes / 1e3 / n,
        "query.result_kb_per_query" -> t.resultBytes / 1e3 / n)
    }
    Dedup.Ops.foreach { op =>
      val (t, n, _) = perCall(s"pipeline.$op")
      derived(s"pipeline.$op.shuffle_mb") = t.shuffleWriteBytes / 1e6 / n
    }
    val spans = ctx.tracer.spans
    val isMeasured = (s: Span) => s.name.startsWith("measure:")
    val self = Trace.selfByLayer(spans, isMeasured)
    val tracedOps = math.max(1, spans.count(s => isMeasured(s) && s.layer == "bench")).toDouble
    Layers.foreach(l => derived(s"$l.self_s") = self.getOrElse(l, 0L) / 1e9 / tracedOps)
    val (on, off) = (ctx.samplesOf("traced"), ctx.samplesOf("untraced"))
    if (on.nonEmpty && off.nonEmpty) {
      val d = Stats.median(on) - Stats.median(off)
      derived ++= Seq("trace.overhead_ms" -> d, "trace.overhead_pct" -> 100.0 * d / Stats.median(off))
    }
    derived("trace.spans") = spans.size.toDouble
    PerLayer.map(m => m -> o.layer.getOrElse(m.name, derived.getOrElse(m.name, 0.0)))
  }

  private def writeSpans(ctx: Ctx, workload: String): Unit = {
    val out = ctx.work.getParent.getParent.resolve("traces").resolve(s"$workload-seed${ctx.seed}.jsonl")
    Files.createDirectories(out.getParent)
    Files.write(out, Trace.jsonLines(ctx.tracer.spans).toSeq.asJava)
    System.err.println(s"graftbench: spans written to $out")
  }

}
