package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** graft's benchmark, one workload per process (see graftbench/README.md).
  *
  * Untraced (`--trace 0`): set up, measure the workload for `--seconds`,
  * check its outputs, print the end-to-end metrics. Traced (`--trace 1`):
  * set up every workload, run every layer probe with spans, job groups and
  * the benchmark's own listeners (the workload's own probe also once
  * without them, for `trace.overhead`), print the per-layer metrics and
  * write `spans.jsonl` and `report.json` to the run directory.
  * The last line of standard output is the JSON result; the exit code is
  * non-zero when a check fails.
  */
object Main {
  val Workloads = Seq("er-batch", "ops-suite", "er-stream")
  val TextSample = 20000

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      home: Path, runDir: Path, launchedAtMs: Double)

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    val t = need("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, secs, t == "1", Paths.get(need("home")),
      Paths.get(need("run-dir")), need("launched-at-ms").toDouble)
  }

  def session(runDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case NonFatal(e) =>
        Console.err.println(s"graftbench: ${e.getMessage}")
        sys.exit(2)
    }
    Files.createDirectories(a.runDir)
    val spark = session(a.runDir)
    val ctx = Ctx(spark, a.home, a.runDir, a.seed, a.seconds, new HeapProbe,
      new Tracer(spark.sparkContext, s"${a.workload}-seed${a.seed}"))
    val ok =
      try if (a.trace) traced(ctx, a) else untraced(ctx, a)
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def guarded(name: String)(body: => Seq[Check]): Seq[Check] =
    try body catch { case NonFatal(e) => Seq(Check(name, ok = false, e.toString)) }

  def untraced(ctx: Ctx, a: Args): Boolean = {
    val (warm, m) = a.workload match {
      case "er-batch" =>
        val w = guarded("warm_up_er")({ ErBatch.warmUp(ctx); Nil })
        (w, ErBatch.measure(ctx))
      case "ops-suite" =>
        val w = guarded("warm_up_ops")(OpsSuite.warmUp(ctx))
        (w, OpsSuite.measure(ctx))
      case "er-stream" =>
        val listener = new ErStream.Progress
        ctx.spark.streams.addListener(listener)
        val (staged, w) = ErStream.setUp(ctx, listener)
        (w, ErStream.measure(ctx, listener, staged))
    }
    val metrics =
      if (m.passes.isEmpty) Nil
      else Seq(
        Metric("setup_s", (m.firstOpAtMs - a.launchedAtMs) / 1e3, "s"),
        Metric("pass_s", Stats.median(m.passes), "s"),
        Metric("op_p50_s", Stats.median(m.ops), "s"),
        Metric("op_tail_s", Stats.tail(m.ops), "s"),
        Metric("peak_heap_mb", ctx.heap.peakMb, "MB"))
    val shown = metrics ++ m.display :+
      Metric("fail_share", m.failed.toDouble / m.attempted, "ratio") :+
      Metric("samples", m.ops.size.toDouble, "count")
    shown.foreach(x => println(f"metric ${a.workload} ${x.name} ${Json.num(x.value)} ${x.unit}"))
    println(s"op_seconds ${a.workload} ${m.ops.map(x => f"$x%.3f").mkString(" ")}")
    report(warm ++ m.checks, m.attempted, m.failed, metrics, a)
  }

  /** Prints the checks and the result line; true when every check passed
    * and the metrics exist. */
  private def report(checks: Seq[Check], attempted: Long, failed: Long,
      metrics: Seq[Metric], a: Args): Boolean = {
    checks.foreach(c => println(s"check ${c.name} ${if (c.ok) "ok" else "FAIL"}: ${c.detail}"))
    val correct = checks.forall(_.ok) && metrics.nonEmpty
    val ms = metrics.map(x => x.name -> Json.obj(Seq(
      "value" -> Json.num(x.value), "unit" -> Json.str(x.unit))))
    println(Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms))))
    correct
  }

  def traced(ctx: Ctx, a: Args): Boolean = {
    val spark = ctx.spark
    val origin = System.nanoTime()
    val listener = new ErStream.Progress
    spark.streams.addListener(listener)
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    checks ++= guarded("warm_up_er")({ ErBatch.warmUp(ctx); Nil })
    checks ++= guarded("warm_up_ops")(OpsSuite.warmUp(ctx))
    val (staged, w) = ErStream.setUp(ctx, listener)
    checks ++= w
    val tracing = new Tracing(spark, ctx.tracer)
    def streamPass(name: String) = ErStream.pass(ctx, listener, staged, name,
      ErStream.config(ctx.seed, ctx.freshDir(s"$name-er")), () => ())

    // each probe runs traced; the workload's own probe also runs untraced
    // once, next to it, for trace.overhead
    val erUntraced =
      if (a.workload != "er-batch") Double.NaN
      else {
        val (s, o) = ErBatch.timedRun(ctx, ctx.freshDir("er-untraced"))
        graft.er.Pipeline.release(o)
        graft.ops.Caches.releaseAll()
        s
      }
    val (erMetrics, sample, erTraced, erChecks) = ErBatch.traced(ctx, tracing, TextSample)
    checks ++= erChecks
    val (opsMetrics, opsTraced, opsUntraced, opsChecks) =
      OpsSuite.traced(ctx, tracing, untraced = a.workload == "ops-suite")
    checks ++= opsChecks
    val streamUntraced =
      if (a.workload != "er-stream") Double.NaN
      else streamPass("stream-untraced").latencies.sum
    val stream = tracing.traced(ctx.tracer.span("stream.pass")(streamPass("stream-traced")))
    checks ++= stream.checks
    val textMetrics = TextLayer.metrics(sample)

    val (tracedWall, untracedWall) = a.workload match {
      case "er-batch" => (erTraced, erUntraced)
      case "ops-suite" => (opsTraced, opsUntraced)
      case "er-stream" => (stream.latencies.sum, streamUntraced)
    }
    val metrics = erMetrics ++ opsMetrics ++ textMetrics ++
      ErStream.layerMetrics(stream) :+
      Metric("trace.overhead", tracedWall / untracedWall - 1, "ratio")
    metrics.foreach(x => println(f"metric ${a.workload} ${x.name} ${Json.num(x.value)} ${x.unit}"))

    val pipeline = ctx.tracer.named("er.pipeline").head
    val phaseSum = ErBatch.Phases.map(p => ctx.tracer.named(s"er.$p").head.seconds).sum
    val coverage = Seq(
      "er_pipeline_s" -> Json.num(pipeline.seconds),
      "er_phase_spans_s" -> Json.num(phaseSum),
      "er_span_share_of_traced_wall" -> Json.num(phaseSum / pipeline.seconds),
      "er_untraced_run_pipeline_s" -> Json.num(if (a.workload == "er-batch") untracedWall else Double.NaN),
      "note" -> Json.str("runPipeline's label expand step has no public entry point; " +
        "the traced phases do not run it"))
    ctx.tracer.write(a.runDir.resolve("spans.jsonl"), origin)
    Files.writeString(a.runDir.resolve("report.json"), Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "untraced_wall_s" -> Json.num(untracedWall), "traced_wall_s" -> Json.num(tracedWall),
      "er_coverage" -> Json.obj(coverage),
      "metrics" -> Json.obj(metrics.map(x => x.name -> Json.obj(Seq(
        "value" -> Json.num(x.value), "unit" -> Json.str(x.unit))))))) + "\n")
    println(s"trace spans: ${a.runDir.resolve("spans.jsonl")}")

    val attempted = OpsSuite.queries.size + ErBatch.Phases.size + staged.files.size
    report(checks.toSeq, attempted, stream.failed, metrics, a)
  }
}
