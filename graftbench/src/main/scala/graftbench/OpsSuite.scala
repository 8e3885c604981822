package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.ops.Caches

/** `ops-suite`: every `SparkEntry.queries` entry over the sf0.1 tables,
  * each fully materialized through Spark's `noop` sink. Many short jobs
  * dominate, so this stresses planning, stage count and `graft.ops`. The
  * tables are fixed data (generated at seed 42); the seed argument does
  * not apply.
  *
  * Every column is computed: unlike `count()`, the noop sink gives
  * Catalyst no column to prune. The same pass observes each output's row
  * count and an order-independent content hash, so checking costs no
  * second execution.
  */
object OpsSuite {
  val DataSf = "sf0.1"
  val WarmUpSf = "sf0.001"

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)

  /** Output of one query: rows, and the content hash where every column
    * is exact (no floating-point or map values anywhere in the schema). */
  final case class Seen(rows: Long, hash: Option[String])

  private def exact(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => false
    case s: StructType => s.fields.forall(f => exact(f.dataType))
    case a: ArrayType => exact(a.elementType)
    case _ => true
  }

  /** Runs one query to full materialization; returns its seconds and
    * what it produced. */
  def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): (Double, Seen) = {
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val hashed = df.schema.fields.forall(f => exact(f.dataType))
    val obs = Observation()
    val rows = count(lit(1)).as("rows")
    val observed =
      if (hashed)
        df.observe(obs, rows,
          coalesce(sum(xxhash64(col("*")).cast(DecimalType(38, 0))), lit(0)).as("hash"))
      else df.observe(obs, rows)
    observed.write.format("noop").mode("overwrite").save()
    val s = Clock.seconds(t0)
    val m = obs.get
    (s, Seen(m("rows").asInstanceOf[Long], if (hashed) Some(m("hash").toString) else None))
  }

  def mismatch(name: String, seen: Seen): Option[String] = Pins.ops.get(name) match {
    case Some(p) if p == seen => None
    case p => Some(s"$name saw $seen, pinned ${p.getOrElse("nothing")}")
  }

  def pinCheck(wrong: Seq[String]): Check =
    Check("ops_outputs_pinned", wrong.isEmpty,
      if (wrong.isEmpty) s"${queries.size} queries match rows and hashes" else wrong.mkString("; "))

  /** One query per entry over the tiny tables; a failure is reported. */
  def warmUp(ctx: Ctx): Seq[Check] = queries.flatMap { case (name, fn) =>
    try { run(ctx.spark, fn, ctx.dataDir(WarmUpSf)); None }
    catch { case NonFatal(e) => Some(Check(s"warm_up_$name", ok = false, e.toString)) }
    finally Caches.releaseAll()
  }

  def measure(ctx: Ctx): Measured = {
    val dir = ctx.dataDir(DataSf)
    val ops = ArrayBuffer.empty[Double]
    val passes = ArrayBuffer.empty[Double]
    val wrong = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var firstAt = Double.NaN
    val t0 = System.nanoTime()
    while (attempted == 0 || Clock.seconds(t0) < ctx.seconds) {
      var pass = 0.0
      var complete = true
      queries.foreach { case (name, fn) =>
        if (firstAt.isNaN) firstAt = Clock.nowMs
        attempted += 1
        try {
          val (s, seen) = run(ctx.spark, fn, dir)
          ops += s
          pass += s
          wrong ++= mismatch(name, seen)
        } catch {
          case NonFatal(e) =>
            failed += 1
            complete = false
            Console.err.println(s"ops-suite: $name failed: $e")
        } finally Caches.releaseAll()
      }
      ctx.heap.sample()
      if (complete) passes += pass
    }
    val checks = Seq(pinCheck(wrong.toSeq),
      Check("ops_full_pass", passes.nonEmpty, s"${passes.size} complete passes"))
    val display =
      if (passes.isEmpty) Nil
      else Seq(
        Metric("suite_s", Stats.median(passes.toSeq), "s"),
        Metric("query_p50_s", Stats.median(ops.toSeq), "s"),
        Metric("query_tail_s", Stats.tail(ops.toSeq), "s"))
    Measured(attempted, failed, ops.toSeq, passes.toSeq, firstAt, checks, display)
  }

  /** The traced pass: one span per query; Spark totals from the
    * recorder, plan shapes from every plan the query executed. With
    * `untraced`, each query also runs once without tracing, before or
    * after its traced run in turn, so both passes are equally warm.
    * Returns the per-layer metrics, the traced and untraced walls (sums of
    * the query times) and the output check. */
  def traced(ctx: Ctx, tracing: Tracing, untraced: Boolean)
      : (Seq[Metric], Double, Double, Seq[Check]) = {
    val dir = ctx.dataDir(DataSf)
    var exchanges = 0L
    var lambdas = 0L
    var plainWall = 0.0
    val wrong = ArrayBuffer.empty[String]
    def plain(fn: (SparkSession, String) => DataFrame): Unit =
      try plainWall += run(ctx.spark, fn, dir)._1 finally Caches.releaseAll()
    val perQuery = queries.zipWithIndex.map { case ((name, fn), i) =>
      if (untraced && i % 2 == 1) plain(fn)
      val (s, seen) = tracing.traced {
        try ctx.tracer.span(s"ops.$name")(run(ctx.spark, fn, dir))
        finally Caches.releaseAll()
      }
      if (untraced && i % 2 == 0) plain(fn)
      val (ex, la) = tracing.shapes.take()
      exchanges += ex
      lambdas += la
      wrong ++= mismatch(name, seen)
      Metric(s"ops.$name.s", s, "s")
    }
    val gs = tracing.recorder.groupsWithPrefix("ops.")
    val runMs = gs.map(_.runMs).sum
    val totals = Seq(
      Metric("ops.jobs", gs.map(_.jobs).sum.toDouble, "count"),
      Metric("ops.stages", gs.map(_.stages).sum.toDouble, "count"),
      Metric("ops.tasks", gs.map(_.tasks).sum.toDouble, "count"),
      Metric("ops.shuffle_mb", gs.map(_.shuffleWriteBytes).sum / 1e6, "MB"),
      Metric("ops.spill_mb", gs.map(_.spillBytes).sum / 1e6, "MB"),
      Metric("ops.gc_share", if (runMs == 0) 0.0 else gs.map(_.gcMs).sum.toDouble / runMs, "ratio"),
      Metric("ops.exchanges", exchanges.toDouble, "count"),
      Metric("ops.interpreted_lambdas", lambdas.toDouble, "count"))
    (perQuery ++ totals, perQuery.map(_.value).sum, plainWall, Seq(pinCheck(wrong.toSeq)))
  }
}
