package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft, kept in memory.
  *
  * Off until enabled. When enabled, each span also sets the Spark job group to its name, so
  * [[Recorder]] can charge every job to the span that ran it. When
  * disabled, `span` only runs its body: untraced work pays nothing.
  */
final class Tracer(sc: SparkContext, runId: String) {
  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, runId, start, System.nanoTime())
        stack.headOption match {
          case Some((_, outer, _)) => sc.setJobGroup(outer, outer, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: Path, origin: Long): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "run_id" -> Json.str(s.runId),
        "start_ms" -> Json.num((s.startNs - origin) / 1e6),
        "end_ms" -> Json.num((s.endNs - origin) / 1e6),
        "self_ms" -> Json.num(selfSeconds(s) * 1e3)))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Spark work charged to one job group (one span name). */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var runMs = 0L
  var gcMs = 0L
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max ÷ median task time in the group's dominant stage (the one with
    * the most task time); 1 when no stage ran more than one task. */
  def skew: Double = {
    val multi = taskMsByStage.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).map(_.toDouble).toSeq
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
  }

  def gcShare: Double = if (runMs == 0) 0.0 else gcMs.toDouble / runMs
}

/** The benchmark's own SparkListener: totals jobs, stages, tasks,
  * shuffle, spill and GC per job group. */
final class Recorder extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupTotals]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => totals(g).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      totals(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals(g)
      t.tasks += 1
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  private def totals(g: String): GroupTotals = groups.getOrElseUpdate(g, new GroupTotals)

  def group(g: String): GroupTotals = synchronized(totals(g))

  def groupsWithPrefix(prefix: String): Seq[GroupTotals] =
    synchronized(groups.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq)
}

/** Switches tracing on and off: the tracer's spans and job groups, the
  * recorder and the plan-shape listener. Off, none of them is installed. */
final class Tracing(spark: org.apache.spark.sql.SparkSession, val tracer: Tracer) {
  val recorder = new Recorder
  val shapes = new PlanShapes

  def on(): Unit = {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(shapes)
    tracer.enabled = true
  }

  def off(): Unit = {
    tracer.enabled = false
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(shapes)
  }

  def traced[T](body: => T): T = { on(); try body finally off() }
}

/** Shape of the plans executed since the last [[PlanShapes.take]]:
  * exchanges and lambda functions (evaluated interpreted, outside
  * whole-stage codegen) over every executed plan, subqueries and
  * adaptive query stages included. */
final class PlanShapes extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var exchanges = 0L
  private var lambdas = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    val ex = nodes.count(_.isInstanceOf[Exchange])
    val la = nodes.map(_.expressions.map(_.collect { case l: LambdaFunction => l }.size).sum).sum
    synchronized { exchanges += ex; lambdas += la }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): (Long, Long) = synchronized {
    val r = (exchanges, lambdas)
    exchanges = 0; lambdas = 0
    r
  }
}
