package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One named number with its unit, as printed and as put into the result. */
final case class Metric(name: String, value: Double, unit: String)

/** One output check; a run whose checks do not all pass is not correct. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload measured in one untraced run.
  *
  * An operation is one query, one pipeline run or one micro-batch. `ops`
  * holds the latency of every operation that succeeded; a failed one
  * only counts in `failed`. `passes` holds the time of each complete
  * pass over the workload's input, as the sum of its operations' times.
  * `display` repeats the headline numbers under the workload's own names.
  */
final case class Measured(
    attempted: Long, failed: Long, ops: Seq[Double], passes: Seq[Double],
    firstOpAtMs: Double, checks: Seq[Check], display: Seq[Metric])

/** Everything a workload needs from its process. */
final case class Ctx(spark: SparkSession, home: Path, runDir: Path, seed: Long,
    seconds: Int, heap: HeapProbe, tracer: Tracer) {
  /** A fresh, empty directory under this run's directory. */
  def freshDir(name: String): String = {
    val d = runDir.resolve("work").resolve(name)
    Fs.delete(d)
    Files.createDirectories(d)
    d.toString
  }
  def dataDir(sf: String): String = home.resolve("data").resolve(sf).toString
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }
}

object Clock {
  def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample. With fewer than eleven samples no such
    * percentile exists and the largest sample stands in for it. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    if (s.size >= 11) s(s.size - 11) else s.last
  }
}

/** Highest post-GC heap use of this JVM, from the heap memory pools'
  * collection usage. Every full collection counts: those the JVM runs on
  * its own (seen through GC notifications) and the one `sample` forces at
  * the end of each pass, outside any timed interval. */
final class HeapProbe {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapNames = heapPools.map(_.getName).toSet
  @volatile private var peak = 0L

  private def record(used: Long): Unit = synchronized { if (used > peak) peak = used }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction.contains("major"))
            record(info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum)
        }, null, null)
    case _ =>
  }

  def sample(): Unit = {
    System.gc()
    record(heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
  }

  def peakMb: Double = peak / 1e6
}

/** Minimal JSON writing for the result line and the trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
