package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation share `request`;
  * `parent` is the enclosing span's id (0 at the top).
  */
final case class Span(id: Int, parent: Int, request: Int, layer: String,
    name: String, startNs: Long, endNs: Long)

/** Spark-side counts observed in one phase of one operation. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuMs: Double = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    planningMs: Double = 0, exchanges: Long = 0, planNodes: Long = 0, scanMs: Double = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuMs + o.taskCpuMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    planningMs + o.planningMs, exchanges + o.exchanges,
    math.max(planNodes, o.planNodes), scanMs + o.scanMs)
}

/** Spark listener plus query-execution listener that accumulates counts
  * until drained. Events arrive on Spark's listener bus thread, so a
  * drain first waits for the bus to empty.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private var acc = Counts()
  private object Plans extends AdaptiveSparkPlanHelper

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { acc = acc.copy(jobs = acc.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc = acc.copy(stages = acc.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    synchronized {
      acc = acc.copy(tasks = acc.tasks + 1)
      if (m != null) acc = acc.copy(
        taskCpuMs = acc.taskCpuMs + m.executorCpuTime / 1e6,
        shuffleWriteBytes = acc.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = acc.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Planning cost is Catalyst's own phase record for the query:
    * analysis, optimization and physical planning.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val exchanges = Plans.collectWithSubqueries(qe.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size.toLong
    val nodes = qe.optimizedPlan.treeString.linesIterator.size.toLong
    // file scans report their task-side read time ("scan time", ms)
    val scan = Plans.collectWithSubqueries(qe.executedPlan) {
      case s: DataSourceScanExec => s.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }.sum.toDouble
    synchronized {
      acc = acc.copy(planningMs = acc.planningMs + planning,
        exchanges = acc.exchanges + exchanges,
        planNodes = math.max(acc.planNodes, nodes), scanMs = acc.scanMs + scan)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(sc: SparkContext): Counts = {
    org.apache.spark.GraftListenerFlush.flush(sc)
    synchronized { val c = acc; acc = Counts(); c }
  }
}

/** Process-level probes: JVM GC, process CPU and host steal. */
object Host {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def processCpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** (steal ticks, all ticks) from the aggregate `cpu` line of /proc/stat. */
  def stealTicks: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  /** Storage memory and disk held by cached RDD blocks, in MB. */
  def pinnedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

/** In-memory span recorder. Off for untraced passes: `span` then only
  * runs its body.
  */
final class Tracer {
  var on = false
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var request = 0

  def newRequest(): Unit = request += 1

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, request, layer, name, t0, System.nanoTime())
      }
    }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"layer":"${s.layer}",""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
