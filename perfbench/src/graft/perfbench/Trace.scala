package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Wall clock in epoch nanoseconds with `System.nanoTime` resolution, so
  * bench spans and Spark's epoch-millisecond job/stage times share one axis.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
  def fromMs(ms: Long): Long = ms * 1000000L
}

final case class Span(id: Long, parent: Long, name: String, start: Long, var end: Long = -1L)

/** Executor CPU summed over all tasks; always on, including untraced runs. */
final class CpuListener extends SparkListener {
  private val ns = new AtomicLong(0L)
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) ns.addAndGet(t.taskMetrics.executorCpuTime): Unit
  /** Drains the listener bus, then returns and resets the sum (seconds). */
  def take(sc: SparkContext): Double = {
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
    ns.getAndSet(0L) / 1e9
  }
}

/** Per-stage sums of the task metrics the per-layer report uses. */
final class StageSums {
  var tasks, runNs, gcMs, fetchWaitMs, schedDelayMs = 0L
  var shuffleRead, shuffleWrite, spill, inRows, inBytes = 0L
}

/** In-memory tracer: bench-side spans around calls into each layer, Spark
  * job and stage spans whose parent is the bench span that was open on the
  * submitting thread (read from the `perfbench.span` local property), and
  * per-stage task metric sums. Recording happens only while `enabled`,
  * so one traced run can interleave traced and untraced operations and
  * report the difference as tracing overhead.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[Int, Span]()
  val stageSums = mutable.Map[Int, StageSums]()
  /** Plan facts of each SQL execution the listener saw while enabled. */
  val executions = mutable.ArrayBuffer[Map[String, Double]]()
  val PropKey = "perfbench.span"

  def open(name: String): Span = synchronized {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, name, Clock.now())
    if (enabled) spans += s
    stack.push(s)
    sc.setLocalProperty(PropKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = Clock.now()
    while (stack.nonEmpty && (stack.pop() ne s)) {}
    sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
  }

  def span[A](name: String)(body: => A): A = {
    val s = open(name)
    try body finally close(s)
  }

  private def record(s: Span): Unit = synchronized { if (enabled) spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
      .map(_.toLong).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, "spark.job", Clock.fromMs(e.time))
    synchronized {
      jobSpan(e.jobId) = s
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    }
    record(s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = Clock.fromMs(e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) {
    val info = e.stageInfo
    val parent = synchronized(stageJob.get(info.stageId).flatMap(jobSpan.get))
      .map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, "spark.stage",
      Clock.fromMs(info.submissionTime.getOrElse(System.currentTimeMillis())))
    synchronized { stageSpan(info.stageId) = s }
    record(s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach(
      _.end = Clock.fromMs(info.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && synchronized(stageSpan.contains(e.stageId))) synchronized {
      val s = stageSums.getOrElseUpdate(e.stageId, new StageSums)
      val i = e.taskInfo
      s.tasks += 1
      s.runNs += m.executorRunTime * 1000000L
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
    }
  }

  /** SQL executions that ran through a Dataset action or a writer (the
    * Exporter's sinks); registry queries run through `toRdd` and are read
    * from their QueryExecution directly instead.
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val facts = PlanFacts(qe)
        synchronized { executions += facts }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Spans, with self time = duration minus the union of child intervals. */
  def dump(path: java.nio.file.Path): Unit = {
    val all = synchronized(spans.toList.filter(_.end >= 0))
    val kids = all.groupBy(_.parent)
    def self(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.end - s.start) - covered
    }
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("run_id", runId)
    val arr = root.putArray("spans")
    all.sortBy(_.start).foreach { s =>
      val o = arr.addObject()
      o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
      o.put("run_id", runId)
      o.put("start_ns", s.start); o.put("end_ns", s.end); o.put("self_ns", self(s))
    }
    val bySelf = root.putObject("self_s_by_name")
    all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      bySelf.put(n, ss.map(self).sum / 1e9)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    m.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }
}

/** Facts read from one executed plan: Catalyst phase times, broadcast and
  * written bytes, and how many scans read a cached relation vs files.
  */
object PlanFacts extends AdaptiveSparkPlanHelper {
  def apply(qe: QueryExecution): Map[String, Double] = {
    val ph = qe.tracker.phases
    def ms(k: String): Double =
      ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val plan: SparkPlan = qe.executedPlan
    def metric(m: Map[String, SQLMetric], k: String): Double =
      m.get(k).map(_.value.toDouble).getOrElse(0.0)
    val bcast = collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec => metric(b.metrics, "dataSize")
    }.sum
    val files = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec => metric(w.cmd.metrics, "numFiles")
    }.sum
    val mem = collectWithSubqueries(plan) { case _: InMemoryTableScanExec => 1.0 }.sum
    val scans = collectWithSubqueries(plan) { case _: FileSourceScanExec => 1.0 }.sum
    Map("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "broadcast_bytes" -> bcast,
      "written_files" -> files, "inmemory_scans" -> mem, "file_scans" -> scans)
  }
}
