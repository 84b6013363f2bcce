package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around each call into a layer, with
  * engine counts attributed to them by Spark's public listener hooks.
  *
  * The innermost open span's id rides the `perfbench.span` local
  * property, so every job, stage and task Spark starts inside a span
  * carries it; planning phases and plan metrics (which carry no
  * properties) are attributed by time to the innermost span covering
  * them. Spans live in memory and are written out once, at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val planEvents = mutable.ArrayBuffer.empty[PlanEvent]
  private val sc = spark.sparkContext

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)
  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
        countsOf(s).synchronized(countsOf(s).jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { case (s, t0) =>
        val c = countsOf(s); c.synchronized(c.jobIntervals += ((t0, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val c = countsOf(s); val st = c.stage(e.stageInfo.stageId)
        c.synchronized {
          if (st.bytesWritten > 0) {
            c.writeTasks += st.tasks; c.emptyWriteTasks += st.emptyWriteTasks
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val c = countsOf(s)
        if (m != null) c.synchronized {
          c.tasks += 1
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.scanBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
          val st = c.stage(e.stageId)
          st.tasks += 1
          st.bytesWritten += m.outputMetrics.bytesWritten
          if (m.outputMetrics.recordsWritten == 0) st.emptyWriteTasks += 1
        }
      }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val planMs = phases.map(_.durationMs).sum
      // planning ends as execution starts: that instant lies in the span
      // that ran the action, wherever the DataFrame was first analyzed
      val at = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
      var filesRead = 0L; var filesWritten = 0L
      collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }.foreach {
        case s: FileSourceScanExec =>
          filesRead += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      planEvents.synchronized(planEvents += PlanEvent(at, planMs, filesRead, filesWritten))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  /** Register the listeners; spans record from here on. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Run `body` inside a span named `name` belonging to operation `op`.
    * Without [[attach]] this only runs the body. */
  def span[A](name: String, op: Int)(body: => A): A =
    if (!attached) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op,
        System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Every span as a JSON object, with self time and attributed engine
    * counts. Waits for the listener bus to deliver all pending events. */
  def spansJson(): Seq[String] = {
    if (attached) org.apache.spark.PerfbenchBus.drain(sc)
    val byParent = spans.groupBy(_.parent)
    planEvents.synchronized(planEvents.foreach { e =>
      spans.filter(s => s.startMs <= e.atMs && e.atMs <= s.endMs)
        .maxByOption(s => (s.startMs, s.id)).foreach { s =>
          val c = countsOf(s.id)
          c.planMs += e.planMs; c.filesRead += e.filesRead; c.filesWritten += e.filesWritten
        }
    })
    spans.toSeq.map { s =>
      val kids = byParent.get(s.id).toSeq.flatten.map(k => (k.startMs, k.endMs))
      val c = countsOf(s.id)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> ((s.endMs - s.startMs) - coveredMs(kids, s.startMs, s.endMs)),
        "job_busy_ms" -> coveredMs(c.jobIntervals.toSeq, s.startMs, s.endMs),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_cpu_ns" -> c.taskCpuNs,
        "task_run_ms" -> c.taskRunMs, "shuffle_bytes" -> c.shuffleBytes,
        "scan_bytes" -> c.scanBytes, "output_bytes" -> c.outputBytes,
        "write_tasks" -> c.writeTasks, "empty_write_tasks" -> c.emptyWriteTasks,
        "files_read" -> c.filesRead, "files_written" -> c.filesWritten,
        "planning_ms" -> c.planMs)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Long) {
    var endMs: Long = startMs
  }

  final case class PlanEvent(atMs: Long, planMs: Long, filesRead: Long, filesWritten: Long)

  final class StageCounts {
    var tasks = 0L; var bytesWritten = 0L; var emptyWriteTasks = 0L
  }

  final class Counts {
    var jobs = 0L; var tasks = 0L; var taskCpuNs = 0L; var taskRunMs = 0L
    var shuffleBytes = 0L; var scanBytes = 0L; var outputBytes = 0L
    var writeTasks = 0L; var emptyWriteTasks = 0L
    var filesRead = 0L; var filesWritten = 0L; var planMs = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private val stages = mutable.HashMap.empty[Int, StageCounts]
    def stage(id: Int): StageCounts = stages.getOrElseUpdate(id, new StageCounts)
  }

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L; var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
