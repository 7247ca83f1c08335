package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans the benchmark records around each call into the engine, plus the
  * Spark jobs those calls caused. Everything stays in memory until the run
  * ends and is then reduced to metrics and written out ([[writeTo]]). With
  * `enabled = false` a span only runs its body: the untraced runs pay for
  * neither spans nor the listener.
  *
  * Jobs are tied to spans through two local properties set on the calling
  * thread (`perfbench.op`, `perfbench.span`); Spark copies local properties
  * into every job it submits, including the jobs adaptive execution submits
  * from its own threads.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  def spans: Seq[Span] = spanBuf.toSeq

  def span[T](op: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = Option(sc.getLocalProperty(SpanKey))
      sc.setLocalProperty(OpKey, op.toString)
      sc.setLocalProperty(SpanKey, name)
      val s = nowMicros()
      try body
      finally {
        spanBuf += Span(op, name, outer.getOrElse(""), s, nowMicros())
        sc.setLocalProperty(SpanKey, outer.orNull)
      }
    }

  /** Stop recording and wait until the listener has seen every event
    * posted so far. Returns the seconds spent waiting. */
  def finish(): Double = {
    if (!enabled) return 0.0
    val t0 = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(sc, 60000L)
    val waited = (System.nanoTime() - t0) / 1e9
    sc.removeSparkListener(listener)
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(SpanKey, null)
    waited
  }

  /** Jobs with their module, once [[finish]] has drained the bus. */
  def jobs: Seq[Job] = listener.synchronized {
    listener.jobs.values.toSeq.sortBy(_.id).map { j =>
      val module = j.execId.flatMap(listener.execDetails.get).flatMap(Modules.of)
        .orElse(Modules.of(j.stageDetails))
        .getOrElse(layerOfSpan(j.span))
      j.copy(module = module, stages = j.stageIds.count(listener.completedStages.contains),
        tasks = j.stageIds.map(s => listener.stageTasks.getOrElse(s, TaskTotals())).foldLeft(TaskTotals())(_ + _))
    }
  }

  /** Write every span and job as one JSON object per line. */
  def writeTo(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try {
      spans.foreach(s => w.println(
        s"""{"op":${s.op},"span":${Json.quote(s.name)},"parent":${Json.quote(s.parent)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""))
      jobs.foreach(j => w.println(
        s"""{"job":${j.id},"op":${j.op.getOrElse(-1L)},"span":${Json.quote(j.span)},""" +
        s""""module":${Json.quote(j.module)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""stages":${j.stages},"tasks":${j.tasks.count},"task_ms":${j.tasks.runMs}}"""))
    } finally w.close()
  }

  /** Jobs that started but never ended (should be none after a drain). */
  def unfinishedJobs: Int = listener.synchronized(listener.jobs.values.count(_.endMs < 0))
}

object Trace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Wall clock in microseconds, on the same epoch as Spark's event times. */
  private val baseMillis = System.currentTimeMillis()
  private val baseNanos = System.nanoTime()
  def nowMicros(): Long = baseMillis * 1000 + (System.nanoTime() - baseNanos) / 1000

  final case class Span(op: Long, name: String, parent: String, startUs: Long, endUs: Long) {
    def seconds: Double = (endUs - startUs) / 1e6
  }

  final case class TaskTotals(count: Long = 0, runMs: Long = 0, gcMs: Long = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    def +(o: TaskTotals) = TaskTotals(count + o.count, runMs + o.runMs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes + o.spillBytes)
  }

  final case class Job(id: Int, op: Option[Long], span: String, execId: Option[Long],
      stageDetails: String, stageIds: Seq[Int], startMs: Long, endMs: Long,
      module: String = "", stages: Int = 0, tasks: TaskTotals = TaskTotals()) {
    def seconds: Double = math.max(0L, endMs - startMs) / 1e3
  }

  /** Fallback owner of a job with no engine frame on its call site: the
    * engine call the benchmark was inside when the job started. */
  def layerOfSpan(span: String): String = span match {
    case "build" | "plan" | "exec" => "queries"
    case "submit" | "tick" | "results" => "engine"
    case "check" => "pipeline"
    case _ => "spark"
  }

  private final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val execDetails = mutable.HashMap.empty[Long, String]
    val stageTasks = mutable.HashMap.empty[Int, TaskTotals]
    val completedStages = mutable.HashSet.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop(OpKey).map(_.toLong), prop(SpanKey).getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong),
        e.stageInfos.headOption.map(_.details).getOrElse(""), e.stageIds, e.time, -1L)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      completedStages += e.stageInfo.stageId
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val t = if (m == null) TaskTotals(count = 1)
        else TaskTotals(1, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, TaskTotals()) + t
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { execDetails(s.executionId) = s.details }
      case _ =>
    }
  }
}
