package graft.obs

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution,
  SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Spark job or stage attempt: its id, name and duration. A job is named
  * by its description, else by its result stage's call site. */
final case class Span(id: Int, name: String, durationMs: Long)

/** One Dataset action (`collect`, `count`, a write command, ...). `rows` is
  * the root operator's `numOutputRows` in the final plan, -1 where the root
  * does not count rows. A failed action is named `<action>!failed`. */
final case class ActionRecord(name: String, durationNs: Long, rows: Long)

/** One streaming query run: micro-batches, input rows, the state rows its
  * last batch reported, each `durationMs` component summed over batches. */
final case class StreamRecord(name: String, batches: Long, inputRows: Long,
    stateRows: Long, durationMs: Map[String, Long], exception: Option[String])

/** What one [[Telemetry.measure]] saw between its two bus drains. Jobs are
  * the jobs that ended in the window; stages and tasks count successful
  * attempts only, and the task metrics sum over those tasks. */
final case class Profile(
    name: String,
    wallNs: Long,
    jobs: Seq[Span],
    stages: Seq[Span],
    tasks: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    gcMs: Long,
    peakExecMemBytes: Long,
    inputBytes: Long,
    actions: Seq[ActionRecord],
    streams: Seq[StreamRecord]) {
  def wallSec: Double = wallNs / 1e9
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** graft's one telemetry layer (SURVEY D9: the reference's async_d
  * Monitor/PipelineAnalyser). One `SparkListener` per SparkContext plus one
  * `QueryExecutionListener` and one `StreamingQueryListener` per session,
  * registered on first use and never twice.
  *
  * The listener bus is asynchronous, so [[measure]] drains it before and
  * after its body instead of guessing a sleep: the profile holds exactly
  * the events posted between the drains. Measurements may nest or overlap
  * (each open window sees every event), so callers that want per-query
  * figures run one query at a time, as every graft caller does. */
final class Telemetry private (private val sc: SparkContext) {

  private final class Window {
    val jobs, stages = mutable.ArrayBuffer.empty[Span]
    val actions = mutable.ArrayBuffer.empty[ActionRecord]
    val executions = mutable.ArrayBuffer.empty[QueryExecution]
    val streams = mutable.LinkedHashMap.empty[UUID, StreamRecord]
    var tasks, shuffleRead, shuffleWrite, spill, gcMs, peakMem, input = 0L

    def profile(name: String, wallNs: Long): Profile = synchronized {
      Profile(name, wallNs, jobs.toSeq, stages.toSeq, tasks, shuffleRead,
        shuffleWrite, spill, gcMs, peakMem, input, actions.toSeq,
        streams.values.toSeq)
    }
  }

  private val open = ConcurrentHashMap.newKeySet[Window]()
  private def each(f: Window => Unit): Unit =
    open.forEach(w => w.synchronized(f(w)))

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

  private object Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
      jobStarts.put(e.jobId, (e.time, desc.orElse(site).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, name) =>
        each(_.jobs += Span(e.jobId, name, e.time - t0))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (si.failureReason.isEmpty) {
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        each(_.stages += Span(si.stageId, si.name, ms))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (e.taskInfo.successful && m != null) each { w =>
        w.tasks += 1
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
        w.input += m.inputMetrics.bytesRead
      }
    }
  }

  private object Actions extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val rows = Telemetry.rootRows(qe.executedPlan)
      each { w =>
        w.actions += ActionRecord(funcName, durationNs, rows)
        w.executions += qe
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      each(_.actions += ActionRecord(s"$funcName!failed", 0L, -1L))
  }

  private object Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    private def update(run: UUID, name: => String)(
        f: StreamRecord => StreamRecord): Unit = each { w =>
      val r = w.streams.getOrElse(run,
        StreamRecord(name, 0L, 0L, 0L, Map.empty, None))
      w.streams(run) = f(r)
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      update(e.runId, Option(e.name).getOrElse(e.id.toString))(identity)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      update(p.runId, Option(p.name).getOrElse(p.id.toString)) { r =>
        r.copy(batches = r.batches + 1,
          inputRows = r.inputRows + p.numInputRows,
          stateRows = p.stateOperators.map(_.numRowsTotal).sum,
          durationMs = (r.durationMs.keySet ++ d.keySet).map(k =>
            k -> (r.durationMs.getOrElse(k, 0L) + d.getOrElse(k, 0L))).toMap)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      update(e.runId, e.id.toString)(_.copy(exception = e.exception))
  }

  sc.addSparkListener(Scheduler)

  private val sessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private def attach(spark: SparkSession): Unit =
    if (sessions.add(spark)) {
      spark.listenerManager.register(Actions)
      spark.streams.addListener(Progress)
    }

  /** Run `body` and return its result with what Spark did for it. Throws
    * if the listener bus does not drain within 10 s: a profile never holds
    * partial counts. */
  def measure[T](name: String)(body: => T): (T, Profile) = {
    val (out, p, _) = measureExecutions(name)(body)
    (out, p)
  }

  /** [[measure]], also returning the executed query of every action that
    * succeeded in the window, in completion order: their final (AQE)
    * physical plans are what the actions ran. */
  def measureExecutions[T](name: String)(
      body: => T): (T, Profile, Seq[QueryExecution]) = {
    ListenerBusDrain(sc)
    val w = new Window
    open.add(w)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      ListenerBusDrain(sc)
      (out, w.profile(name, wallNs), w.synchronized(w.executions.toSeq))
    } finally open.remove(w)
  }
}

object Telemetry extends AdaptiveSparkPlanHelper {
  // one live SparkContext per JVM, so one instance at a time
  private var current: Telemetry = _

  /** The session's telemetry, registering its listeners on first use. */
  def apply(spark: SparkSession): Telemetry = synchronized {
    if (current == null || (current.sc ne spark.sparkContext))
      current = new Telemetry(spark.sparkContext)
    current.attach(spark)
    current
  }

  /** Output rows of the final plan's root. AQE is stripped; codegen
    * wrappers and row-preserving projections/sorts, which keep no row
    * count of their own, are looked through. */
  private def rootRows(plan: SparkPlan): Long = stripAQEPlan(plan) match {
    case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    case p @ (_: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec |
        _: SortExec) => rootRows(p.children.head)
    case _ => -1L
  }

  private lazy val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** JSON for a profile or a row built from case classes, maps and options. */
  def toJson(value: Any): String = json.writeValueAsString(value)
}
