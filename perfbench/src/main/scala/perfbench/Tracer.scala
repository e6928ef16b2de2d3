package perfbench

import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval of the traced run. Times are epoch microseconds;
  * `parent` is the id of the span that caused it (0 for the root) and
  * `job` the benchmark job id, which is also the Spark job group. */
final case class Span(id: Long, kind: String, name: String, start: Long,
    end: Long, parent: Long, job: String)

/** The traced run's recorder. Spans sit at the benchmark's own boundaries
  * (workload, pass, job), at the Spark listener boundaries (Spark job,
  * stage), at the inference client (`infer.batch`) and at streaming
  * progress events (trigger). Counters are kept at the same boundaries.
  * Everything stays in memory until the run ends. Listeners are attached
  * only for traced passes, so untraced passes pay nothing. */
object Tracer {
  @volatile var enabled = false
  private val nano0 = System.nanoTime()
  private val micros0 = System.currentTimeMillis() * 1000L
  def nowUs(): Long = micros0 + (System.nanoTime() - nano0) / 1000L
  def nanoToUs(n: Long): Long = micros0 + (n - nano0) / 1000L

  private val ids = new java.util.concurrent.atomic.AtomicLong
  def newId(): Long = ids.incrementAndGet()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  @volatile var currentJob: (Long, String) = (0L, "")

  def record(kind: String, name: String, start: Long, end: Long,
      parent: Long, job: String, id: Long = newId()): Unit =
    if (enabled) spans.add(Span(id, kind, name, start, end, parent, job))

  /** Open a span around `f`; `parent` is the enclosing span's id. */
  def span[T](kind: String, name: String, parent: Long, job: String = "")(
      f: Long => T): T = {
    val id = newId()
    val t0 = nowUs()
    try f(id)
    finally if (enabled) spans.add(Span(id, kind, name, t0, nowUs(), parent, job))
  }

  def inferBatch(t0Nano: Long, t1Nano: Long, tc: TaskContext): Unit =
    if (enabled) {
      val stage = if (tc == null) 0L else stageSpanId(tc.stageId(), tc.stageAttemptNumber())
      record("infer.batch", "completeBatch", nanoToUs(t0Nano), nanoToUs(t1Nano),
        stage, currentJob._2)
    }

  // ---- counters, over traced passes only
  final class Counters {
    var jobs, stages, tasks = 0L
    var taskMs, taskCpuNs, schedMs, gcMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakExecMem = 0L
    var inputBytes, inputRows, scanTaskMs = 0L
    var analysisMs, optimizerMs, planningMs = 0L
    var exchanges, broadcasts, smj = 0L
    var ckptJobs, ckptTaskMs = 0L
    var blockBytes, blockPeak = 0L
    var codegenCount = 0L
    var codegenMs = 0.0
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
    val triggerMs, addBatchMs, walMs, startMs = mutable.ArrayBuffer.empty[Double]
    var stateRows, stateBytes = 0L
    /** spark jobs per benchmark job, and their (start, end) in epoch ms */
    val sparkJobsOf = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]

    /** Every scalar counter by name: totals over the traced passes, or
      * maxima where the name says peak. */
    def totals: Seq[(String, Double)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "task_cpu_ns" -> taskCpuNs, "sched_ms" -> schedMs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem,
      "input_bytes" -> inputBytes, "input_rows" -> inputRows, "scan_task_ms" -> scanTaskMs,
      "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs, "planning_ms" -> planningMs,
      "exchanges" -> exchanges, "broadcasts" -> broadcasts, "sort_merge_joins" -> smj,
      "checkpoint_jobs" -> ckptJobs, "checkpoint_task_ms" -> ckptTaskMs,
      "block_peak_bytes" -> blockPeak, "codegen_classes" -> codegenCount,
      "state_rows" -> stateRows, "state_bytes" -> stateBytes,
    ).map { case (k, v) => k -> v.toDouble } :+ ("codegen_ms" -> codegenMs)
  }
  val c = new Counters

  // stage (id, attempt) -> span id, assigned at submission
  private val stageSpans = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]
  private def stageSpanId(stage: Int, attempt: Int): Long = {
    val v = stageSpans.get((stage, attempt))
    if (v == null) 0L else v.longValue
  }
  private val jobOfStage = mutable.Map.empty[Int, (Long, String, Boolean)]
  private val jobStarts = mutable.Map.empty[Int, (Long, Long, String)]
  private val blockSizes = mutable.Map.empty[String, Long]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val job = currentJob._2
      // a job is named after its result stage (the call site that ran it)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val ckpt = e.stageInfos.exists(_.name.contains("localCheckpoint"))
      val id = newId()
      jobStarts(e.jobId) = (id, e.time, site)
      e.stageIds.foreach(s => jobOfStage(s) = (id, job, ckpt))
      c.jobs += 1
      if (ckpt) c.ckptJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (id, t0, site) =>
        val (parent, job) = currentJob
        spans.add(Span(id, "spark_job", site, t0 * 1000L, e.time * 1000L, parent, job))
        c.sparkJobsOf.getOrElseUpdate(job, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpans.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), newId())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      c.stages += 1
      val (jobSpan, job, _) = jobOfStage.getOrElse(si.stageId, (0L, currentJob._2, false))
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        spans.add(Span(stageSpanId(si.stageId, si.attemptNumber()), "stage", si.name,
          t0 * 1000L, t1 * 1000L, jobSpan, job))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      c.tasks += 1
      c.taskMs += i.duration
      c.taskIntervals += ((i.launchTime, i.finishTime))
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        if (m.inputMetrics.bytesRead > 0) {
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.scanTaskMs += i.duration
        }
        if (jobOfStage.get(e.stageId).exists(_._3)) c.ckptTaskMs += i.duration
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        val prev = blockSizes.getOrElse(b.blockId.name, 0L)
        if (size == 0L) blockSizes.remove(b.blockId.name) else blockSizes(b.blockId.name) = size
        c.blockBytes += size - prev
        c.blockPeak = math.max(c.blockPeak, c.blockBytes)
      }
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizerMs += ms("optimization")
        c.planningMs += ms("planning")
        val plan: SparkPlan = qe.executedPlan
        c.exchanges += collect(plan) { case x: ShuffleExchangeExec => x }.size
        c.broadcasts += collect(plan) { case x: BroadcastExchangeExec => x }.size
        c.smj += collect(plan) { case x: SortMergeJoinExec => x }.size
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    private val started = mutable.Map.empty[java.util.UUID, Long]
    private val lastState = mutable.Map.empty[java.util.UUID, (Long, Long)]
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
      started(e.runId) = java.time.Instant.parse(e.timestamp).toEpochMilli
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trig = d("triggerExecution")
      val t1 = java.time.Instant.parse(p.timestamp).toEpochMilli
      c.triggerMs += trig
      c.addBatchMs += d("addBatch")
      c.walMs += d("walCommit")
      started.remove(p.runId).foreach(t0 => c.startMs += (t1 - t0).toDouble)
      lastState(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      val (parent, job) = currentJob
      record("trigger", Option(p.name).getOrElse(""), t1 * 1000L,
        (t1 + trig.toLong) * 1000L, parent, job)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
      lastState.remove(e.runId).foreach { case (rows, bytes) =>
        c.stateRows += rows
        c.stateBytes += bytes
      }
    }
  }

  private var codegen0 = (0L, 0.0)
  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Attach every listener and start counting. */
  def on(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    codegen0 = codegenNow()
    enabled = true
  }

  /** Stop counting and detach, after the listener buses have drained. */
  def off(spark: SparkSession): Unit = {
    Thread.sleep(300L) // listener events are delivered asynchronously
    enabled = false
    val (n, ms) = codegenNow()
    c.codegenCount += n - codegen0._1
    c.codegenMs += math.max(0.0, ms - codegen0._2)
    spark.sparkContext.removeSparkListener(Listener)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
  }
}
