package perfbench

import graft.functions.TextFunctions
import graft.infer.{InferenceClient, MockInference}
import org.apache.spark.TaskContext

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.hashing.MurmurHash3

/** The benchmark's LLM service: [[MockInference]] answers, and every
  * `completeBatch` call sleeps a fixed, deterministic service delay of
  * `baseMs` plus `perTokenUs` per prompt token, the cost shape of a
  * batched LLM endpoint (the benchmark's values are assumptions, not
  * measurements of an endpoint). Instances are shipped to tasks, so the counters
  * live in the JVM-wide [[InferStats]] (local mode: one JVM). */
final class ServiceClient(baseMs: Long, perTokenUs: Long)
    extends InferenceClient {
  private val mock = new MockInference

  override def complete(prompt: String): String = completeBatch(Seq(prompt)).head

  override def completeBatch(prompts: Seq[String]): Seq[String] = {
    val tokens = prompts.iterator.map(p => TextFunctions.estimateTokens(p).toLong).sum
    val delayUs = baseMs * 1000L + perTokenUs * tokens
    val t0 = InferStats.begin()
    Thread.sleep(delayUs / 1000L, ((delayUs % 1000L) * 1000L).toInt)
    val replies = prompts.map(mock.complete)
    InferStats.end(t0, prompts, replies, tokens)
    replies
  }
}

/** Counters of the inference edge, recorded at the client boundary. */
object InferStats {
  val calls = new AtomicLong
  val batches = new AtomicLong
  val promptTokens = new AtomicLong
  val completionTokens = new AtomicLong
  val waitNs = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val busySince = new AtomicLong
  /** (job group, prompt hash) -> the stage that first sent it, and
    * prompt hash -> the job group that first sent it */
  private val firstStage = new ConcurrentHashMap[(String, Int), Integer]
  private val firstGroup = new ConcurrentHashMap[Int, String]
  private val recomputed = new AtomicLong
  private val dupCalls = new AtomicLong
  /** stage id -> stage kind prefix ("MAP", "COLLAPSE", ...) per job group */
  private val stageKinds = new ConcurrentHashMap[(String, Int), String]

  def reset(): Unit = {
    Seq(calls, batches, promptTokens, completionTokens, waitNs, busyNs,
      recomputed, dupCalls).foreach(_.set(0L))
    maxInflight.set(0)
    firstStage.clear(); firstGroup.clear(); stageKinds.clear()
  }

  private[perfbench] def begin(): Long = {
    val now = System.nanoTime()
    if (inflight.incrementAndGet() == 1) busySince.set(now)
    maxInflight.accumulateAndGet(inflight.get, math.max)
    now
  }

  private[perfbench] def end(t0: Long, prompts: Seq[String],
      replies: Seq[String], tokens: Long): Unit = {
    val now = System.nanoTime()
    waitNs.addAndGet(now - t0)
    if (inflight.decrementAndGet() == 0) busyNs.addAndGet(now - busySince.get)
    batches.incrementAndGet()
    calls.addAndGet(prompts.size.toLong)
    promptTokens.addAndGet(tokens)
    completionTokens.addAndGet(
      replies.iterator.map(r => TextFunctions.estimateTokens(r).toLong).sum)
    val tc = TaskContext.get()
    val group = Option(tc).flatMap(t => Option(t.getLocalProperty("spark.jobGroup.id")))
      .getOrElse("")
    // Equal prompts inside one stage are separate rows that happen to read
    // alike (collapse bins of equal answers). The same prompt again from
    // another stage of the request, or from a retried task, is inference
    // the engine computed twice.
    val stage = if (tc == null) -1 else tc.stageId()
    prompts.foreach { p =>
      val h = MurmurHash3.stringHash(p)
      val first = firstStage.putIfAbsent((group, h), stage)
      if ((first != null && first != stage) || (tc != null && tc.attemptNumber() > 0))
        recomputed.incrementAndGet()
      val firstG = firstGroup.putIfAbsent(h, group)
      if (firstG != null && firstG != group) dupCalls.incrementAndGet()
    }
    if (tc != null)
      prompts.headOption.foreach(p =>
        stageKinds.putIfAbsent((group, tc.stageId()), p.takeWhile(_ != '|')))
    Tracer.inferBatch(t0, now, tc)
  }

  def maxInflightSeen: Int = maxInflight.get
  /** Calls that repeated a prompt the request had already sent from
    * another stage, or from a retried task. */
  def recomputedCalls: Long = recomputed.get
  def duplicateCalls: Long = dupCalls.get
  /** Distinct stages that ran `kind` prompts in the given job group. */
  def stagesOf(group: String, kind: String): Int = {
    var n = 0
    stageKinds.forEach((k, v) => if (k._1 == group && v == kind) n += 1)
    n
  }
}
