package graft.infer

import graft.SparkTestBase
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `InferOps.completeAll` keeps several batches of one task in flight:
  * replies stay in row order, each task keeps its own batch in flight and
  * the pool adds at most [[InferOps.MaxInflight]], pooled calls see the
  * task's `TaskContext`, and a failed batch fails the action with its own
  * exception and stops the calls of the batches beside it. */
class InferOpsSpec extends SparkTestBase {
  import InferOpsSpec._

  private val mock = new MockInference

  /** `n` rows `MAP|q|row <i> ANSWER[a<i>]` over `parts` partitions. */
  private def prompts(n: Int, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id"),
      concat(lit("MAP|q|row "), col("id"), lit(" ANSWER[a"), col("id"), lit("]"))
        .as("prompt"))

  private def replies(df: DataFrame, client: InferenceClient): Seq[String] =
    InferOps.complete(df, "prompt", "reply", client)
      .collect().toSeq.map(_.getAs[String]("reply"))

  private def expected(n: Int): Seq[String] =
    (0 until n).map(i => mock.complete(s"MAP|q|row $i ANSWER[a$i]"))

  test("replies equal the sequential form, in row order, at every batch boundary") {
    for (n <- Seq(0, 1, 15, 16, 17, 200)) {
      val ps = (0 until n).map(i => s"MAP|q|row $i ANSWER[a$i]")
      assert(InferOps.completeAll(ps, mock) == ps.map(mock.complete), s"n=$n")
      assert(replies(prompts(n, 1), mock) == expected(n), s"n=$n")
    }
    // 3 rows over 6 partitions: three tasks see an empty partition
    assert(replies(prompts(3, 6), mock) == expected(3))
  }

  test("one task keeps between 2 and MaxInflight + 1 batches in flight") {
    Slow.reset()
    assert(replies(prompts(200, 1), new Slow) == expected(200))
    assert(Slow.max.get >= 2 && Slow.max.get <= InferOps.MaxInflight + 1,
      s"max in flight ${Slow.max.get}")
    // four such tasks share the one JVM-wide pool
    Slow.reset()
    replies(prompts(4 * 320, 4), new Slow)
    assert(Slow.max.get <= InferOps.MaxInflight + 4, s"max in flight ${Slow.max.get}")
  }

  test("more callers than pool threads each keep their own batch in flight") {
    val callers = InferOps.MaxInflight + 4
    val ps = (0 until 2 * InferOps.BatchSize).map(i => s"MAP|q|row $i ANSWER[a$i]")
    Slow.reset()
    val threads = Executors.newFixedThreadPool(callers)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to callers).map(_ => threads.submit { () =>
        start.await(); InferOps.completeAll(ps, new Slow(200))
      })
      start.countDown()
      calls.foreach(c => assert(c.get() == ps.map(mock.complete)))
    } finally threads.shutdown()
    assert(Slow.max.get > InferOps.MaxInflight, s"max in flight ${Slow.max.get}")
    assert(Slow.max.get <= InferOps.MaxInflight + callers)
  }

  test("pooled completeBatch calls run under the submitting task's TaskContext") {
    Contexts.seen.clear()
    val group = "infer-ops-ctx"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "TaskContext reaches the inference pool")
    val df = prompts(200, 2).withColumn("prompt",
      concat(spark_partition_id().cast("string"), lit("|"), col("prompt")))
    try InferOps.complete(df, "prompt", "reply", new Contexts).collect()
    finally sc.clearJobGroup()
    val stages = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds.toSeq).toSet
    val seen = Contexts.seen.asScala.toSeq
    assert(seen.size == 2 * 7) // 100 rows a partition: 7 batches each
    // each task runs its first batch itself and pools the other 6
    assert(seen.count(_.thread.startsWith("graft-infer")) == 2 * 6)
    seen.foreach { c =>
      assert(c.hasContext, c)
      assert(c.partition.toString == c.firstPrompt.takeWhile(_ != '|'), c)
      assert(stages.contains(c.stage), s"$c not in stages $stages")
      assert(c.group == group, c)
    }
    assert(seen.map(_.partition).toSet == Set(0, 1))
  }

  test("a failed batch fails the action with its own exception") {
    val e = intercept[SparkException](replies(prompts(200, 1), new Boom))
    assert(e.getCause.getClass == classOf[IllegalStateException], e)
    assert(e.getCause.getMessage == "boom")
  }

  test("a failed batch stops the retries of the batches beside it") {
    for (wrap <- Seq[InferenceClient => InferenceClient](
        new RetryingClient(_, baseDelayMs = 1), new HalvingClient(_))) {
      Hang.reset()
      // 13 batches: the task's own throws while the 12 pooled ones wait
      val e = intercept[SparkException](replies(prompts(200, 1),
        new BoomFirst(wrap(new Hang), pooled = 12)))
      assert(e.getCause.getMessage == "boom")
      val deadline = System.nanoTime() + 10000000000L
      while (BoomFirst.active.get > 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(BoomFirst.active.get == 0, "pooled batches still running")
      assert(Hang.calls.get == 12, "each pooled batch stops in its first call")
    }
  }

  test("RetryingClient and HalvingClient keep batches and recover inside a Spark job") {
    Counting.batches.set(0)
    val clean = replies(prompts(40, 1), new RetryingClient(new Counting, baseDelayMs = 1))
    assert(Counting.batches.get == 3, "40 prompts in batches of 16")
    assert(clean == expected(40))
    FailFirst.seen.clear()
    assert(replies(prompts(40, 1),
      new RetryingClient(new FailFirst, baseDelayMs = 1)) == clean)
    assert(FailFirst.seen.size == 3)
    Counting.batches.set(0)
    assert(replies(prompts(40, 1), new HalvingClient(new Counting)) == clean)
    assert(Counting.batches.get == 3)
    FailFirst.seen.clear()
    assert(replies(prompts(40, 1), new HalvingClient(new FailFirst)) == clean)
  }
}

/** Test clients keep their counters JVM-static: each task deserializes its
  * own client copy in the same local JVM. */
object InferOpsSpec {
  private val mock = new MockInference

  /** A batched client: one transport call per `completeBatch`. */
  class Counting extends InferenceClient {
    override def complete(p: String): String = completeBatch(Seq(p)).head
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      Counting.batches.incrementAndGet()
      ps.map(mock.complete)
    }
  }
  object Counting { val batches = new AtomicInteger }

  /** Fails the first attempt of every batch. */
  class FailFirst extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] =
      if (FailFirst.seen.add(ps)) throw new RuntimeException("transient")
      else ps.map(mock.complete)
  }
  object FailFirst { val seen = ConcurrentHashMap.newKeySet[Seq[String]]() }

  /** Sleeps `ms` per batch and records the most batches in flight. */
  class Slow(ms: Long = 20) extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      Slow.max.accumulateAndGet(Slow.inflight.incrementAndGet(), math.max)
      try { Thread.sleep(ms); ps.map(mock.complete) }
      finally Slow.inflight.decrementAndGet()
    }
  }
  object Slow {
    val inflight = new AtomicInteger
    val max = new AtomicInteger
    def reset(): Unit = { inflight.set(0); max.set(0) }
  }

  final case class Context(thread: String, hasContext: Boolean, partition: Int,
      stage: Int, group: String, firstPrompt: String)

  /** Records what `completeBatch` sees of its thread and task. */
  class Contexts extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      val tc = TaskContext.get()
      Contexts.seen.add(Context(Thread.currentThread.getName, tc != null,
        if (tc == null) -1 else tc.partitionId(),
        if (tc == null) -1 else tc.stageId(),
        if (tc == null) null else tc.getLocalProperty("spark.jobGroup.id"),
        ps.head))
      ps.map(mock.complete)
    }
  }
  object Contexts { val seen = new ConcurrentLinkedQueue[Context] }

  /** Delegates every batch but the first (the task's own), which throws
    * once the other `pooled` batches are inside their first call. */
  class BoomFirst(underlying: InferenceClient, pooled: Int) extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      BoomFirst.active.incrementAndGet()
      try {
        if (!ps.head.startsWith("MAP|q|row 0 ")) underlying.completeBatch(ps)
        else {
          val deadline = System.nanoTime() + 10000000000L
          while (Hang.calls.get < pooled && System.nanoTime() < deadline) Thread.sleep(5)
          throw new IllegalStateException("boom")
        }
      } finally BoomFirst.active.decrementAndGet()
    }
  }
  object BoomFirst { val active = new AtomicInteger }

  /** Every call waits 500 ms, then fails: a model that never answers. */
  class Hang extends InferenceClient {
    override def complete(p: String): String = completeBatch(Seq(p)).head
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      Hang.calls.incrementAndGet()
      Thread.sleep(500)
      throw new RuntimeException("timeout")
    }
  }
  object Hang {
    val calls = new AtomicInteger
    def reset(): Unit = { calls.set(0); BoomFirst.active.set(0) }
  }

  /** Throws on the batch holding row 100. */
  class Boom extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] =
      if (ps.exists(_.startsWith("MAP|q|row 100 "))) throw new IllegalStateException("boom")
      else ps.map(mock.complete)
  }
}
