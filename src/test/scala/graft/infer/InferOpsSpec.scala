package graft.infer

import graft.SparkTestBase
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `InferOps.completeAll` keeps several batches of one task in flight:
  * a step is cut into at least `1 + MaxInflight / P` batches of at most
  * [[InferOps.BatchSize]] prompts, replies stay in row order, each task
  * keeps its own batch in flight and the pool adds at most
  * [[InferOps.MaxInflight]], pooled calls see the task's `TaskContext`, and
  * a failed batch fails the action with its own exception and stops the
  * calls of the batches beside it. */
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

  test("a step is cut into min(n, max(ceil(n / BatchSize), 1 + MaxInflight / P)) batches") {
    // n -> batches at P = 1, 2 and 4
    val want = Seq(0 -> Seq(0, 0, 0), 1 -> Seq(1, 1, 1), 15 -> Seq(15, 11, 6),
      16 -> Seq(16, 11, 6), 17 -> Seq(17, 11, 6), 21 -> Seq(21, 11, 6),
      22 -> Seq(21, 11, 6), 200 -> Seq(21, 13, 13), 400 -> Seq(25, 25, 25))
    for ((n, ks) <- want; (parts, k) <- Seq(1, 2, 4).zip(ks)) {
      val ps = (0 until n).map(i => s"MAP|q|row $i ANSWER[a$i]")
      val sequential = ps.map(mock.complete)
      Batches.sizes.clear()
      val ok = spark.sparkContext.parallelize(0 until parts, parts).mapPartitions { _ =>
        Iterator(InferOps.completeAll(ps, new Batches) == sequential)
      }.collect()
      assert(ok.toSeq == Seq.fill(parts)(true), s"n=$n P=$parts")
      val sizes = Batches.sizes.asScala.toSeq.groupMap(_._1)(_._2)
      assert(sizes.size == (if (n == 0) 0 else parts), s"n=$n P=$parts")
      sizes.values.foreach { bs =>
        assert(bs.size == k, s"n=$n P=$parts: ${bs.size} batches")
        assert(bs.sum == n && bs.max <= InferOps.BatchSize && bs.max - bs.min <= 1,
          s"n=$n P=$parts: batch sizes $bs")
      }
    }
  }

  test("a 2-partition stage reaches and never exceeds P + MaxInflight calls in flight") {
    Slow.reset()
    // 20 batches a task, 19 of them pooled: 38 queue for the 20 pool threads,
    // and 500 ms calls let both tasks' own batches overlap a full pool
    assert(replies(prompts(2 * 320, 2), new Slow(500)) == expected(2 * 320))
    assert(Slow.max.get == 2 + InferOps.MaxInflight, s"max in flight ${Slow.max.get}")
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
    assert(seen.size == 2 * 11) // 100 rows a partition: 1 + 20 / 2 batches each
    // each task runs its first batch itself and pools the other 10
    assert(seen.count(_.thread.startsWith("graft-infer")) == 2 * 10)
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
      // 21 batches: the task's own throws while the 20 pooled ones wait
      val e = intercept[SparkException](replies(prompts(200, 1),
        new BoomFirst(wrap(new Hang), pooled = 20)))
      assert(e.getCause.getMessage == "boom")
      val deadline = System.nanoTime() + 10000000000L
      while (BoomFirst.active.get > 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(BoomFirst.active.get == 0, "pooled batches still running")
      assert(Hang.calls.get == 20, "each pooled batch stops in its first call")
    }
  }

  test("RetryingClient and HalvingClient keep batches and recover inside a Spark job") {
    Counting.batches.set(0)
    val clean = replies(prompts(40, 1), new RetryingClient(new Counting, baseDelayMs = 1))
    assert(Counting.batches.get == 21, "40 prompts in 1 + MaxInflight batches")
    assert(clean == expected(40))
    FailFirst.seen.clear()
    assert(replies(prompts(40, 1),
      new RetryingClient(new FailFirst, baseDelayMs = 1)) == clean)
    assert(FailFirst.seen.size == 21)
    Counting.batches.set(0)
    assert(replies(prompts(40, 1), new HalvingClient(new Counting)) == clean)
    assert(Counting.batches.get == 21)
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

  /** Records (partition, batch size) per `completeBatch`. */
  class Batches extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      Batches.sizes.add(TaskContext.getPartitionId() -> ps.size)
      ps.map(mock.complete)
    }
  }
  object Batches { val sizes = new ConcurrentLinkedQueue[(Int, Int)] }

  /** Fails the first attempt of every batch. */
  class FailFirst extends InferenceClient {
    override def complete(p: String): String = mock.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] =
      if (FailFirst.seen.add(ps)) throw new RuntimeException("transient")
      else ps.map(mock.complete)
  }
  object FailFirst { val seen = ConcurrentHashMap.newKeySet[Seq[String]]() }

  /** Sleeps `ms` per batch, then asks `underlying`, and records the most
    * batches in flight, in all and per task partition. */
  class Slow(ms: Long = 20, underlying: InferenceClient = new MockInference)
    extends InferenceClient {
    override def complete(p: String): String = underlying.complete(p)
    override def completeBatch(ps: Seq[String]): Seq[String] = {
      val (now, most) = Slow.byTask.computeIfAbsent(TaskContext.getPartitionId(),
        _ => (new AtomicInteger, new AtomicInteger))
      most.accumulateAndGet(now.incrementAndGet(), math.max)
      Slow.max.accumulateAndGet(Slow.inflight.incrementAndGet(), math.max)
      try { Thread.sleep(ms); underlying.completeBatch(ps) }
      finally { Slow.inflight.decrementAndGet(); now.decrementAndGet() }
    }
  }
  object Slow {
    val inflight = new AtomicInteger
    val max = new AtomicInteger
    /** partition -> (calls in flight, most calls in flight) */
    val byTask = new ConcurrentHashMap[Int, (AtomicInteger, AtomicInteger)]
    def reset(): Unit = { inflight.set(0); max.set(0); byTask.clear() }
    def maxByTask: Map[Int, Int] = byTask.asScala.map { case (p, (_, m)) => p -> m.get }.toMap
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
