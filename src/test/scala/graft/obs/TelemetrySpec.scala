package graft.obs

import graft.{Force, SparkEntry, SparkTestBase, Tables}
import graft.operators.ResultMemo
import graft.streaming.Streams
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.Trigger

import java.util.concurrent.{CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

/** One telemetry layer (D9): every figure a profile reports is complete when
  * `measure` returns — no sleep, no poll loop. */
class TelemetrySpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("actions carry their duration and the final plan's root output rows (D9)") {
    Telemetry(spark) // attaching again must not register the listeners twice
    val (_, p) = Telemetry(spark).measure("actions") {
      spark.range(1000).selectExpr("sum(id)").collect() // exchange: AQE root
      spark.range(10).collect()
    }
    assert(p.actions.nonEmpty)
    assert(p.actions.map(a => (a.name, a.rows)) ==
      Seq(("collect", 1L), ("collect", 10L)), p.actions)
    assert(p.actions.forall(_.durationNs >= 0))
    val json = Telemetry.toJson(p)
    assert(json.contains("\"actions\":[{\"name\":\"collect\""), json)
  }

  test("shuffle bytes equal a task-end listener's over the same run (q04, bypassed)") {
    val reference = new TelemetrySpec.ShuffleListener
    spark.sparkContext.addSparkListener(reference)
    try {
      val t = Telemetry(spark)
      t.measure("settle")(()) // drains events queued before the listener
      reference.bytes.set(0L)
      val (_, p) = t.measure("q04")(ResultMemo.bypass(
        Force(SparkEntry.queries("q04_token_bins")(spark, dir))))
      assert(p.shuffleBytes > 0)
      assert(p.shuffleBytes == reference.bytes.get())
      assert(p.jobs.nonEmpty && p.stages.nonEmpty && p.tasks > 0)
    } finally spark.sparkContext.removeSparkListener(reference)
  }

  test("a streaming run's batches, input rows and state rows, without a poll") {
    val expected = Tables.events(spark, dir).count()
    val (_, p) = Telemetry(spark).measure("tumbling") {
      Streams.tumblingCounts(Tables.stream(spark, dir, "events")).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName("obs_tumbling_counts")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val snap = p.streams.find(_.name == "obs_tumbling_counts")
      .getOrElse(fail(s"no streaming record: ${p.streams}"))
    assert(snap.batches >= 1)
    assert(snap.inputRows == expected)
    assert(snap.stateRows > 0) // windowed agg keeps state
    assert(snap.exception.isEmpty)
    assert(snap.durationMs.getOrElse("triggerExecution", 0L) > 0L)
  }

  test("a one-job action counts exactly 1 job on each of 20 calls") {
    val t = Telemetry(spark)
    val counts = (1 to 20).map(i => t.measure(s"one-$i")(spark.range(1).collect())._2.jobs.size)
    assert(counts.forall(_ == 1), counts)
  }

  test("a bus that does not drain fails the measurement") {
    val release = new CountDownLatch(1)
    val stuck = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = release.await()
    }
    val t = Telemetry(spark)
    t.measure("settle")(())
    spark.sparkContext.addSparkListener(stuck)
    try intercept[TimeoutException](t.measure("stuck")(spark.range(1).collect()))
    finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(stuck)
    }
  }
}

object TelemetrySpec {
  /** The task-end shuffle counter graft.Bench kept before graft.obs. */
  final class ShuffleListener extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null)
        bytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
    }
  }
}
