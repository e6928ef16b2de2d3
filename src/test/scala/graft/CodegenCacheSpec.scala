package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.sum

/** The compiled-class cache must outlive one pass's working set of
  * generated classes: with Spark's default of 100 entries, a workload that
  * needs more than 100 classes evicts each one before its next use and
  * recompiles it with Janino on every pass. The cache is keyed on the
  * task's class loader too, so a streaming query must run its tasks under
  * the loader batch queries use, or each run recompiles its classes. */
class CodegenCacheSpec extends SparkTestBase {

  test("a plan re-run after 120 distinct plans reuses its compiled classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // each literal set is inlined into the generated source: a new class
    def plan(i: Int): Unit =
      spark.range(0L, 64L, 1L, 1)
        .selectExpr(s"id * $i + ${i + 7} AS v")
        .filter(s"v % ${i + 3} != 1")
        .agg(sum("v")).collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    plan(0)
    val first = compiles.getCount
    (1 to 120).foreach(plan)
    assert(compiles.getCount - first > 100, "the plans must compile > 100 classes")
    val before = compiles.getCount
    plan(0)
    assert(compiles.getCount - before == 0,
      s"re-running the first plan compiled ${compiles.getCount - before} classes")
  }

  test("a streaming query re-run reuses its compiled classes") {
    val dir = getClass.getResource("/fixtures/events_micros").getPath
    def run(name: String) = graft.streaming.Streams.runToMemory(
      graft.streaming.Streams.tumblingCounts(Tables.stream(spark, dir, "events")),
      name).collect().toSet
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = run("cg_stream_1")
    val before = compiles.getCount
    val second = run("cg_stream_2")
    assert(second == first)
    assert(compiles.getCount - before == 0,
      s"the second run compiled ${compiles.getCount - before} classes")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
  }
}
