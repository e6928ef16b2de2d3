package graft.pipeline

import graft.{SparkTestBase, Tables}
import graft.infer.MockInference
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The V3 host decision loop (host.py:208-428) over StageRunner stages:
  * plan execution to completion, error recording, and the round budget. */
class HostLoopSpec extends SparkTestBase {

  private def seedCheckpoint(): String = {
    val dir = Files.createTempDirectory("graft_host_in_").toString
    Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val stages = Map[String, StageRunner.Stage](
    "filter_short" -> (df => df.filter(col("n_chars") >= 200)),
    "tag_quality" -> (df => df.withColumn("quality",
      when(col("n_chars") >= 400, "high").otherwise("low"))),
    "agg_lang" ->
      (df => df.groupBy("lang", "quality").agg(count(lit(1)).as("n"))))

  test("host executes the planned stages in order and finishes (D5/§3.3)") {
    val in   = seedCheckpoint()
    val work = Files.createTempDirectory("graft_host_w_").toString
    val res = HostLoop.run(spark, stages,
      task = "filter_short>tag_quality>agg_lang",
      inPath = in, workDir = work, client = new MockInference)
    assert(res.status == "completed")
    assert(res.roundsUsed == 4) // 3 calls + the FINISH decision
    assert(res.history.map(_.stage) ==
      Seq("filter_short", "tag_quality", "agg_lang"))
    assert(res.history.forall(_.status == "success"))
    // the final checkpoint is the aggregated table, readable on its own
    val out = spark.read.parquet(res.finalPath)
    assert(out.columns.sorted.toSeq == Seq("lang", "n", "quality"))
    assert(out.agg(sum("n")).head.getLong(0) ==
      spark.read.parquet(in).filter(col("n_chars") >= 200).count())
  }

  test("unknown tool is recorded as an error and the budget bounds the loop") {
    val in   = seedCheckpoint()
    val work = Files.createTempDirectory("graft_host_e_").toString
    val res = HostLoop.run(spark, stages,
      task = "filter_short>no_such_stage",
      inPath = in, workDir = work, client = new MockInference, maxRounds = 4)
    assert(res.status == "max_rounds_reached")
    assert(res.history.head.stage == "filter_short" &&
      res.history.head.status == "success")
    // the bogus stage was retried every remaining round, each an error
    val errs = res.history.filter(_.stage == "no_such_stage")
    assert(errs.length == 3 && errs.forall(_.status == "error"))
    // the last good checkpoint survives as the result path
    assert(res.finalPath.contains("filter_short"))
  }
}
