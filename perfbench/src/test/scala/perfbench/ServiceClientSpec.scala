package perfbench

import graft.pipeline.V1Pipeline
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ServiceClientSpec extends AnyFunSuite {

  test("a batch counts one call per prompt and one batch") {
    InferStats.reset()
    val client = new ServiceClient(baseMs = 0L, perTokenUs = 0L)
    val replies = client.completeBatch(Seq("MAP|q|ANSWER[1]", "MAP|q|none", "OUTLINE|t|a"))
    assert(replies.size == 3)
    assert(InferStats.calls.get == 3L)
    assert(InferStats.batches.get == 1L)
    assert(InferStats.recomputedCalls == 0L)
  }

  test("a fault-free V1 request calls the service exactly once per prompt") {
    new java.io.File(System.getProperty("java.io.tmpdir")).mkdirs()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      InferStats.reset()
      spark.sparkContext.setJobGroup("req-1", "qa")
      val text = (1 to 400).map(i => if (i % 50 == 0) "ANSWER[4242]" else s"w$i").mkString(" ")
      val docs = spark.createDataFrame(Seq((1L, "What is the pass key?", text)))
        .toDF("doc_id", "question", "text")
      val cfg = V1Pipeline.Config(chunkBudget = 32, collapseBudget = 100, binBudget = 48)
      val answers = V1Pipeline.run(docs, new ServiceClient(1L, 1L), cfg).collect()
      assert(answers.map(_.getString(1)).toSeq == Seq("4242"))
      assert(InferStats.calls.get > 0L)
      assert(InferStats.recomputedCalls == 0L)
      assert(InferStats.stagesOf("req-1", "COLLAPSE") >= 1)
    } finally spark.stop()
  }
}
