package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StageRunnerSpec extends SparkTestBase {

  test("named stages run checkpoint-to-checkpoint (V3 contract)") {
    import spark.implicits._
    val in   = Files.createTempDirectory("graft_stage_in_").toString
    val mid  = Files.createTempDirectory("graft_stage_mid_").toString
    val out  = Files.createTempDirectory("graft_stage_out_").toString
    (1 to 100).map(i => (i.toLong, s"text $i")).toDF("id", "text")
      .write.mode("overwrite").parquet(in)

    val stages = Map[String, StageRunner.Stage](
      "filter_even" -> (df => df.filter(col("id") % 2 === 0)),
      "tag" -> (df => df.withColumn("tag", lit("ok"))))

    assert(StageRunner.run(spark, stages, "filter_even", in, mid) == 50)
    assert(StageRunner.run(spark, stages, "tag", mid, out) == 50)
    val res = spark.read.parquet(out)
    assert(res.columns.toSet == Set("id", "text", "tag"))
    intercept[IllegalArgumentException] {
      StageRunner.run(spark, stages, "nope", in, out)
    }
  }
}
