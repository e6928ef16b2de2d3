package graft.pipeline

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The standard stage library behind the RunStage CLI: each stage matches
  * its oracle-checked query twin's rule, stages chain checkpoint-to-
  * checkpoint, and a chained run equals the fused batch plan. */
class StageLibrarySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def seed(): String = {
    val p = Files.createTempDirectory("graft_stage_in_").toString
    Tables.documents(spark, dir)
      .select("doc_id", "text", "source")
      .write.mode("overwrite").parquet(p)
    p
  }

  private def run(stage: String, in: String, out: String): Long =
    StageRunner.run(spark, StageLibrary.stages, stage, in, out)

  test("library lists the standard stages") {
    val known = StageLibrary.stages.keySet
    Seq("clean_ws", "filter_short", "dedup_exact", "lang_id",
      "fingerprint", "minhash_sig").foreach(s =>
      assert(known.contains(s), s"missing stage $s"))
  }

  test("chained checkpoints equal the fused batch plan (dedup after filter)") {
    val in  = seed()
    val w   = Files.createTempDirectory("graft_stage_w_").toString
    val n1 = run("filter_short", in, s"$w/c1")
    val n2 = run("dedup_exact", s"$w/c1", s"$w/c2")
    assert(n2 <= n1)
    val fused = {
      val f = spark.read.parquet(in).filter(length(col("text")) >= 50)
        .withColumn("fp", md5(col("text").cast("binary")))
      val firsts = f.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      f.join(firsts, Seq("fp", "doc_id"), "left_semi").drop("fp")
    }
    val got = spark.read.parquet(s"$w/c2")
    assert(got.count() == fused.count())
    assert(got.select("doc_id").exceptAll(fused.select("doc_id")).isEmpty)
  }

  test("column appenders preserve rows and match their query twins' rules") {
    val in = seed()
    val w  = Files.createTempDirectory("graft_stage_a_").toString
    val n0 = spark.read.parquet(in).count()
    assert(run("lang_id", in, s"$w/lang") == n0)
    assert(run("fingerprint", in, s"$w/fp") == n0)
    // lang_id agrees with t01 on every doc
    val t01 = graft.SparkEntry.queries("t01_language_id")(spark, dir)
      .select("doc_id", "lang_guess")
    val st = spark.read.parquet(s"$w/lang").select("doc_id", "lang_guess")
    assert(st.exceptAll(t01).isEmpty && t01.exceptAll(st).isEmpty)
    // minhash_sig drops only docs the kernel nulls (< 3 tokens)
    val nSig = run("minhash_sig", in, s"$w/sig")
    assert(nSig <= n0 && nSig > 0)
  }
}
