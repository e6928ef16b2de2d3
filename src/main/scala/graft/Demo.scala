package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** Runnable tour of the engine's surfaces on sf0.001: a relational query,
  * the V1/V2 pipelines on mock inference, and a streaming window driven to
  * completion. `sbt "runMain graft.Demo [sfDir]"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir   = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get("graft-demo")

    println("=== q13 pricing summary ===")
    SparkEntry.queries("q13_pricing_summary")(spark, dir).show(5, truncate = false)

    println("=== V1 QA pipeline (first 3 docs) ===")
    SparkEntry.queries("p01_v1_qa_pipeline")(spark, dir).show(3, truncate = false)

    println("=== V2 survey pipeline (per-source surveys) ===")
    SparkEntry.queries("p02_v2_survey_pipeline")(spark, dir).show(3, truncate = false)

    println("=== streaming tumbling counts (AvailableNow) ===")
    Streams.runToMemory(
      Streams.tumblingCounts(Tables.stream(spark, dir, "events")), "demo_tumble")
      .orderBy(desc("n")).show(5, truncate = false)

    println("=== MinHash-LSH near-dup candidates ===")
    SparkEntry.queries("d03_minhash_lsh")(spark, dir).show(5, truncate = false)

    println("=== end-to-end corpus curation (quality→dedup→split→mix) ===")
    SparkEntry.queries("p03_corpus_curation")(spark, dir).show(6, truncate = false)

    println("=== crawl dataflow (mock fetcher, error envelope) ===")
    import graft.sources.WebCorpus
    import spark.implicits._
    val fetcher = new WebCorpus.Fetcher {
      def fetch(url: String): String =
        if (url.endsWith("supplier.parquet")) throw new RuntimeException("denied")
        else s"fetched ${new java.io.File(url).length()} bytes"
    }
    val urls = Tables.names.map(t => s"$dir/$t.parquet").toDF("url")
    val (ok, dead) = WebCorpus.splitErrors(
      WebCorpus.crawl(urls, fetcher, parallelism = 4))
    ok.show(3, truncate = false)
    dead.show(3, truncate = false)

    println("=== V3 stage runner (checkpoint -> checkpoint) ===")
    import graft.pipeline.StageRunner
    val ck0 = java.nio.file.Files.createTempDirectory("demo_ck0_").toString
    val ck1 = java.nio.file.Files.createTempDirectory("demo_ck1_").toString
    Tables.documents(spark, dir).write.mode("overwrite").parquet(ck0)
    val n = StageRunner.run(spark,
      Map("lang_en" -> (df => df.filter(col("lang") === "en"))),
      "lang_en", ck0, ck1)
    println(s"stage lang_en: $n rows checkpointed to $ck1")

    spark.stop()
  }
}
