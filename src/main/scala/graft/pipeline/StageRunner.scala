package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The V3 surface (SURVEY.md §3.3): the reference's MCP host is an
  * LLM-driven planner choosing among coarse stages that communicate **by
  * checkpoint path, not by value** (tool results are file paths;
  * llm_search_mcp_server.py:292-347). The deterministic half of that
  * contract is a map of named stages over parquet checkpoints: run a named
  * stage on a checkpoint directory, emit a new checkpoint directory. Any
  * host — LLM or human — sequences the stages. A caller passes its stage
  * map ([[StageLibrary.stages]] or its own); nothing here is global.
  *
  * Checkpoints double as lineage truncation (each stage reads a fresh scan)
  * and as restart points — exactly the reference's query/URL cache behavior
  * (S9).
  */
object StageRunner {

  /** A stage maps a checkpoint's rows to the next checkpoint's rows. */
  type Stage = DataFrame => DataFrame

  /** Run `stage` of `stages` on the parquet checkpoint at `inPath`, write
    * the result as a new checkpoint at `outPath`, return the output row
    * count. */
  def run(
      spark: SparkSession,
      stages: Map[String, Stage],
      stage: String,
      inPath: String,
      outPath: String): Long = {
    val fn = stages.getOrElse(stage,
      throw new IllegalArgumentException(s"unknown stage '$stage'; known: " +
        stages.keys.toSeq.sorted.mkString(", ")))
    fn(spark.read.parquet(inPath)).write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath).count()
  }
}
