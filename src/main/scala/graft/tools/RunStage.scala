package graft.tools

import graft.GraftSession
import graft.pipeline.{StageLibrary, StageRunner}

/** Checkpoint-to-checkpoint stage CLI — the V3 MCP tool surface as a main
  * (SURVEY.md §3.3): run ONE named stage from a parquet checkpoint dir to a
  * parquet checkpoint dir and print a one-line JSON receipt, exactly the
  * path-in/path-out contract the reference's MCP host drives its tools with
  * (/root/reference/LLMxMapReduce_V3/src/mcp_host/host.py:30-207). Any
  * host — [[graft.pipeline.HostLoop]], a shell loop, a human — can sequence
  * stages this way, restarting from any intermediate checkpoint (S9).
  *
  * Usage:
  *   runMain graft.tools.RunStage --list
  *   runMain graft.tools.RunStage <stage> <inCheckpoint> <outCheckpoint>
  */
object RunStage {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "--list") {
      StageLibrary.stages.keys.toSeq.sorted.foreach(println)
      return
    }
    require(args.length >= 3,
      "usage: RunStage --list | RunStage <stage> <inCheckpoint> <outCheckpoint>")
    val Array(stage, inPath, outPath) = args.take(3)
    val spark = GraftSession.get("graft-stage")
    try {
      val n = StageRunner.run(spark, StageLibrary.stages, stage, inPath, outPath)
      println(s"""{"stage":"$stage","in":"$inPath","out":"$outPath","rows":$n}""")
    } finally spark.stop()
  }
}
