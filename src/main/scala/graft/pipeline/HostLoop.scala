package graft.pipeline

import graft.infer.InferenceClient
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The V3 MCP host's decision loop (SURVEY.md §3.3;
  * /root/reference/LLMxMapReduce_V3/src/mcp_host/host.py:208-428
  * `_llm_decision_loop`): up to `maxRounds` rounds of [ask the model for the
  * next action given the task and the operation history] → [execute the
  * chosen tool] → [record success/error in the history]. A finish decision
  * returns "completed"; an unknown tool or failed call is recorded and the
  * loop continues; exhausting the budget returns "max_rounds_reached".
  *
  * Tools here are the [[StageRunner]] stages of the `stages` map, which
  * communicate by parquet checkpoint path exactly like the reference's MCP
  * tools communicate by result-file path — so the host only ever moves
  * path strings and row counts, never data. The model edge is the usual [[InferenceClient]]
  * seam: `HOST|<task>|<history>` → `CALL <stage>` or `FINISH`.
  *
  * Scale: the loop is driver-side control (bounded by maxRounds) over
  * cluster-side stages — the same split the reference runs.
  */
object HostLoop {

  final case class HostOp(
      round: Int, action: String, stage: String, status: String, detail: String)

  final case class HostResult(
      status: String,        // completed | max_rounds_reached
      roundsUsed: Int,
      history: Seq[HostOp],
      finalPath: String)     // checkpoint of the last successful stage

  /** History in the compact form the decision prompt carries
    * (the reference renders operation_history into its decision prompt,
    * host.py:504-514). */
  private def renderHistory(h: Seq[HostOp]): String =
    h.map(op => s"${op.round}:${op.stage}=${op.status}").mkString(",")

  def run(
      spark: SparkSession,
      stages: Map[String, StageRunner.Stage],
      task: String,
      inPath: String,
      workDir: String,
      client: InferenceClient,
      maxRounds: Int = 10): HostResult = {
    var path    = inPath
    val history = ArrayBuffer.empty[HostOp]
    var round   = 1
    while (round <= maxRounds) {
      val decision =
        client.complete(s"HOST|$task|${renderHistory(history.toSeq)}").trim
      if (decision == "FINISH")
        return HostResult("completed", round, history.toSeq, path)
      else if (decision.startsWith("CALL ")) {
        val stage = decision.stripPrefix("CALL ").trim
        val out   = s"$workDir/round$round-$stage"
        try {
          val n = StageRunner.run(spark, stages, stage, path, out)
          path = out
          history += HostOp(round, "call_tool", stage, "success", s"rows=$n")
        } catch {
          case e: Exception =>
            history += HostOp(round, "call_tool", stage, "error",
              Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      } else {
        history += HostOp(round, "decision", decision.take(40), "error",
          "unparseable decision")
      }
      round += 1
    }
    HostResult("max_rounds_reached", maxRounds, history.toSeq, path)
  }
}
