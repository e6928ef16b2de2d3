package graft.tools

import graft._
import graft.obs.Telemetry

/** Generic per-query profiler: runs any SparkEntry query N times at an sf
  * dir and prints per-run wall-clock and job count, every job, and the slow
  * stages — the tool that found d11's interpreted-HOF cost. Run 1 is the
  * cold job count, later runs the warm one.
  *
  * Usage: runMain graft.tools.ProfileQuery <query> [sfDir] [runs] [raw] [explain]
  *   raw     — every run under ResultMemo.bypass: no localCheckpoint
  *             materialization, no cross-run memo — isolates the
  *             checkpoint-write cost of a memoized frame from its compute
  *             cost (every run is honestly cold)
  *   explain — dump the formatted physical plan once (pre-AQE shape), then
  *             the final AQE plan after a run: the runtime stage boundaries
  *             the stage lines time
  */
object ProfileQuery {
  def main(argv: Array[String]): Unit = {
    val (flags, args) = argv.partition(Set("raw", "explain"))
    require(args.nonEmpty,
      "usage: ProfileQuery <query> [sfDir] [runs] [raw] [explain]")
    val name = args(0)
    val d    = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val raw = flags.contains("raw")

    val spark = GraftSession.get("profile-query")
    val telemetry = Telemetry(spark)

    if (flags.contains("explain")) {
      val df = fn(spark, d)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Force(df)
      println("== Final (post-AQE) Plan ==")
      println(df.queryExecution.executedPlan.toString.take(6000))
    }
    (1 to runs).foreach { r =>
      // Force, not count(): a bare count lets Catalyst prune projection-
      // only stages and determinism sorts — profile what the bench times
      val (_, p) = telemetry.measure(name) {
        if (raw) operators.ResultMemo.bypass(Force(fn(spark, d)))
        else Force(fn(spark, d))
      }
      println(f"[prof] $name run $r: ${p.wallSec}%6.2f s (${p.jobs.size} jobs)")
      p.jobs.foreach { j =>
        println(f"[prof]   job ${j.id}%3d ${j.durationMs / 1e3}%6.2f s | ${j.name.take(70)}")
      }
      p.stages.filter(_.durationMs > 500).foreach { s =>
        println(f"[prof]     stage ${s.id}%3d ${s.durationMs / 1e3}%6.2f s | ${s.name.take(70)}")
      }
    }
    spark.stop()
  }
}
