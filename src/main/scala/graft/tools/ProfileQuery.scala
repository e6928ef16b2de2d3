package graft.tools

import graft._

/** Generic per-query profiler: runs any SparkEntry query N times at an sf
  * dir and prints per-run wall-clock plus per-job and slow-stage timing —
  * the tool that found d11's interpreted-HOF cost.
  *
  * Usage: runMain graft.tools.ProfileQuery <query> [sfDir] [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <query> [sfDir] [runs]")
    val name = args(0)
    val d    = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

    val spark = GraftSession.get("profile-query")

    val verbose = sys.env.contains("SPARK_GRAFT_PROF_JOBS")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.put(j.jobId, System.nanoTime())
          if (verbose) {
            val desc = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            // the final stage's name carries the action's callsite — the
            // job-count attribution the fusion work needs
            val site = j.stageInfos.sortBy(_.stageId).lastOption
              .map(_.name).getOrElse("")
            println(s"[prof]   job ${j.jobId} start: " +
              s"${j.stageInfos.size} stages | ${desc.take(60)} | $site")
          }
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobs.getOrDefault(j.jobId, 0L)
          val s  = (System.nanoTime() - t0) / 1e9
          if (s > 0.25) println(f"[prof]   job ${j.jobId}%3d $s%6.2f s")
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val secs = (for {
            a <- si.completionTime; b <- si.submissionTime
          } yield (a - b) / 1e3).getOrElse(-1.0)
          if (secs > 0.5)
            println(f"[prof]     stage ${si.stageId}%3d $secs%6.2f s " +
              f"${si.numTasks}%3d tasks" +
              (if (verbose) s" | ${si.name.take(70)}" else ""))
        }
      })

    // SPARK_GRAFT_BYPASS=1 runs every rep under ResultMemo.bypass: no
    // localCheckpoint materialization, no cross-run memo — isolates the
    // checkpoint-write cost of a memoized frame from its compute cost
    // (every rep is honestly cold)
    val bypass = sys.env.get("SPARK_GRAFT_BYPASS").exists(_ == "1")
    // SPARK_GRAFT_PROF_EXPLAIN=1: dump the formatted physical plan once
    // (pre-AQE shape), then the post-execution final AQE plan after a run —
    // the latter shows the runtime stage boundaries the listener times
    if (sys.env.get("SPARK_GRAFT_PROF_EXPLAIN").exists(_ == "1")) {
      val df = fn(spark, d)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Force(df)
      println("== Final (post-AQE) Plan ==")
      println(df.queryExecution.executedPlan.toString.take(6000))
    }
    (1 to runs).foreach { r =>
      val j0 = jobs.size()
      val t0 = System.nanoTime()
      // Force, not count(): a bare count lets Catalyst prune projection-
      // only stages and determinism sorts — profile what the bench times
      if (bypass) operators.ResultMemo.bypass(Force(fn(spark, d)))
      else Force(fn(spark, d))
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async (the Bench.scala lesson): give the bus a
      // beat so the run's last job-start events land in this run's count
      Thread.sleep(100L)
      println(f"[prof] $name run $r: $sec%6.2f s " +
        f"(${jobs.size() - j0} jobs)")
    }
    spark.stop()
  }
}
