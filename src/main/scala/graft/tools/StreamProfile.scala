package graft.tools

import org.apache.spark.sql.streaming.Trigger
import graft.GraftSession
import graft.streaming.Streams

/** Per-trigger lifecycle profiler for the streaming twins (VERDICT r12 #1).
  *
  * The 19-21 AvailableNow twins each pay ~0.85-1.2 s of machinery their
  * DuckDB batch twins never see. This tool decomposes ONE twin's wall into
  * the engine's own lifecycle stages so the shave-vs-irreducible
  * adjudication is component-level, not per-query:
  *
  *   build      — DataFrame construction (schema probe memoized)
  *   start      — StreamingQueryManager.startQuery: checkpoint dir create,
  *                offset/commit WAL init, analysis, thread spawn
  *   triggers   — sum of triggerExecution from StreamingQueryProgress,
  *                itself decomposed via durationMs (latestOffset /
  *                queryPlanning / walCommit / addBatch / commitOffsets)
  *   drain      — awaitTermination wall minus the triggers sum: no-data
  *                batches, AvailableNow end-detection, thread teardown
  *   read       — final memory-table collect
  *
  * Usage: runMain graft.tools.StreamProfile [sfDir] [reps] [query] [parts]
  *   query ∈ {q26s (default), q27s, d10s, q40s, suite}
  *   parts (single-query mode): state-store partition count, or a comma
  *   list ("8,2") that reps interleave (default 8)
  */
object StreamProfile {

  /** Suite mode: run EVERY streaming twin (SparkEntry queries ending in a
    * stream suffix) under graft.obs telemetry, printing per-twin batch
    * counts and durationMs component sums — the machinery census across all
    * 21 twins, not just the three single-query shapes. */
  private def suite(sfDir: String, reps: Int): Unit = {
    val spark = GraftSession.get("stream-profile-suite")
    val telemetry = graft.obs.Telemetry(spark)
    val qs = graft.SparkEntry.queries
    for (r <- 1 to reps; n <- graft.streaming.StreamQueries.defs.map(_.name)) {
      val (_, p) = telemetry.measure(n)(graft.Force(qs(n)(spark, sfDir)))
      if (r == reps) p.streams.foreach { st =>
        def g(k: String) = st.durationMs.getOrElse(k, 0L)
        println(f"[sps] $n%-28s wall ${p.wallSec}%6.3f  batches ${st.batches}%2d  rows ${st.inputRows}%8d  " +
          f"trigger ${g("triggerExecution")}%5d ms = latestOffset ${g("latestOffset")}%4d + " +
          f"plan ${g("queryPlanning")}%4d + wal ${g("walCommit")}%3d + " +
          f"addBatch ${g("addBatch")}%5d + commit ${g("commitOffsets")}%4d (sink ${st.name})")
      }
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps  = if (args.length > 1) args(1).toInt else 4
    val which = if (args.length > 2) args(2) else "q26s"
    val partsArg = if (args.length > 3) args(3) else "8"
    if (which == "suite") { suite(sfDir, reps); return }

    val spark = GraftSession.get("stream-profile")
    import org.apache.spark.sql.DataFrame

    def build(): DataFrame = which match {
      case "q26s" => Streams.tumblingCounts(Streams.eventsStream(spark, sfDir))
      case "q27s" => Streams.slidingCounts(Streams.eventsStream(spark, sfDir))
      case "d10s" => Streams.dedupStream(Streams.documentsStream(spark, sfDir))
      case "q40s" => Streams.clickPurchaseJoin(Streams.eventsStream(spark, sfDir))
      case other  => sys.error(s"unknown: $other")
    }
    val mode = if (which == "d10s" || which == "q40s") "append" else "complete"

    // Warm the batch-side machinery once (parquet footer probe, codegen)
    spark.read.parquet(s"$sfDir/events.parquet").limit(1).count()

    // a comma list of partition counts ("8,2") interleaves the settings
    // A-B-A-B across reps so JVM warm-up drift doesn't masquerade as a
    // config effect (the measurement-discipline rule from STATE.md)
    val partsChoices = partsArg.split(",").map(_.trim).filter(_.nonEmpty)
    require(partsChoices.nonEmpty && partsChoices.forall(_.toIntOption.isDefined),
      s"parts '$partsArg' is neither an int nor a comma list of ints")
    for (r <- 1 to reps) {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val parts = partsChoices((r - 1) % partsChoices.length)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val name = s"prof_${which}_$r"
      val t0 = System.nanoTime()
      val agg = build()
      val t1 = System.nanoTime()
      val q = agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      val t2 = System.nanoTime()
      q.awaitTermination()
      val t3 = System.nanoTime()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      val n = spark.table(name).count()
      val t4 = System.nanoTime()

      def s(a: Long, b: Long) = (b - a) / 1e9
      val progress = q.recentProgress
      val trigSum = progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong).sum / 1e3
      println(f"[sp] rep $r $which parts=$parts: total ${s(t0, t4)}%6.3f  build ${s(t0, t1)}%6.3f  " +
        f"start ${s(t1, t2)}%6.3f  await ${s(t2, t3)}%6.3f  read ${s(t3, t4)}%6.3f  rows $n")
      println(f"[sp]   batches ${progress.length}  triggerSum $trigSum%6.3f  " +
        f"drain(await-triggers) ${s(t2, t3) - trigSum}%6.3f")
      progress.zipWithIndex.foreach { case (p, i) =>
        val d = p.durationMs
        def g(k: String) = d.getOrDefault(k, -1L)
        println(f"[sp]   batch ${p.batchId}%2d ($i): trigger ${g("triggerExecution")}%5d ms | " +
          s"latestOffset ${g("latestOffset")} getBatch ${g("getBatch")} " +
          s"queryPlanning ${g("queryPlanning")} walCommit ${g("walCommit")} " +
          s"addBatch ${g("addBatch")} commitOffsets ${g("commitOffsets")} " +
          s"stateCommit ${g("stateStoreCommit")} rows=${p.numInputRows}")
        p.stateOperators.foreach { so =>
          println(s"[sp]     state op ${so.operatorName}: rowsTotal ${so.numRowsTotal} " +
            s"updated ${so.numRowsUpdated} updTime ${so.allUpdatesTimeMs}ms " +
            s"rmTime ${so.allRemovalsTimeMs}ms commit ${so.commitTimeMs}ms " +
            s"memUsed ${so.memoryUsedBytes}")
        }
      }
    }
    spark.stop()
  }
}
