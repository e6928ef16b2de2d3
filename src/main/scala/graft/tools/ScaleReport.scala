package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.obs.Telemetry
import java.nio.file.{Files, Paths}

/** Measure how each query's shuffle volume GROWS with data size — the
  * number that decides 100 TB behavior. Runs every SparkEntry query
  * memo-bypassed (the real dataflow, not a checkpoint scan) at each sf
  * directory, records shuffle bytes (read+write), and fits the log10
  * growth exponent over the sf0.01 -> sf0.1 decade:
  *
  *   slope 0 = constant state (sketches — safe at any scale)
  *   slope 1 = linear in input (scans/dedup keys — scales with cluster)
  *   slope > 1 = superlinear — a pair explosion that will NOT survive 100x
  *
  * `sbt "runMain graft.tools.ScaleReport [sf... ]"` (default the three
  * testdata SFs); writes target/scale_report.md.
  */
object ScaleReport {

  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    val telemetry = Telemetry(spark)

    // per-sf table warm-up so footer reads don't pollute the first query
    // SPARK_GRAFT_ONLY=a,b,c re-measures a subset after a plan change
    // (output goes to scale_report_partial.md so the full table survives)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      only.fold(all)(k => all.filter(k))
    }
    val mb = scala.collection.mutable.Map.empty[(String, String), Double]
    sfDirs.foreach { d =>
      Tables.names.foreach { t =>
        (if (t == "events") Tables.events(spark, d)
         else Tables.load(spark, d, t)).count()
      }
      try graft.operators.Lake.warmLayout(spark, d)
      catch { case _: Throwable => () }
      try graft.operators.Multimodal.mediaTable(spark, d).count()
      catch { case _: Throwable => () }
      names.foreach { n =>
        try {
          // noop sink, not count(): count() lets Catalyst prune unreferenced
          // window/projection work (x05/x06 collapse to a bare scan), which
          // would under-report the real dataflow a consumer pays for
          val (_, p) = telemetry.measure(n)(graft.operators.ResultMemo.bypass(
            SparkEntry.queries(n)(spark, d)
              .write.format("noop").mode("overwrite").save()))
          mb((n, d)) = p.shuffleBytes / 1e6
        } catch { case _: Throwable => () }
        spark.sqlContext.clearCache()
      }
      println(s"[scale] done $d")
    }

    val (lo, hi) = (sfDirs(sfDirs.size - 2), sfDirs.last)
    val decades = math.log10(sfName(hi) / sfName(lo))
    val sb = new StringBuilder
    sb.append("# Shuffle scaling per query\n\n")
    sb.append(s"Shuffle MB (read+write, memo-bypassed) per sf; slope = ")
    sb.append(s"log growth exponent over $lo -> $hi.\n\n")
    sb.append("| query | " + sfDirs.map(_.split('/').last).mkString(" | ") +
      " | slope | verdict |\n")
    sb.append("|---|" + sfDirs.map(_ => "---|").mkString + "---|---|\n")
    names.foreach { n =>
      val vals = sfDirs.map(d => mb.getOrElse((n, d), Double.NaN))
      val (a, b) = (mb.getOrElse((n, lo), Double.NaN),
        mb.getOrElse((n, hi), Double.NaN))
      // below ~0.2 MB a "shuffle" is scheduler framing (empty map outputs,
      // tiny result exchanges), not data — call it constant
      val (slope, verdict) =
        if (b.isNaN || a.isNaN) (Double.NaN, "err")
        else if (b < 0.2) (0.0, "constant")
        else if (a <= 0.0) (Double.NaN, "n/a")
        else {
          val sl = math.log10(b / a) / decades
          (sl,
            if (sl < 0.25) "constant"
            else if (sl < 0.85) "sublinear"
            else if (sl <= 1.15) "linear"
            else "SUPERLINEAR")
        }
      sb.append("| " + n + " | " +
        vals.map(v => if (v.isNaN) "-" else f"$v%.2f").mkString(" | ") +
        " | " + (if (slope.isNaN) "-" else f"$slope%.2f") +
        s" | $verdict |\n")
    }
    Files.createDirectories(Paths.get("target"))
    val out = if (only.isDefined) "target/scale_report_partial.md"
              else "target/scale_report.md"
    Files.writeString(Paths.get(out), sb.toString)
    println(sb.toString)
    spark.stop()
  }

  /** Numeric sf from the directory name (sf0.01 -> 0.01). */
  private def sfName(d: String): Double =
    d.split('/').last.stripPrefix("sf").toDouble
}
