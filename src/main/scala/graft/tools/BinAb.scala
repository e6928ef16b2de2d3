package graft.tools

import graft.obs.Telemetry

/** Interleaved A-B for the q04/q05 window-exchange variant (VERDICT r14 #6):
  * "hash" (r14 form — hash window exchange + per-query terminal range
  * exchange) vs "range" (one bottom range exchange on l_orderkey that
  * satisfies the window, q05's grouping AND both terminal sorts).
  *
  * Methodology (SCALE.md §"Round-14: d12's terminal sort"): variants
  * alternate A-B-A-B in ONE JVM, rep 1 excluded as warm-up,
  * build+execute timed together, job counts and
  * shuffle-byte deltas printed (the variant's claim is an exchange-count
  * claim, so bytes are the column that must move). Frames are built RAW
  * (no ResultMemo) so every rep times the real window pass.
  *
  * "check" mode: assert both variants' q04/q05 rows identical (including
  * order) before trusting any timing.
  *
  * Usage: runMain graft.tools.BinAb [sfDir] [reps|check]
  */
object BinAb {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps =
      if (args.length > 1 && args(1) != "check") args(1).toInt else 6
    require(args.lift(1).contains("check") || reps >= 2,
      "need reps >= 2: rep 1 is warm-up and is never accumulated")
    val spark = graft.GraftSession.get("bin-ab")
    spark.sparkContext.setLogLevel("WARN")
    val telemetry = Telemetry(spark)

    import graft.operators.Relational
    val queries = Seq[(String, String => org.apache.spark.sql.DataFrame)](
      ("q04", v => Relational.q04From(Relational.binAssignedRaw(spark, d, v))),
      ("q05", v => Relational.q05From(Relational.binAssignedRaw(spark, d, v))))
    val variants = Seq("hash", "range")

    if (args.lift(1).contains("check")) {
      for ((qn, fn) <- queries) {
        val a = fn("hash").collect().toSeq
        val b = fn("range").collect().toSeq
        println(s"[binab] check $qn: hash=${a.size} range=${b.size} " +
          s"identical_ordered=${a == b}")
        if (a != b) {
          val bad = b.zip(a).zipWithIndex.filter { case ((x, y), _) => x != y }
          println(s"[binab]   first diffs: ${bad.take(3).map {
            case ((x, y), i) => s"row $i: $x vs $y" }.mkString(" | ")}")
        }
      }
      spark.stop(); return
    }

    for ((qn, fn) <- queries) {
      val acc = scala.collection.mutable.Map.empty[String, List[Double]]
      val jc = scala.collection.mutable.Map.empty[String, List[Int]]
      val sb = scala.collection.mutable.Map.empty[String, List[Long]]
      for (r <- 1 to reps; v <- variants) {
        val (_, p) = telemetry.measure(s"$qn-$v")(graft.Force(fn(v)))
        if (r > 1) {
          acc(v) = p.wallSec :: acc.getOrElse(v, Nil)
          jc(v) = p.jobs.size :: jc.getOrElse(v, Nil)
          sb(v) = p.shuffleBytes :: sb.getOrElse(v, Nil)
        }
        spark.sqlContext.clearCache()
      }
      variants.foreach { name =>
        println(f"[binab] $qn $name%-6s best=${acc(name).min}%.3f s  " +
          f"median=${acc(name).sorted.apply(acc(name).size / 2)}%.3f s  " +
          f"(reps ${acc(name).reverse.map(x => f"$x%.3f").mkString(",")})  " +
          s"jobs=${jc(name).reverse.mkString(",")}  " +
          // read+write combined: relative A/B figure, ~2x absolute volume
          s"shuffleRWMB=${sb(name).reverse.map(b => f"${b / 1e6}%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
