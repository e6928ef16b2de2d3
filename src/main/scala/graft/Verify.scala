package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name filter (local iteration)
    val only = args.lift(2).map(_.split(",").toSet)
    // the session factory Bench times, so the dump certifies that
    // configuration (extensions, AQE settings, codegen cache, cores)
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A failed build must be VISIBLE downstream, not a silent omission: r6
    // hid 13 regressions because failed queries wrote no parquet and the
    // driver's compare only iterates over what exists. Record every failure
    // as an `<name>._error` sentinel (check_oracle.py reports these as
    // "MISSING (build error)") and print an attempted/written manifest.
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.writeString(Paths.get(s"$outDir/$name._error"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    println(s"[verify] attempted=${attempted.size} " +
      s"written=${attempted.size - failed.size} failed=${failed.size}" +
      (if (failed.isEmpty) "" else failed.mkString(" [", ",", "]")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
