package graft.tools

import graft.{GraftSession, Tables}

/** Ad-hoc SQL probe against the sf tables: registers the same views Verify
  * uses and prints the result of one statement. Debugging aid for oracle
  * divergences (run the same statement in DuckDB and diff).
  *
  * Usage: runMain graft.tools.Sql <sfDir> "<sql>" [n]
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-sql")
    Tables.names.foreach(t =>
      Tables.load(spark, args(0), t).createOrReplaceTempView(t))
    val n = if (args.length > 2) args(2).toInt else 100
    spark.sql(args(1)).show(n, truncate = false)
    spark.stop()
  }
}
