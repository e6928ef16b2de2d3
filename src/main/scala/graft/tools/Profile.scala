package graft.tools

import graft.{Force, GraftSession, SparkEntry, Warm}
import graft.obs.{Telemetry, Profile => QueryProfile}
import graft.operators.ResultMemo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The one measurement main: times and fingerprints a query set at one or
  * more sf dirs under Bench's pass discipline (Warm.newPass before every
  * pass: memos and cache cleared, GC, indexes re-warmed for the set).
  *
  * Usage: runMain graft.tools.Profile <sfDir[,sfDir...]> <q1,q2,...|all>
  *          [passes] [raw] [plans=<dir>] [spark.k=v ...]
  *
  *   passes   — complete passes over the set (default 2); each query
  *              reports its best pass
  *   raw      — build every query under ResultMemo.bypass: the real
  *              dataflow, not a checkpoint scan
  *   plans=   — write each query's formatted final plan (last pass) to
  *              <dir>/<sf>/<query>.txt
  *   k=v      — session confs applied before the session starts: a conf
  *              A/B is one invocation per side, alternated A-B-A-B
  *
  * Writes one JSON row per (sf, pass, query) to target/profile.jsonl —
  * Bench's `{pass, query, profile}` row plus `sf` and the [[Fingerprint]] —
  * and the last pass's fingerprints as markdown tables to
  * target/profile_plans.md (PLANS.md is this file for `<sf0.001> all 2
  * raw` at 4 cores). Prints each sf's best time per query and, given two
  * or more sf dirs, the shuffle-growth slope over the last two.
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** A run's cost shape: Spark jobs and shuffle MB (read + write) from its
    * telemetry; shuffle exchanges, broadcast exchanges and sort-merge joins
    * of the final (AQE) plan it executed. Reused exchanges are not
    * counted: they shuffle nothing again. */
  final case class Fingerprint(jobs: Int, shuffles: Int, broadcasts: Int,
      smj: Int, shuffleMb: Double)

  def fingerprint(p: QueryProfile, plan: SparkPlan): Fingerprint = {
    val nodes = collectWithSubqueries(plan) { case n => n }
    Fingerprint(p.jobs.size,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      p.shuffleBytes / 1e6)
  }

  /** One run of query `name` at `sfDir` as a pass runs it — built and
    * forced inside one telemetry window — with its fingerprint and the
    * executed noop write whose final plan the fingerprint reads. */
  def run(spark: SparkSession, sfDir: String, name: String,
      raw: Boolean): (QueryProfile, Fingerprint, QueryExecution) = {
    val build = SparkEntry.queries(name)
    val (_, p, executions) = Telemetry(spark).measureExecutions(name) {
      if (raw) ResultMemo.bypass(Force(build(spark, sfDir)))
      else Force(build(spark, sfDir))
    }
    val qe = executions.last
    (p, fingerprint(p, qe.executedPlan), qe)
  }

  private val usage = "usage: Profile <sfDir[,sfDir...]> <q1,q2,...|all> " +
    "[passes] [raw] [plans=<dir>] [spark.k=v ...]"

  def main(args: Array[String]): Unit = {
    val (settings, positional) = args.toSeq.partition(_.contains("="))
    val raw = positional.contains("raw")
    val rest = positional.filterNot(_ == "raw")
    require(rest.size >= 2 && rest.size <= 3, usage)
    val sfDirs = rest(0).split(",").toSeq.filter(_.nonEmpty)
    val names =
      if (rest(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else rest(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val passes = rest.lift(2).fold(2)(_.toInt).max(1)
    val plansDir = settings.collectFirst {
      case s if s.startsWith("plans=") => Paths.get(s.stripPrefix("plans="))
    }
    val confs = settings.filterNot(_.startsWith("plans=")).map { s =>
      val Array(k, v) = s.split("=", 2)
      k.trim -> v.trim
    }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = GraftSession.builder("graft-profile", cpus)
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = mutable.ArrayBuffer.empty[String]
    val best = mutable.Map.empty[(String, String), Double]
    val shape = mutable.Map.empty[(String, String), Fingerprint]
    val jsonl = Paths.get("target/profile.jsonl")
    sfDirs.foreach { d =>
      Warm.tables(spark, d, tag = "profile")
      (1 to passes).foreach { pass =>
        Warm.newPass(spark, d, tag = "profile", only = names.toSet)
        names.foreach { n =>
          val row = ListMap[String, Any]("sf" -> d, "pass" -> pass, "query" -> n)
          rows += Telemetry.toJson(try {
            val (p, fp, qe) = run(spark, d, n, raw)
            best((d, n)) = best.getOrElse((d, n), Double.MaxValue).min(p.wallSec)
            shape((d, n)) = fp
            if (pass == passes) plansDir.foreach(dir => write(
              dir.resolve(sfName(d)).resolve(s"$n.txt"),
              qe.explainString(FormattedMode)))
            row ++ ListMap("profile" -> p, "fingerprint" -> fp)
          } catch { case e: Throwable =>
            System.err.println(s"[profile] $n at $d failed: $e")
            shape -= ((d, n))
            row + ("error" -> e.getClass.getSimpleName)
          })
          // release the query's blocks before the next one, as Bench does
          spark.sqlContext.clearCache()
          System.gc()
        }
        write(jsonl, rows.map(_ + "\n").mkString)
      }
    }
    spark.stop()

    val title = s"`graft.tools.Profile ${args.mkString(" ")}` at `local[$cpus]`"
    write(Paths.get("target/profile_plans.md"),
      s"""# PLANS — per-query plan fingerprints
         |
         |Generated by $title, one row per query from the last pass.
         |Jobs and shuffle MB (read + write) come from graft.obs; exchanges
         |and sort-merge joins from the final (AQE) plan the run executed.
         |A `raw` run is memo-bypassed, so the rows describe the real
         |dataflow, not a checkpoint scan. Diff this table round over round:
         |a jump in jobs or exchanges is a plan regression even when
         |wall-clock noise hides it.
         |""".stripMargin + sfDirs.map { d =>
        s"\n## $d\n\n| query | jobs | shuffle exchanges | broadcast exchanges " +
          "| SMJ | shuffle MB |\n|---|---|---|---|---|---|\n" +
          names.map { n =>
            shape.get((d, n)).fold(s"| $n | err | err | err | err | err |\n") {
              f => s"| $n | ${f.jobs} | ${f.shuffles} | ${f.broadcasts} " +
                f"| ${f.smj} | ${f.shuffleMb}%.2f |\n"
            }
          }.mkString
      }.mkString)

    sfDirs.foreach { d =>
      println(s"[profile] $d best of $passes passes${if (raw) " (raw)" else ""}")
      names.foreach(n => println(
        best.get((d, n)).fold(f"  $n%-32s err")(s => f"  $n%-32s $s%8.3f s")))
      println(f"  total ${names.flatMap(n => best.get((d, n))).sum}%.3f s")
    }
    if (sfDirs.size >= 2) {
      // log10 growth of shuffle MB against scale factor over the last two
      // dirs: 0 = constant state (sketches), 1 = linear in input (scans,
      // dedup keys), > 1 = a pair explosion that will NOT survive 100x
      val Seq(lo, hi) = sfDirs.takeRight(2)
      val decades = math.log10(scale(hi) / scale(lo))
      println(s"[profile] shuffle MB per sf and growth exponent $lo -> $hi")
      names.foreach { n =>
        val mb = sfDirs.map(d => shape.get((d, n)).map(_.shuffleMb))
        val slope = (mb.init.last, mb.last) match {
          // below ~0.2 MB a "shuffle" is scheduler framing (empty map
          // outputs, tiny result exchanges), not data
          case (Some(_), Some(b)) if b < 0.2 => "0.00 constant"
          case (Some(a), Some(b)) if a > 0 =>
            val sl = math.log10(b / a) / decades
            f"$sl%.2f " + (if (sl < 0.25) "constant" else if (sl < 0.85)
              "sublinear" else if (sl <= 1.15) "linear" else "SUPERLINEAR")
          case _ => "-"
        }
        println(f"  $n%-32s " +
          mb.map(_.fold("-")(v => f"$v%.2f")).mkString(" ") + s" | $slope")
      }
    }
  }

  /** Numeric scale factor from the directory name (sf0.01 -> 0.01). */
  private def scale(d: String): Double = sfName(d).stripPrefix("sf").toDouble

  private def sfName(d: String): String = Paths.get(d).getFileName.toString

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, text)
  }
}
