package graft.tools

import graft.{SparkTestBase, Warm}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** PLANS.md is Profile's `raw all` fingerprint table at one sf dir. A fixed
  * subset — the warehouse queries, the dedup and ANN families, both
  * pipelines — is recomputed here with the function Profile calls, and
  * every exchange count and job count must equal its committed row: an
  * added exchange or job in one of these plans is a plan change, and
  * PLANS.md is regenerated with it on purpose or the change is wrong. */
class ProfileSpec extends SparkTestBase {

  private val subset = Seq("q04_token_bins", "q05_collapse_bins",
    "q45_kmv_distinct", "q46_kmv_set_ops", "d12_span_dedup",
    "p01_v1_qa_pipeline", "p02_v2_survey_pipeline", "d06_minhash_verified",
    "s03_ann_recall", "d09_dedup_components")

  /** d09's connected-components loop runs one job per star round, and its
    * round count may move by one between runs (VERDICT r15 #7). */
  private val jobSlack = Map("d09_dedup_components" -> 1).withDefaultValue(0)

  private val lines = Files.readAllLines(Paths.get("PLANS.md")).asScala.toSeq
  private val sfDir = lines.collectFirst {
    case l if l.startsWith("## ") => l.stripPrefix("## ").trim
  }.getOrElse(fail("PLANS.md names no sf dir"))
  private val committed: Map[String, Seq[String]] = lines
    .filter(l => l.startsWith("| ") && !l.startsWith("| query "))
    .map(_.split('|').map(_.trim).filter(_.nonEmpty).toSeq)
    .map(cells => cells.head -> cells.tail).toMap

  test("recomputed fingerprints equal the committed PLANS.md rows") {
    Warm.newPass(spark, sfDir, tag = "profile-spec", only = subset.toSet)
    val diffs = subset.flatMap { n =>
      val row = committed.getOrElse(n, fail(s"PLANS.md has no row for $n"))
      val Seq(jobs, shuffles, broadcasts, smj) = row.take(4).map(_.toInt)
      // PLANS.md holds Profile's second pass: a query's first run in a
      // session can pay one-off work (a table's first scan probes, driver
      // caches another query or warm step would have filled)
      Profile.run(spark, sfDir, n, raw = true)
      val (_, fp, _) = Profile.run(spark, sfDir, n, raw = true)
      Seq(
        Option.when(math.abs(fp.jobs - jobs) > jobSlack(n))(
          s"$n jobs ${fp.jobs} (committed $jobs)"),
        Option.when(fp.shuffles != shuffles)(
          s"$n shuffle exchanges ${fp.shuffles} (committed $shuffles)"),
        Option.when(fp.broadcasts != broadcasts)(
          s"$n broadcast exchanges ${fp.broadcasts} (committed $broadcasts)"),
        Option.when(fp.smj != smj)(
          s"$n sort-merge joins ${fp.smj} (committed $smj)")).flatten
    }
    assert(diffs.isEmpty, diffs.mkString("plans moved:\n  ", "\n  ", ""))
  }
}
