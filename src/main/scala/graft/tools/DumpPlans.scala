package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.obs.Telemetry
import java.nio.file.{Files, Paths}

/** Write formatted physical plans of headline queries to PLANS.md — the
  * evidence that filters/pruning reach the scan, dimensions broadcast, and
  * hot paths stay in codegen. `sbt "runMain graft.tools.DumpPlans [sfDir]"`. */
object DumpPlans {
  private val headline = Seq(
    "q01_scan_filter_limit", "q08_join_rekey_part", "q13_pricing_summary",
    "q11_range_join", "q16_topk_per_group", "q28_session_window",
    "q35_bucketed_colocated_join", "q36_fuzzy_join_segmented_k3",
    "d03_minhash_lsh", "d05_embedding_neardup", "d08_decontaminate",
    "s01_cosine_topk", "s02_ann_lsh_topk", "p03_corpus_curation",
    "x02_shard_manifest", "q43_quantile_sketch", "q44_heavy_hitters_cms",
    "q45_kmv_distinct", "q46_kmv_set_ops", "d11_ngram_decontaminate",
    "s10_ann_pq_trained_recall", "d15_delta_dedup", "q47_grouped_quantiles",
    "t10_bm25_keywords", "x07_temperature_sample", "x08_cluster_prune",
    "x09_importance_resample", "t14_lm_quality", "p04_training_mix_pipeline")

  def main(args: Array[String]): Unit = {
    val dir   = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get("graft-plans")
    val sb    = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` on `$dir`. Executed\n")
    sb.append("plans (AQE-final). Things to look for: `PushedFilters` and\n")
    sb.append("pruned `ReadSchema` on scans, `BroadcastHashJoin` on\n")
    sb.append("dimensions, `*` codegen markers, partial->final HashAggregate\n")
    sb.append("pairs, and exchange counts.\n")

    // ---- per-query cost-shape table: Spark jobs + exchange counts, the
    // round-over-round diffable summary (VERDICT r03 #10). Jobs (building
    // the frame included) come from graft.obs; exchanges from the AQE-final
    // plan text. Memos bypassed: the numbers describe the REAL dataflow, not
    // a checkpoint scan.
    val telemetry = Telemetry(spark)
    sb.append("\n## Cost shape per query (jobs / shuffle / broadcast)\n\n")
    sb.append(s"All ${SparkEntry.queries.size} queries at `$dir`, memo-bypassed.\n")
    sb.append("Diff this table round over round: a jump in jobs or shuffles\n")
    sb.append("is a plan regression even when wall-clock noise hides it.\n\n")
    sb.append("| query | jobs | shuffle exchanges | broadcast exchanges |\n")
    sb.append("|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (df, p) = telemetry.measure(name) {
        val df = graft.operators.ResultMemo.bypass(fn(spark, dir))
        df.collect()
        df
      }
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = "(?m)^\\s*(?:[+:]- )?Exchange ".r
        .findAllIn(plan).size
      val bcasts = "BroadcastExchange".r.findAllIn(plan).size
      sb.append(s"| $name | ${p.jobs.size} | $shuffles | $bcasts |\n")
    }
    headline.foreach { name =>
      // bypass the result memo: dump the real plan, not a checkpoint scan
      val df = graft.operators.ResultMemo.bypass(
        SparkEntry.queries(name)(spark, dir))
      df.collect() // finalize AQE
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
