package graft.pipeline

import org.apache.spark.sql.functions._

/** The standard stage map behind the checkpoint CLI
  * (`graft.tools.RunStage`) — the deterministic tool surface the V3 MCP
  * host sequences. The reference exposes each pipeline step as an MCP tool
  * whose arguments and results are FILE PATHS
  * (/root/reference/LLMxMapReduce_V3/src/mcp_host/host.py:30-207,
  * llm_search_mcp_server.py:292-347); here each stage is a
  * `DataFrame => DataFrame` over parquet checkpoint paths, so any host —
  * the [[HostLoop]] decision loop, a shell script, a human at the CLI —
  * sequences the same library.
  *
  * All stages operate on the documents checkpoint schema
  * (doc_id, text, ...; extra columns pass through) and reuse the
  * engine's operator kernels, so a stage's semantics match its oracle-
  * checked query twin. Scale shape per stage is the twin's: row-local
  * codegen for the column appenders, one hash-keyed shuffle for the dedup.
  */
object StageLibrary {

  /** The standard stages, by name. */
  val stages: Map[String, StageRunner.Stage] = Map(
    // normalize whitespace (T8-adjacent scrub; d07's claim normalization)
    "clean_ws" -> (df =>
      df.withColumn("text", trim(regexp_replace(col("text"), "\\s+", " ")))),

    // drop too-short documents (F6's lower length gate)
    "filter_short" -> (df => df.filter(length(col("text")) >= 50)),

    // exact dedup, keep the first doc per content hash (d01's rule)
    "dedup_exact" -> { df =>
      val h = df.withColumn("fp", md5(col("text").cast("binary")))
      val firsts = h.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      h.join(firsts, Seq("fp", "doc_id"), "left_semi").drop("fp")
    },

    // stopword-ratio language guess (t01's rule, same 10-word table)
    "lang_id" -> { df =>
      val stopArr = array(Seq("the", "a", "of", "and", "to", "in", "is",
        "on", "for", "with").map(lit): _*)
      val words = split(lower(col("text")), " ")
      val nStop = size(filter(words, t => array_contains(stopArr, t)))
      df.withColumn("lang_guess",
        when(nStop * 1.0 / greatest(size(split(col("text"), " ")), lit(1))
          > 0.05, "en").otherwise("unknown"))
    },

    // content fingerprint column (t04's md5 label)
    "fingerprint" -> (df =>
      df.withColumn("fp", md5(col("text").cast("binary")))),

    // MinHash signature index maintenance (the d14s steady state, batch)
    "minhash_sig" -> (df =>
      df.withColumn("sig",
          graft.functions.HashKernels.minhashSigCol(col("text")))
        .filter(col("sig").isNotNull)))
}
