package graft

import org.apache.spark.sql.SparkSession

/** The untimed warm-ups every timed run shares — the table scans before
  * the first pass, and at each pass boundary the build of every PERSISTED
  * ARTIFACT a deployment maintains next to the corpus rather than
  * rebuilding per query. Bench and graft.tools.Profile both call these,
  * so the two can never drift apart on what counts as a warm index (the
  * r5 regression class: a silently missing warm is indistinguishable from
  * a slow engine):
  *
  * - bucketed-lake layout (q35 times the Exchange-free join);
  * - media payload synthesis (the media lake exists at scale; m02 times
  *   the DECODE operator);
  * - the per-modality fingerprint indexes (maintained at ingest — m06s
  *   is the image ingest path; m03/m04/m05 time the banding DEDUP);
  * - the MinHash signature frame (d03/d06/d08/p03) and vocabulary
  *   (q44/t08/t09) corpus indexes;
  * - the trained BPE rank table (t11 emits it, t12 consumes it);
  * - the bigram LM (t14s's broadcast model) — but NOT the per-doc LM
  *   score frame: t14 times the raw scoring path and p04's gate pays the
  *   memoized frame's build at first use (ADVICE r8 — pre-building it
  *   made t14's published time a checkpoint read while its DuckDB oracle
  *   scored inline);
  * - the PQ index pairs (corpus codes + query ADC tables), sampled AND
  *   trained codebooks — the FAISS artifacts s07/s09/s10 read.
  *
  * A failed artifact build must not kill the run, but it must be LOUD:
  * its consumers then carry the bootstrap inside their timed runs.
  */
object Warm {

  /** One warm-up step: the artifact's label, the queries that READ it, and
    * its build. A SUBSET run (Profile over a query list) only builds the
    * artifacts its timed subset consumes. Generous supersets are safe (an
    * unused warm costs untimed time, never honesty); UNDER-listing a
    * consumer is the r5 regression class (its timed run silently pays the
    * bootstrap), so when adding a query that reads a persisted artifact,
    * add it here. The full bench passes `only` empty and builds
    * everything. */
  private[graft] final case class Step(
      label: String, consumers: Set[String],
      build: (SparkSession, String) => Any)

  /** The steps in build order. */
  private[graft] val steps: Seq[Step] = Seq(
    Step("lake layout", Set("q35_bucketed_colocated_join", "q42_zorder_scan",
        "q48_compaction"),
      operators.Lake.warmLayout(_, _)),
    Step("media table", Set("m01_binary_metadata", "m02_media_features",
        "m03_image_phash_dedup", "m04_audio_afp_dedup",
        "m05_video_phash_dedup", "m06s_stream_phash_index", "m07_thumbnail",
        "p05_media_curation"),
      operators.Multimodal.mediaTable(_, _).count()),
    Step("phash index", Set("m03_image_phash_dedup",
        "m06s_stream_phash_index", "p05_media_curation"),
      operators.Multimodal.phashFrame(_, _).count()),
    Step("afp index", Set("m04_audio_afp_dedup"),
      operators.Multimodal.afpFrame(_, _).count()),
    Step("vhash index", Set("m05_video_phash_dedup"),
      operators.Multimodal.vhashFrame(_, _).count()),
    Step("signature index", Set("d03_minhash_lsh", "d06_minhash_verified",
        "d08_decontaminate", "d14s_stream_sig_index", "d15_delta_dedup",
        "p03_corpus_curation"),
      operators.Dedup.warmSignatureIndex(_, _)),
    Step("vocab index", Set("t08_vocab_topk", "t09_token_rarity",
        "t10_bm25_keywords", "q44_heavy_hitters_cms"),
      operators.TextAnalysis.warmVocabIndex(_, _)),
    Step("bpe merges", Set("t11_bpe_train", "t12_bpe_apply",
        "t13s_stream_token_monitor"),
      operators.Tokenize.trainMerges(_, _)),
    Step("bigram lm", Set("t14_lm_quality", "t14s_stream_lm_gate",
        "p04_training_mix_pipeline", "p06_quantile_mix_pipeline"),
      operators.TextAnalysis.lmModelBroadcast(_, _)),
    Step("pq index", Set("s02_ann_lsh_topk", "s04_ann_ivf_topk",
        "s06_quantized_topk", "s07_ann_pq_topk",
        "s08_ann_recall_pq", "s09_ann_ivfpq_topk",
        "s10_ann_pq_trained_recall"),
      operators.Similarity.warmPqIndex(_, _)),
  )

  def indexes(spark: SparkSession, sfDir: String, tag: String = "warm",
      only: Set[String] = Set.empty): Unit =
    steps.filter(st => only.isEmpty || st.consumers.exists(only.contains))
      .foreach { st =>
        try st.build(spark, sfDir) catch { case e: Throwable =>
          System.err.println(
            s"[$tag] index warm-up '${st.label}' failed: ${e.getMessage}")
        }
      }

  /** Parquet footer reads for every table, so the first timed query does
    * not pay them: each table's schema lands in `Tables`' memo (the batch
    * and streaming reads share it) and one scan warms the file. Each table
    * is guarded: one unreadable table must cost its queries `err` entries
    * in the timed loop, not the whole run (r6: an events schema change
    * here killed the bench before any query was timed). */
  def tables(spark: SparkSession, sfDir: String, tag: String): Unit =
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[$tag] warm-up for table $t failed: ${e.getMessage}")
      }
    }

  /** A pass boundary: drop the session's memos and cached blocks, collect
    * the garbage, and rebuild the [[indexes]]. Passes, not back-to-back
    * per-query reps, because many queries memoize their whole result: a
    * second rep of such a query would "run" as a checkpoint read and its
    * real execution cost would vanish. After a boundary every query times
    * real execution against warm indexes. */
  def newPass(spark: SparkSession, sfDir: String, tag: String,
      only: Set[String] = Set.empty): Unit = {
    operators.ResultMemo.clearSession(spark)
    spark.sqlContext.clearCache()
    System.gc()
    indexes(spark, sfDir, tag, only)
  }
}
