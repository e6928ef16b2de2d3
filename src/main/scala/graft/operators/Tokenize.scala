package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real BPE tokenization over `documents` — training (t11) and corpus
  * application (t12). The reference counts tokens with a fixed external
  * tokenizer (`tiktoken` in `LLMxMapReduce_V2/src/utils/process_str.py`);
  * here the tokenizer itself is part of the engine, trained Spark-side on
  * the corpus it will tokenize (Sennrich et al. 2016).
  *
  * Scale shape: training iterates over the word-TYPE vocabulary (zipfian —
  * orders of magnitude smaller than the corpus), one pair-count aggregation
  * plus a 1-row argmax collect per merge, with the evolving symbol frame
  * lazy-checkpointed per round (the d07-style bounded driver loop).
  * Application never shuffles: the rank table broadcasts and every word
  * tokenizes row-locally in one codegen kernel ([[graft.functions.Bpe]]).
  * No SQL twin exists for either (iterative training / priority-merge
  * application), so both queries are fixture-pinned at sf0.01 after a
  * layout-independence check — integer counts and lexicographic
  * tie-breaks make training deterministic under any partitioning.
  */
object Tokenize {

  val MergeRounds = 16

  /** Learned merge rules, best first: (left, right, weight at merge time). */
  def trainMergesFrom(
      words: DataFrame, // word STRING, n LONG
      rounds: Int): Seq[(String, String, Long)] = {
    val spark = words.sparkSession
    var cur = words
      .select(col("word"), col("n"), split(col("word"), "").as("syms"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    (1 to rounds).foreach { _ =>
      if (!exhausted) {
        val top = cur
          .select(col("n"), expr(
            """transform(slice(syms, 1, size(syms) - 1),
               (x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))""")
            .as("ps"))
          .select(explode(col("ps")).as("p"), col("n"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, cnt) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += ((l, r, cnt))
          cur = cur
            .withColumn("syms",
              graft.functions.Bpe.mergePairCol(col("syms"), l, r))
            .localCheckpoint(false)
        }
      }
    }
    out.toSeq
  }

  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, Long)]]()

  /** Corpus-trained merge list, cached per sf dir (a production pipeline
    * trains once per corpus snapshot and ships the rank table). */
  def trainMerges(s: SparkSession, d: String): Seq[(String, String, Long)] =
    mergeCache.computeIfAbsent(d, _ =>
      trainMergesFrom(
        Tables.documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy("word").agg(count(lit(1)).as("n")),
        MergeRounds))

  def defs: Seq[QueryDef] = Seq(
    // The learned tokenizer itself: rank-ordered merge rules with the pair
    // frequency each rule had when chosen. Deterministic (integer counts,
    // (cnt desc, left, right) argmax), hence pinnable.
    QueryDef(
      "t11_bpe_train",
      covers = "T2 A2 north-star (tokenizer training)",
      oracle = Some("""
        -- regression pin (sf0.01): iterative BPE training, no SQL twin
        SELECT * FROM read_parquet('/root/repo/fixtures/t11_bpe_train.parquet')
        ORDER BY rank"""),
      build = (s, d) => {
        import s.implicits._
        trainMerges(s, d).zipWithIndex
          .map { case ((l, r, w), i) => (i + 1, l, r, l + r, w) }
          .toDF("rank", "left", "right", "merged", "weight")
          .orderBy("rank")
      }),

    // The trained tokenizer applied to the whole corpus: per document the
    // whitespace word count, the symbol (code point) count, the BPE token
    // count, and the compression the merges bought. Integer aggregates
    // only; the per-row division happens on the final bounded row.
    QueryDef(
      "t12_bpe_apply",
      covers = "T2 T11 north-star (tokenizer application)",
      oracle = Some("""
        -- regression pin (sf0.01): priority-merge application, no SQL twin
        SELECT * FROM read_parquet('/root/repo/fixtures/t12_bpe_apply.parquet')
        ORDER BY doc_id"""),
      build = (s, d) => {
        val ranks = trainMerges(s, d).zipWithIndex
          .map { case ((l, r, _), i) => (l, r) -> i }.toMap
        val bc = s.sparkContext.broadcast(ranks)
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .select(col("doc_id"),
            size(split(col("word"), "")).as("n_sym_w"),
            size(graft.functions.Bpe.tokenizeCol(col("word"), bc))
              .as("n_bpe_w"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sym_w")).cast("long").as("n_sym"),
            sum(col("n_bpe_w")).cast("long").as("n_bpe"))
          .select(col("doc_id"), col("n_words"), col("n_sym"), col("n_bpe"),
            round(col("n_bpe") * lit(1.0) / col("n_sym"), 6)
              .as("compression"))
          .orderBy("doc_id")
      })
  )
}
