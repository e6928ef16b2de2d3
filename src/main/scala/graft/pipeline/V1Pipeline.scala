package graft.pipeline

import graft.functions.TextFunctions
import graft.infer.{InferOps, InferenceClient, MockInference}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The V1 long-document QA pipeline re-expressed as a Spark plan
  * (SURVEY.md §3.1; reference /root/reference/LLMxMapReduce_V1/pipeline.py:30):
  *
  *   chunk → map → filter → collapse-loop → reduce
  *
  * Input: one row per (doc_id, question, text). Output: (doc_id, answer).
  *
  * Spark shape: chunking is a generator expression (`posexplode` over a
  * chunker UDF); map is an embarrassingly-parallel batched inference pass
  * (no shuffle); collapse and reduce are FUSED into one per-document
  * operator: one `groupBy(doc_id, question)` gathers each document's kept
  * records, and one `mapPartitions` task runs every collapse round of its
  * documents and their REDUCE calls locally (the reference's `mr_collapse`
  * loops over one document until it fits — a per-document partial→final
  * aggregation, not a driver loop). A request is therefore two Spark jobs
  * (the map stage and the result stage), whatever the number of rounds.
  * At 100 TB every stage scales with partition count: the one shuffle keys
  * on the document, and per-task state is one partition's documents.
  */
object V1Pipeline {

  final case class Config(
      chunkBudget: Int = 256,      // tokens per chunk (map stage)
      chunkOverlap: Int = 0,       // tokens repeated from the previous chunk
      collapseBudget: Int = 512,   // token budget the collapsed set must fit
      binBudget: Int = 384,        // tokens per collapse bin
      maxCollapseIters: Int = 8)

  /** The irrelevance marker (cf. pipeline.py:10-27). */
  val NoInfo = "[NO INFORMATION]"

  def run(
      docs: DataFrame, // doc_id, question, text
      client: InferenceClient = new MockInference,
      cfg: Config = Config(),
      auditDir: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    registerChunker(spark, cfg.chunkBudget, cfg.chunkOverlap)
    // S4: per-stage input/output audit log (cf. LLMxMapReduce_V1/
    // utils.py:30-46) — side-output JSONL per stage when enabled
    def audit(stage: String, df: DataFrame): DataFrame = {
      auditDir.foreach(dir =>
        df.write.mode("overwrite").json(s"$dir/$stage"))
      df
    }

    // ---- chunk (T2/T3): generator expression, one row per chunk
    val chunks = docs.select(
      col("doc_id"), col("question"),
      posexplode(expr("graft_chunk(text)")).as(Seq("chunk_idx", "chunk")))

    // ---- map (A1): batched inference, no shuffle
    val mapped = audit("map", InferOps.complete(
      chunks.withColumn("prompt",
        concat(lit("MAP|"), col("question"), lit("|"), col("chunk"))),
      "prompt", "response", client)
      .select(col("doc_id"), col("question"), col("chunk_idx"),
        col("response")))

    // ---- filter (F1): drop [NO INFORMATION] unless the question asks for it
    val parsed = withProtocolFields(mapped)
    val kept = audit("filter", parsed.filter(
      !upper(col("answer")).contains(NoInfo) ||
        upper(col("question")).contains(NoInfo)))

    // ---- collapse + reduce (A2/W7/A3), fused per document: one shuffle
    // gathers each document's kept records, then each task runs the
    // collapse rounds and REDUCE calls of its documents
    val grouped = kept
      .groupBy("doc_id", "question")
      .agg(collect_list(struct(col("chunk_idx"), col("response"))).as("recs"))
    val outSchema = StructType(Seq(
      grouped.schema("doc_id"), StructField("answer", StringType)))
    audit("reduce", grouped.mapPartitions { rows =>
      val docs = rows.map(r => (r.get(0), r.getString(1),
        r.getSeq[Row](2).sortBy(_.getInt(0)).map(_.getString(1)))).toVector
      collapseReduce(docs.map(d => (d._2, d._3)), client, cfg)
        .lazyZip(docs).map((answer, d) => Row(d._1, answer)).iterator
    }(Encoders.row(outSchema)))
  }

  private val Sep = "\n---\n"

  /** The fused task body over (question, records in chunk order) per
    * document: while a document's records exceed `collapseBudget`, and for
    * at most `maxCollapseIters` rounds, pack them into greedy `binBudget`
    * bins ([[TextFunctions.packBins]]) and replace them by one COLLAPSE
    * reply per bin; then REDUCE every document. Each round's COLLAPSE
    * prompts of all open documents, and then the REDUCE prompts, go through
    * [[InferOps.completeAll]]. Returns the answer per document. */
  private[graft] def collapseReduce(
      docs: Seq[(String, Seq[String])],
      client: InferenceClient,
      cfg: Config): Seq[String] = {
    val recs = docs.map(_._2).toArray
    def fits(i: Int): Boolean =
      recs(i).iterator.map(r => codePoints(r) / TextFunctions.TokenRatio).sum <=
        cfg.collapseBudget
    var open = recs.indices.filterNot(fits)
    var round = 0
    while (round < cfg.maxCollapseIters && open.nonEmpty) {
      val bins = open.map { i =>
        val ids = TextFunctions.packBins(recs(i).map(tokens), cfg.binBudget)
        i -> recs(i).zip(ids).groupMap(_._2)(_._1).toSeq.sortBy(_._1)
          .map(_._2.mkString(Sep))
      }
      val replies = InferOps.completeAll(
        bins.flatMap(_._2).map("COLLAPSE|" + _), client).iterator
      bins.foreach { case (i, bs) => recs(i) = bs.map(_ => replies.next()) }
      open = open.filterNot(fits)
      round += 1
    }
    InferOps.completeAll(docs.indices.map(i =>
      s"REDUCE|${docs(i)._1}|${recs(i).mkString(Sep)}"), client)
  }

  /** Spark `length` counts code points, not UTF-16 units. */
  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

  /** A record's bin length: `ceil(length(response) / TokenRatio)`. */
  private def tokens(s: String): Int =
    math.ceil(codePoints(s) / TextFunctions.TokenRatio).toInt

  /** Parse the structured-information protocol fields out of a response
    * (Extracted Information / Answer / Confidence Score — qa.yaml:19-23). */
  def withProtocolFields(df: DataFrame): DataFrame =
    df.withColumn("extracted",
        regexp_extract(col("response"), "Extracted Information: (.*)", 1))
      .withColumn("answer",
        regexp_extract(col("response"), "Answer: (.*)", 1))
      .withColumn("confidence",
        regexp_extract(col("response"), "Confidence Score: (\\d+)", 1)
          .cast("int"))

  /** Register the chunker as a SQL-callable UDF (array generator). With
    * `overlap` > 0 each chunk after the first repeats the last `overlap`
    * tokens of its predecessor (T3 — the reference's separator-aware packing
    * with overlap, Generator.py:234-299), giving the map stage cross-chunk
    * context at the cost of `overlap/budget` duplicated tokens. */
  private def registerChunker(
      spark: SparkSession, budget: Int, overlap: Int = 0): Unit =
    spark.udf.register("graft_chunk",
      (text: String) => {
        val t = Option(text).getOrElse("")
        if (overlap > 0)
          graft.functions.TextFunctions.chunkTextOverlap(t, budget, overlap)
        else graft.functions.TextFunctions.chunkText(t, budget)
      })
}
