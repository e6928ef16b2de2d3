package graft.pipeline

import graft.functions.TextFunctions
import graft.infer.{InferOps, InferenceClient, MockInference}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, StringType, StructField, StructType}

/** The V1 long-document QA pipeline re-expressed as a Spark plan
  * (SURVEY.md §3.1; reference /root/reference/LLMxMapReduce_V1/pipeline.py:30):
  *
  *   chunk → map → filter → collapse-loop → reduce
  *
  * Input: one row per (doc_id, question, text). Output: (doc_id, answer).
  *
  * The document is the unit of work, as in the reference: one
  * `mapPartitions` task runs every step for the documents of its
  * partition, so a request is one Spark job with no shuffle whatever the
  * number of collapse rounds. Scale-out is by document across tasks; each
  * step's prompts go through one [[InferOps.completeAll]] call, whose pool
  * gives the inference concurrency within a task. Each input row is
  * answered on its own (two rows with the same (doc_id, question) are two
  * answers); a document with empty or null text, or whose every MAP reply
  * the filter drops, yields no row.
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
    val in = docs.select("doc_id", "question", "text")
    val schema = StructType(Seq(in.schema("doc_id"), StructField("question", StringType),
      StructField("replies", ArrayType(StringType)), StructField("kept", BooleanType, false),
      StructField("answer", StringType)))
    val perDoc = in.mapPartitions(answerTask(_, client, cfg, auditDir.nonEmpty))(
      Encoders.row(schema))
    // S4: per-stage input/output audit log (cf. LLMxMapReduce_V1/
    // utils.py:30-46), written from one eager checkpoint of the run, which
    // the returned answers read too: each prompt is sent once
    val done = if (auditDir.isEmpty) perDoc else perDoc.localCheckpoint()
    val answers = done.filter(col("kept")).select("doc_id", "answer")
    auditDir.foreach { dir =>
      def write(stage: String, df: DataFrame): Unit =
        df.write.mode("overwrite").json(s"$dir/$stage")
      val mapped = done.select(col("doc_id"), col("question"),
        posexplode(col("replies")).as(Seq("chunk_idx", "response")))
      def field(name: String, re: String) = regexp_extract(col("response"), s"$name: ($re)", 1)
      write("map", mapped)
      // the structured-information protocol fields (qa.yaml:19-23)
      write("filter", mapped.filter(udf(keeps _).apply(col("response"), col("question")))
        .withColumn("extracted", field("Extracted Information", ".*"))
        .withColumn("answer", field("Answer", ".*"))
        .withColumn("confidence", field("Confidence Score", "\\d+").cast("int")))
      write("reduce", answers)
    }
    answers
  }

  /** The task body, over windows of documents of at most `BatchSize ×
    * MaxInflight` MAP prompts (the window of [[InferOps.complete]]), each
    * window's MAP prompts one [[InferOps.completeAll]] step: map
    * (A1), filter (F1), then [[collapseReduce]] over the documents that
    * kept a record (A2/W7/A3). Per document one row: its MAP replies in
    * chunk order (for the audit log only), whether it kept any, its answer. */
  private def answerTask(rows: Iterator[Row], client: InferenceClient,
      cfg: Config, withReplies: Boolean): Iterator[Row] = {
    // T2/T3: the token-budget chunker, with `chunkOverlap` tokens of each
    // chunk's predecessor repeated (Generator.py:234-299); null text is ""
    val docs = rows.map { r =>
      val t = Option(r.getString(2)).getOrElse("")
      (r.get(0), r.getString(1), if (cfg.chunkOverlap > 0)
        TextFunctions.chunkTextOverlap(t, cfg.chunkBudget, cfg.chunkOverlap)
        else TextFunctions.chunkText(t, cfg.chunkBudget))
    }.buffered
    val cap = InferOps.BatchSize * InferOps.MaxInflight
    Iterator.continually(docs).takeWhile(_.hasNext).flatMap { _ =>
      var w = Vector(docs.next())
      var n = w.head._3.size
      while (docs.hasNext && n + docs.head._3.size <= cap) {
        n += docs.head._3.size; w :+= docs.next()
      }
      // a null question makes a null prompt (SQL `concat`), which fails
      // in the client rather than asking about "null"
      val replies = InferOps.completeAll(w.flatMap { case (_, q, cs) =>
        cs.map(c => if (q == null) null else s"MAP|$q|$c") }, client).iterator
      val mapped = w.map { case (id, q, cs) =>
        val rs = cs.map(_ => replies.next())
        (id, q, rs, rs.filter(keeps(_, q)))
      }
      val open = mapped.filter(_._4.nonEmpty)
      val answers = collapseReduce(open.map(d => (d._2, d._4)), client, cfg).iterator
      mapped.map { case (id, q, rs, kept) =>
        Row(id, q, if (withReplies) rs else null, kept.nonEmpty,
          if (kept.nonEmpty) answers.next() else null)
      }
    }
  }

  private val AnswerField = "Answer: (.*)".r

  /** F1: keep a MAP reply unless its `Answer:` field names [[NoInfo]], or
    * when the question does; the Spark predicate `!upper(regexp_extract(
    * response, "Answer: (.*)", 1)).contains(NoInfo) || upper(question)
    * .contains(NoInfo)` under three-valued logic. */
  private[graft] def keeps(response: String, question: String): Boolean = {
    def namesNoInfo(s: String) = s != null && upper(s).contains(NoInfo)
    response != null && !namesNoInfo(AnswerField.findFirstMatchIn(response).fold("")(_.group(1))) ||
      namesNoInfo(question)
  }

  /** Spark's `upper`: ASCII-only strings map locale-free, any other string
    * through the default locale's full case mapping ('ı' → 'I', 'ß' → "SS"). */
  private def upper(s: String): String =
    if (s.forall(_ < 0x80)) s.toUpperCase(Locale.ROOT) else s.toUpperCase(Locale.getDefault)

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
}
