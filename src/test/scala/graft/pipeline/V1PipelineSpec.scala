package graft.pipeline

import graft.SparkTestBase
import graft.infer.{MockInference, RetryingClient, InferenceClient}
import graft.operators.Packing
import graft.obs.Telemetry

/** End-to-end V1 pipeline on mock inference: a passkey planted deep in a
  * long synthetic document must surface through chunk → map → filter →
  * collapse → reduce (the Retrieve.PassKey shape the reference evaluates
  * on InfiniteBench). */
class V1PipelineSpec extends SparkTestBase {

  private def longDoc(passkey: String, planted: Int, total: Int = 120): String =
    (0 until total).map { i =>
      if (i == planted) s"para $i filler text ANSWER[$passkey] more filler."
      else s"para $i filler text with no signal at all, just noise words."
    }.mkString("\n")

  test("passkey retrieval end-to-end with collapse loop") {
    import spark.implicits._
    val docs = Seq(
      ("d1", "What is the passkey?", longDoc("opal-791", planted = 57)),
      ("d2", "What is the passkey?", longDoc("zinc-443", planted = 101)),
      ("d3", "What is the passkey?", longDoc("iron-022", planted = 3)))
      .toDF("doc_id", "question", "text")

    val out = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 24, collapseBudget = 200, binBudget = 120))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    assert(out("d1") == "opal-791")
    assert(out("d2") == "zinc-443")
    assert(out("d3") == "iron-022")
  }

  test("multiple surviving chunks drive the collapse loop and still reduce") {
    import spark.implicits._
    // plant the same passkey in 6 separate paragraphs → 6 chunks survive the
    // filter; a tight collapse budget forces bin-merge iterations
    val text = (0 until 60).map { i =>
      if (i % 10 == 0) s"para $i has ANSWER[gold-555] inside this line."
      else s"para $i is only filler noise without any signal."
    }.mkString("\n")
    val docs = Seq(("dm", "What is the passkey?", text))
      .toDF("doc_id", "question", "text")
    val out = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 16, collapseBudget = 40, binBudget = 30,
        maxCollapseIters = 4))
      .collect()
    assert(out.length == 1 && out.head.getString(1) == "gold-555")
  }

  test("doc with no signal reduces to [NO INFORMATION]") {
    import spark.implicits._
    val docs = Seq(("d0", "What is the passkey?", longDoc("x", planted = -1)))
      .toDF("doc_id", "question", "text")
    val out = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 24, collapseBudget = 200, binBudget = 120))
      .collect()
    // every chunk filtered; doc disappears (the reference emits nothing too)
    assert(out.isEmpty || out.head.getString(1) == V1Pipeline.NoInfo)
  }

  test("InfiniteBench-sized document (~250KB) retrieves through the full pipeline") {
    import spark.implicits._
    // ~2500 paragraphs ≈ 250KB, passkey buried deep (the Retrieve.PassKey
    // shape at realistic document size)
    val docs = Seq(("big", "What is the passkey?",
      longDoc("deep-314159", planted = 2111, total = 2500)))
      .toDF("doc_id", "question", "text")
    val out = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 512, collapseBudget = 800, binBudget = 600))
      .collect()
    assert(out.length == 1 && out.head.getString(1) == "deep-314159")
  }

  test("chunkOverlap config binds the overlap chunker (T3) and still retrieves") {
    import spark.implicits._
    val docs = Seq(
      ("o1", "What is the passkey?", longDoc("opal-791", planted = 57)))
      .toDF("doc_id", "question", "text")
    val out = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 24, chunkOverlap = 4,
        collapseBudget = 200, binBudget = 120))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("o1") == "opal-791")
    // the run left graft_chunk bound to the overlap variant: each chunk
    // after the first starts with its predecessor's last `overlap` tokens,
    // and dropping that prefix reconstructs the document
    val chunks = spark.sql(
      s"SELECT graft_chunk('${longDoc("k", planted = -1, total = 20).replace("'", "")}') AS c")
      .collect().head.getSeq[String](0)
    assert(chunks.length > 1)
    chunks.sliding(2).foreach { case Seq(prev, next) =>
      val pt = prev.split("\\s+").filter(_.nonEmpty)
      val nt = next.split("\\s+").filter(_.nonEmpty)
      assert(nt.take(4).toSeq == pt.takeRight(4).toSeq)
    }
  }

  test("audit sink writes per-stage JSONL side outputs (S4)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_").toString
    val docs = Seq(("a1", "What is the passkey?", longDoc("gem-007", planted = 7)))
      .toDF("doc_id", "question", "text")
    V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 24), auditDir = Some(dir)).collect()
    Seq("map", "filter", "reduce").foreach { st =>
      assert(spark.read.json(s"$dir/$st").count() > 0, s"stage $st missing")
    }
  }

  test("a document that fits sends no COLLAPSE prompt while another collapses") {
    import spark.implicits._
    val big = (0 until 60).map { i =>
      if (i % 10 == 0) s"para $i has ANSWER[big-1] inside this line."
      else s"para $i is only filler noise without any signal."
    }.mkString("\n")
    val docs = Seq(
      ("fit", "What is the passkey?", longDoc("fit-2", planted = 7, total = 20)),
      ("big", "What is the passkey?", big))
      .toDF("doc_id", "question", "text")
    V1PipelineSpec.prompts.clear()
    val out = V1Pipeline.run(docs, new V1PipelineSpec.Recording,
      V1Pipeline.Config(chunkBudget = 16, collapseBudget = 40, binBudget = 30))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("fit" -> "fit-2", "big" -> "big-1"))
    val collapse = V1PipelineSpec.sent("COLLAPSE|")
    assert(collapse.nonEmpty && collapse.forall(_.contains("big-1")),
      s"only the oversized document collapses: $collapse")
    assert(V1PipelineSpec.sent("REDUCE|").size == 2)
  }

  test("records are binned by code points, the same as Spark length") {
    import spark.implicits._
    // 21 code points, 41 UTF-16 units: 6 tokens by code points (two fit a
    // 12-token bin), 12 by UTF-16 units (one per bin)
    val recs = (0 until 4).map(i => "\uD83D\uDE00" * 20 + i)
    val sparkBins = Packing.packTextBins(
      recs.zipWithIndex.map { case (r, i) => ("d", i, r) }
        .toDF("doc_id", "chunk_idx", "response"),
      "doc_id", Seq("chunk_idx"), "response", 12)
      .collect().groupBy(_.getLong(3)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getString(2)).mkString("\n---\n"))
    assert(sparkBins.size == 2)
    V1PipelineSpec.prompts.clear()
    V1Pipeline.collapseReduce(Seq(("q", recs)), new V1PipelineSpec.Recording,
      V1Pipeline.Config(collapseBudget = 10, binBudget = 12, maxCollapseIters = 1))
    assert(V1PipelineSpec.sent("COLLAPSE|").sorted ==
      sparkBins.map("COLLAPSE|" + _).sorted)
    // 4 x 21 / 3.6875 = 22.8 tokens fit a budget of 30 (UTF-16: 44.5)
    V1PipelineSpec.prompts.clear()
    V1Pipeline.collapseReduce(Seq(("q", recs)), new V1PipelineSpec.Recording,
      V1Pipeline.Config(collapseBudget = 30, binBudget = 12))
    assert(V1PipelineSpec.sent("COLLAPSE|").isEmpty)
  }

  test("a two-document request runs in at most 3 Spark jobs") {
    import spark.implicits._
    val docs = Seq(
      ("j1", "What is the passkey?", longDoc("opal-791", planted = 57)),
      ("j2", "What is the passkey?", longDoc("zinc-443", planted = 101)))
      .toDF("doc_id", "question", "text")
    val (out, p) = Telemetry(spark).measure("v1")(V1Pipeline.run(docs,
      new MockInference,
      V1Pipeline.Config(chunkBudget = 24, collapseBudget = 60, binBudget = 40))
      .collect())
    assert(out.length == 2)
    val n = p.jobs.size
    assert(n >= 1 && n <= 3, s"$n Spark jobs for one request")
  }

  test("retrying client recovers from transient failures") {
    var calls = 0
    val flaky = new InferenceClient {
      override def complete(p: String): String = {
        calls += 1
        if (calls % 3 != 0) throw new RuntimeException("transient")
        s"ok:$p"
      }
    }
    val c = new RetryingClient(flaky, attempts = 5, baseDelayMs = 1)
    assert(c.complete("x") == "ok:x")
  }
}

object V1PipelineSpec {
  /** Every prompt a [[Recording]] client sent. JVM-static: task closures
    * deserialize their own client copies in the same local JVM. */
  val prompts = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def sent(prefix: String): Seq[String] =
    prompts.toArray.toSeq.map(_.toString).filter(_.startsWith(prefix))

  final class Recording extends InferenceClient {
    private val mock = new MockInference
    override def complete(p: String): String = {
      prompts.add(p)
      mock.complete(p)
    }
  }
}
