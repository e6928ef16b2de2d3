package graft.pipeline

import graft.SparkTestBase
import graft.infer.{InferOps, MockInference, RetryingClient, InferenceClient}
import graft.infer.InferOpsSpec.Slow
import graft.operators.Packing
import graft.obs.Telemetry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  private def docsDF(rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "question", "text")
  }

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
    V1PipelineSpec.prompts.clear()
    val out = V1Pipeline.run(docs, new V1PipelineSpec.Recording,
      V1Pipeline.Config(chunkBudget = 24, chunkOverlap = 4,
        collapseBudget = 200, binBudget = 120))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("o1") == "opal-791")
    // the MAP prompts carry the overlap chunks: each chunk after the first
    // starts with its predecessor's last `overlap` tokens. Batches reply
    // concurrently, so order the chunks by the first paragraph each one
    // starts (the 4-token prefixes never name a paragraph).
    val para = "para (\\d+)".r
    val chunks = V1PipelineSpec.sent("MAP|")
      .map(_.stripPrefix("MAP|What is the passkey?|"))
      .sortBy(c => para.findFirstMatchIn(c).get.group(1).toInt)
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

  test("audit mode sends every prompt exactly as often as a plain run") {
    val multi = (0 until 60).map { i =>
      if (i % 10 == 0) s"para $i has ANSWER[gold-555] inside this line."
      else s"para $i is only filler noise without any signal."
    }.mkString("\n")
    val docs = docsDF(Seq(
      ("a1", "What is the passkey?", longDoc("gem-007", planted = 7)),
      ("a2", "What is the passkey?", multi)))
    val cfg = V1Pipeline.Config(chunkBudget = 16, collapseBudget = 40, binBudget = 30)
    def logged(auditDir: Option[String]): (Set[String], Map[String, Int]) = {
      V1PipelineSpec.prompts.clear()
      val rows = V1Pipeline.run(docs, new V1PipelineSpec.Recording, cfg, auditDir)
        .collect().map(_.toString).toSet
      (rows, V1PipelineSpec.sent("").groupBy(identity).map { case (p, ps) => p -> ps.size })
    }
    val (plainRows, plain) = logged(None)
    assert(plain.keys.exists(_.startsWith("COLLAPSE|")))
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_").toString
    val (auditRows, audited) = logged(Some(dir))
    assert(auditRows == plainRows)
    val resent = audited.filter { case (p, n) => n != plain.getOrElse(p, 0) }
    assert(resent.isEmpty && audited.keySet == plain.keySet,
      s"${resent.size} prompts sent a different number of times: " +
        resent.map { case (p, n) => s"${p.take(40)} x$n" }.take(5))
    // the side outputs hold the rows of that one run
    def count(stage: String) = spark.read.json(s"$dir/$stage").count()
    val maps = plain.filter(_._1.startsWith("MAP|"))
    assert(count("map") == maps.values.sum)
    assert(count("filter") == maps.filter(_._1.contains("ANSWER[")).values.sum)
    // the filter log carries the parsed protocol fields (qa.yaml:19-23)
    val filtered = spark.read.json(s"$dir/filter")
    assert(filtered.columns.toSet == Set("doc_id", "question", "chunk_idx", "response",
      "extracted", "answer", "confidence"))
    assert(filtered.select("answer").distinct().collect().map(_.getString(0)).toSet ==
      Set("gem-007", "gold-555"))
    assert(filtered.select("extracted", "confidence").collect().forall(r =>
      r.getString(0).startsWith("ANSWER[") && r.getLong(1) == 5L))
    assert(spark.read.json(s"$dir/reduce").select("doc_id", "answer").collect()
      .map(_.toString).toSet == plainRows)
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

  test("the in-task filter keeps exactly the rows Spark's predicate keeps (F1)") {
    import spark.implicits._
    val answers = Seq(null, "x", "[NO INFORMATION]", "[no information]",
      "[no \u0131nformat\u0131on]", "[NO \u0130NFORMAT\u0130ON]", "\u017f[no information]",
      "\u00df[No Information]\u00df", "[no in\ufb01ormation]", "\ufb01", "\u0130", "\u0131")
    val responses = answers.map(a => if (a == null) null else MockInference.format("", a, 1)) ++
      Seq("no answer field", "Answer: x\u2028[NO INFORMATION]",
        "Answer: [no information]\r\nConfidence Score: 1",
        "Answer: ok\nAnswer: [NO INFORMATION]")
    val questions = Seq(null, "What is the passkey?", "say [no information]",
      "SAY [NO \u0131NFORMAT\u0131ON]", "\u00df?", "\u0130s there [no information]")
    val pairs = for (r <- responses; q <- questions) yield (r, q)
    val rows = pairs.zipWithIndex.map { case ((r, q), i) => (i, r, q) }
      .toDF("i", "response", "question").repartition(2)
    val sparkKept = rows.filter(
      !upper(regexp_extract(col("response"), "Answer: (.*)", 1)).contains(V1Pipeline.NoInfo) ||
        upper(col("question")).contains(V1Pipeline.NoInfo))
      .select("i").as[Int].collect().toSet
    val kept = pairs.indices.filter(i => V1Pipeline.keeps(pairs(i)._1, pairs(i)._2)).toSet
    assert(kept == sparkKept, pairs.indices.filter(i => kept(i) != sparkKept(i)).map(pairs))
    assert(sparkKept.nonEmpty && sparkKept.size < pairs.size)
    // 'ı' upper-cases to 'I', so a dotless marker is the marker
    assert(!V1Pipeline.keeps(MockInference.format("", "[no \u0131nformat\u0131on]", 1), "q"))
  }

  test("a two-document request runs in exactly 1 Spark job") {
    import spark.implicits._
    val docs = Seq(
      ("j1", "What is the passkey?", longDoc("opal-791", planted = 57)),
      ("j2", "What is the passkey?", longDoc("zinc-443", planted = 101)))
      .toDF("doc_id", "question", "text")
    val answers = V1Pipeline.run(docs, new MockInference,
      V1Pipeline.Config(chunkBudget = 24, collapseBudget = 60, binBudget = 40))
    val (out, p) = Telemetry(spark).measure("v1")(answers.collect())
    assert(out.length == 2)
    assert(p.jobs.size == 1, s"${p.jobs.size} Spark jobs for one request")
    assert(p.shuffleBytes == 0L)
    val plan = answers.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
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

  // ---- the fused task against values recorded on the stage-per-job plan

  /** A perfbench-shaped document (perfbench/gen.py `long_document`):
    * seeded filler words cut to `chars`, with the needle sentence
    * inserted at one jittered depth per equal slice. */
  private def needleDoc(seed: Long, key: String, chars: Int = 24000,
      needles: Int = 24): String = {
    val rng = new scala.util.Random(seed)
    val vocab = Seq("stream", "window", "state", "join", "shuffle", "task",
      "batch.", "record", "merge", "plan", "query", "index.", "vector",
      "token", "model", "survey", "section", "paper.", "digest", "outline")
    val hay = Iterator.continually(vocab(rng.nextInt(vocab.size)))
      .scanLeft("")((acc, w) => if (acc.isEmpty) w else acc + " " + w)
      .dropWhile(_.length < chars).next().take(chars)
    val words = hay.split(" ").toBuffer
    (0 until needles).map(i => (i + 0.25 + 0.5 * rng.nextDouble()) / needles)
      .sorted.reverse
      .foreach(d => words.insert((d * words.size).toInt, s"The pass key is ANSWER[$key]."))
    words.mkString(" ")
  }

  /** name -> (documents, config, passkey per document). */
  private lazy val goldenFixtures
      : Seq[(String, Seq[(String, String, String)], V1Pipeline.Config, Map[String, String])] = {
    val q = "What is the passkey?"
    val multi = (0 until 60).map { i =>
      if (i % 10 == 0) s"para $i has ANSWER[gold-555] inside this line."
      else s"para $i is only filler noise without any signal."
    }.mkString("\n")
    val big = multi.replace("gold-555", "big-1")
    Seq(
      ("passkey", Seq(("d1", q, longDoc("opal-791", 57)), ("d2", q, longDoc("zinc-443", 101)),
        ("d3", q, longDoc("iron-022", 3))),
        V1Pipeline.Config(chunkBudget = 24, collapseBudget = 200, binBudget = 120),
        Map("d1" -> "opal-791", "d2" -> "zinc-443", "d3" -> "iron-022")),
      ("multi", Seq(("dm", q, multi)),
        V1Pipeline.Config(chunkBudget = 16, collapseBudget = 40, binBudget = 30,
          maxCollapseIters = 4), Map("dm" -> "gold-555")),
      ("fitbig", Seq(("fit", q, longDoc("fit-2", 7, 20)), ("big", q, big)),
        V1Pipeline.Config(chunkBudget = 16, collapseBudget = 40, binBudget = 30),
        Map("fit" -> "fit-2", "big" -> "big-1")),
      ("overlap", Seq(("o1", q, longDoc("opal-791", 57))),
        V1Pipeline.Config(chunkBudget = 24, chunkOverlap = 4, collapseBudget = 200,
          binBudget = 120), Map("o1" -> "opal-791")),
      ("noinfo", Seq(("d0", q, longDoc("x", -1))),
        V1Pipeline.Config(chunkBudget = 24, collapseBudget = 200, binBudget = 120), Map()),
      // a question that names the marker keeps every record; empty and
      // null text yield no row
      ("edge", Seq(("e1", "Say [no information] if unsure", longDoc("edge-1", 7, 30)),
        ("e2", q, ""), ("e3", q, null)),
        V1Pipeline.Config(chunkBudget = 24, collapseBudget = 200, binBudget = 120),
        Map("e1" -> "edge-1")),
      ("perfbench", Seq(("p1", "What is the pass key?", needleDoc(11L, "40417")),
        ("p2", "What is the pass key?", needleDoc(12L, "77302"))),
        V1Pipeline.Config(chunkBudget = 64, collapseBudget = 128, binBudget = 96),
        Map("p1" -> "40417", "p2" -> "77302")))
  }

  /** Run V1 over `docs` with a [[V1PipelineSpec.Recording]] client:
    * "config/doc/KIND" -> "n:hash" per prompt kind, a prompt belonging to
    * the document whose passkey it names ("shared" when it names none),
    * plus "config/rows". */
  private def goldenLog(config: String, docs: DataFrame, cfg: V1Pipeline.Config,
      keys: Map[String, String],
      wrap: InferenceClient => InferenceClient = identity): Map[String, String] = {
    V1PipelineSpec.prompts.clear()
    val rows = V1Pipeline.run(docs, wrap(new V1PipelineSpec.Recording), cfg).collect()
    val byDoc = V1PipelineSpec.sent("").groupBy { p =>
      val owners = keys.collect { case (d, k) if p.contains(k) => d }
      assert(owners.size <= 1, s"prompt names documents $owners: $p")
      s"${owners.headOption.getOrElse("shared")}/${p.takeWhile(_ != '|')}"
    }
    byDoc.map { case (k, ps) =>
      s"$config/$k" -> s"${ps.size}:${V2PipelineSpec.sha(ps.sorted)}"
    } + (s"$config/rows" -> V2PipelineSpec.sha(rows.map(_.toString).sorted.toSeq))
  }

  /** Recorded on the stage-per-job plan this replaced (chunk UDF, batched
    * MAP, groupBy shuffle, fused collapse): per document and prompt kind,
    * the prompt count and the first 16 hex digits of the SHA-256 of that
    * kind's sorted prompts; per fixture, of the sorted output rows. */
  private val golden: Map[String, String] = Map(
    "edge/e1/COLLAPSE" -> "1:793d625bda36356b",
    "edge/e1/MAP" -> "1:fe1a3a4345d53f74",
    "edge/e1/REDUCE" -> "1:d7476d3610eb045c",
    "edge/rows" -> "66b733924473f13f",
    "edge/shared/COLLAPSE" -> "2:d723caf612f40b72",
    "edge/shared/MAP" -> "14:95eac69fdf85fb70",
    "fitbig/big/COLLAPSE" -> "48:48282f9cbd46ed69",
    "fitbig/big/MAP" -> "6:0f54eb91b5bcd90e",
    "fitbig/big/REDUCE" -> "1:0711a11a44bbb483",
    "fitbig/fit/MAP" -> "1:426806d0748fddda",
    "fitbig/fit/REDUCE" -> "1:15dbced75f817bd9",
    "fitbig/rows" -> "2d8b33aa499a8963",
    "fitbig/shared/MAP" -> "67:b22c8efe704ad699",
    "multi/dm/COLLAPSE" -> "24:938cff675614b6c8",
    "multi/dm/MAP" -> "6:1e5568ac96f20531",
    "multi/dm/REDUCE" -> "1:062931c35c0af6fd",
    "multi/rows" -> "8923049415585c55",
    "multi/shared/MAP" -> "48:697f7cc6c83ff195",
    "noinfo/rows" -> "e3b0c44298fc1c14",
    "noinfo/shared/MAP" -> "60:e5b65617e75c2572",
    "overlap/o1/MAP" -> "2:ae754b3d23f8e901",
    "overlap/o1/REDUCE" -> "1:77a5c90099008e58",
    "overlap/rows" -> "d46a14df19b4e28b",
    "overlap/shared/MAP" -> "117:a8380932b6e65b7a",
    "passkey/d1/MAP" -> "1:92b1eecf7a16a646",
    "passkey/d1/REDUCE" -> "1:c78b37a8c15867da",
    "passkey/d2/MAP" -> "1:aed738e3e7be98b3",
    "passkey/d2/REDUCE" -> "1:29dfdecb67f4dcd9",
    "passkey/d3/MAP" -> "1:847282793d68aaf7",
    "passkey/d3/REDUCE" -> "1:58259b69a637b668",
    "passkey/rows" -> "4f3d12afdd8a16bc",
    "passkey/shared/MAP" -> "177:6fc9bcd4023f422b",
    "perfbench/p1/COLLAPSE" -> "10:b5bc7ea361d947b6",
    "perfbench/p1/MAP" -> "24:8ae44c1bc2e39571",
    "perfbench/p1/REDUCE" -> "1:daf33f5b8c9bce99",
    "perfbench/p2/COLLAPSE" -> "10:db10446408bd6c4b",
    "perfbench/p2/MAP" -> "24:ee5d8c8d5466ac9c",
    "perfbench/p2/REDUCE" -> "1:27c4414ecbfa71b2",
    "perfbench/rows" -> "8d287903d980a388",
    "perfbench/shared/MAP" -> "81:9573887ad1b95e26")

  private def goldenRun(label: String, shape: DataFrame => DataFrame): Unit = {
    val got = goldenFixtures.flatMap { case (name, docs, cfg, keys) =>
      goldenLog(name, shape(docsDF(docs)), cfg, keys) }.toMap
    assert(got == golden, s"$label: " +
      (got.toSet diff golden.toSet).toSeq.sorted.mkString("\n"))
  }

  test("golden prompt log: every document sends the recorded prompts and gets the recorded rows") {
    goldenRun("as given", identity)
  }

  test("rows and per-document prompts do not depend on partitioning or AQE") {
    val key = "spark.sql.adaptive.enabled"
    goldenRun("one partition", _.coalesce(1))
    goldenRun("repartition(4)", _.repartition(4))
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try goldenRun("repartition(1), AQE off", _.repartition(1))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Walk `e`'s cause chain. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a two-document request keeps 1 + MaxInflight / 2 calls in flight a task, at most 2 + MaxInflight in all") {
    val (name, docs, cfg, keys) = goldenFixtures.find(_._1 == "perfbench").get
    val df = docsDF(docs)
    assert(df.rdd.getNumPartitions == 2)
    Slow.reset()
    val got = goldenLog(name, df, cfg, keys, new Slow(50, _))
    val want = golden.filter(_._1.startsWith(s"$name/"))
    assert(got == want, (got.toSet diff want.toSet).toSeq.sorted.mkString("\n"))
    assert(Slow.max.get <= 2 + InferOps.MaxInflight, s"max in flight ${Slow.max.get}")
    // each document's MAP step (about 90 prompts) fills its task's share
    assert(Slow.maxByTask == Map(0 -> (1 + InferOps.MaxInflight / 2),
      1 -> (1 + InferOps.MaxInflight / 2)), Slow.maxByTask)
  }

  test("a failing MAP batch fails the action with its class and message") {
    val docs = docsDF(Seq(("f1", "What is the passkey?", longDoc("k-1", planted = 3))))
    val e = intercept[Throwable] {
      V1Pipeline.run(docs, new V2PipelineSpec.FailOn("MAP|")).collect()
    }
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "boom"), e)
  }

  test("a null question fails the action in the client, not as a MAP|null| prompt") {
    val docs = docsDF(Seq(("n1", null: String, longDoc("k-1", planted = 3, total = 10))))
    val e = intercept[Throwable] {
      V1Pipeline.run(docs, new MockInference).collect()
    }
    assert(causes(e).exists(_.isInstanceOf[NullPointerException]), e)
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
