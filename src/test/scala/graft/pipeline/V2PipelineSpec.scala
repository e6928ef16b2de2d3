package graft.pipeline

import graft.SparkTestBase
import graft.infer.{InferOps, InferenceClient, MockInference}
import graft.infer.InferOpsSpec.Slow
import org.apache.spark.sql.functions._

/** End-to-end V2 survey pipeline on mock inference: 2 surveys × 3 papers
  * through encode → group → skeleton → digest → refine block → decode
  * (the t1 smoke shape from SURVEY.md §5.5). */
class V2PipelineSpec extends SparkTestBase {

  private def fixture = {
    import spark.implicits._
    def paper(t: String) =
      (t, s"# Intro\nBody of $t with several findings and details.")
    Seq(
      ("s1", "Stream Processing",
        Seq(paper("Pipelined Dataflow"), paper("Windowed Aggregation"),
          paper("State Stores"))),
      ("s2", "Vector Search",
        Seq(paper("LSH Methods"), paper("Graph ANN"))))
      .toDF("survey_id", "title", "papers")
      .withColumn("papers", col("papers").cast(
        "array<struct<title:string,txt:string>>"))
  }

  test("encode explodes papers and slugs bibkeys (S1/S2/F2)") {
    val papers = V2Pipeline.encode(fixture).collect()
      .flatMap(_.getSeq[org.apache.spark.sql.Row](2))
    assert(papers.length == 5)
    val keys = papers.map(_.getString(2)).toSet
    assert(keys.contains("pipelined-dataflow") && keys.contains("graph-ann"))
    // F2: empty papers drop out, and so does a survey left with none
    val blanked = fixture
      .withColumn("papers", expr("""CASE WHEN survey_id = 's1'
        THEN concat(papers, array(named_struct('title', 'Blank', 'txt', '')))
        ELSE transform(papers, p -> named_struct('title', p.title, 'txt', '')) END"""))
      .withColumn("survey_id", concat(col("survey_id"), lit("-blank")))
    val counts = V2Pipeline.run(fixture.union(blanked)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(counts == Map("s1" -> 3L, "s2" -> 2L, "s1-blank" -> 3L))
  }

  test("grouping is a balanced round-robin (X3)") {
    val groups = V2Pipeline.roundRobin(Seq("d", "b", "e", "a", "c"), 2)
    // ranks by bibkey: a0 b1 c0 d1 e0
    assert(groups == Seq(1, 1, 0, 0, 0))
    assert(groups.groupBy(identity).values.map(_.size).toSet == Set(2, 3))
  }

  test("full pipeline produces cited, assembled surveys") {
    val out = V2Pipeline.run(fixture, new MockInference,
      V2Pipeline.Config(nGroups = 2, blockCount = 1, convLayers = 2,
        kernelWidth = 2, poolSize = 3))
      .collect().map(r => r.getAs[String]("survey_id") -> r).toMap

    assert(out.keySet == Set("s1", "s2"))
    val s1 = out("s1")
    val content = s1.getAs[String]("content")
    // all skeleton sections present in assembled content
    assert(content.contains("Prose for"))
    assert(content.contains("[polished]"))
    // citations re-keyed to numeric indices (J2)
    assert("\\[\\d+(, \\d+)*\\]".r.findFirstIn(content).isDefined)
    assert(!content.matches("(?s).*\\[pipelined-dataflow.*"))
    // cite ratio in (0, 1] (A8)
    val ratio = s1.getAs[Double]("cite_ratio")
    assert(ratio > 0.0 && ratio <= 1.0)
    // refine block ran: skeleton carries the MODIFY marker
    assert(s1.getAs[String]("skeleton_md").contains("refined-"))
    // chart node injected a mermaid figure near its section (J7/T14)
    assert(content.contains("```mermaid"))
    assert(content.contains("**Overview of "))
  }

  test("markdown exports write per-survey content.md + skeleton.md (S8)") {
    val out = java.nio.file.Files.createTempDirectory("graft_md_").toString
    val result = V2Pipeline.run(fixture, new MockInference,
      V2Pipeline.Config(nGroups = 2, blockCount = 0, convLayers = 1))
    V2Pipeline.writeMarkdownExports(result, out)
    Seq("s1", "s2").foreach { sid =>
      val content = java.nio.file.Files.readString(
        java.nio.file.Paths.get(out, sid, "content.md"))
      val skel = java.nio.file.Files.readString(
        java.nio.file.Paths.get(out, sid, "skeleton.md"))
      assert(content.nonEmpty && skel.startsWith("#"))
    }
  }

  test("refine loop skips re-digest when heading structure is unchanged") {
    V2PipelineSpec.digestCalls.set(0)
    val out = V2Pipeline.run(fixture, new V2PipelineSpec.CountingMock(false),
      V2Pipeline.Config(nGroups = 2, blockCount = 1))
    out.collect()
    // 5 papers; the mock's MODIFY refines prose only (no heading change),
    // so the post-refine digest pass must be skipped: exactly one DIGEST
    // call per paper for the whole run
    assert(V2PipelineSpec.digestCalls.get() == 5,
      s"expected 5 DIGEST calls (one pass), got ${V2PipelineSpec.digestCalls.get()}")
  }

  test("refine loop re-digests surveys whose heading structure changes") {
    V2PipelineSpec.digestCalls.set(0)
    val out = V2Pipeline.run(fixture, new V2PipelineSpec.CountingMock(true),
      V2Pipeline.Config(nGroups = 2, blockCount = 1))
    out.collect()
    // s1 (3 papers) gets a heading change on MODIFY and re-digests; s2
    // (2 papers) keeps its first-pass digests: 5 + 3
    assert(V2PipelineSpec.digestCalls.get() == 8,
      s"expected 5+3 DIGEST calls, got ${V2PipelineSpec.digestCalls.get()}")
  }

  test("every WRITE and POLISH prompt is sent once per run") {
    V2PipelineSpec.sections.clear()
    val out = V2Pipeline.run(fixture, new V2PipelineSpec.CountingMock(false),
      V2Pipeline.Config(nGroups = 2, blockCount = 1)).collect()
    assert(out.length == 2)
    val sent = V2PipelineSpec.sections.toArray.toSeq.map(_.toString)
    Seq("WRITE|", "POLISH|").foreach { kind =>
      val ofKind = sent.filter(_.startsWith(kind))
      assert(ofKind.nonEmpty, s"no $kind prompt sent")
      val repeated = ofKind.groupBy(identity).filter(_._2.size > 1).keys
      assert(repeated.isEmpty,
        s"${ofKind.size - ofKind.distinct.size} $kind prompts re-sent: $repeated")
    }
  }

  /** Run V2 over `surveys` with a [[V2PipelineSpec.Recording]] client,
    * wrapped in `wrap`: "config/survey/KIND" -> "n:hash" per prompt kind,
    * plus "config/rows". */
  private def goldenLog(
      config: String,
      surveys: org.apache.spark.sql.DataFrame,
      client: InferenceClient,
      cfg: V2Pipeline.Config,
      wrap: InferenceClient => InferenceClient = identity): Map[String, String] = {
    val rec = V2PipelineSpec.Recording(client)
    val rows = V2Pipeline.run(surveys, wrap(rec), cfg).collect()
    val seeds = Map(
      "s1" -> Seq("Stream Processing", "pipelined-dataflow",
        "windowed-aggregation", "state-stores"),
      "s2" -> Seq("Vector Search", "lsh-methods", "graph-ann"))
    V2PipelineSpec.promptHashes(rec.log, seeds).map { case (k, v) =>
      s"$config/$k" -> v } +
      (s"$config/rows" -> V2PipelineSpec.sha(
        rows.map(_.toString).sorted.toSeq))
  }

  /** The three golden configs: defaults, the re-digest path, p02's. */
  private val goldenConfigs: Seq[(String, () => InferenceClient, V2Pipeline.Config)] = Seq(
    ("default", () => new MockInference, V2Pipeline.Config()),
    ("redigest", () => new V2PipelineSpec.CountingMock(true), V2Pipeline.Config()),
    ("p02", () => new MockInference, V2Pipeline.Config(nGroups = 2,
      blockCount = 1, convLayers = 1, kernelWidth = 2, poolSize = 3)))

  /** Recorded on the stage-per-job pipeline this replaced: per survey and
    * prompt kind, the prompt count and the first 16 hex digits of the
    * SHA-256 of that kind's sorted prompts; per config, of the output rows. */
  private val golden: Map[String, String] = Map(
    "default/rows" -> "c45b110286581412",
    "default/s1/DIGEST" -> "3:f05945d31b9f74bc",
    "default/s1/FIGURE" -> "1:a121b645ba5d9f58",
    "default/s1/MERGE" -> "2:ffa4b14fe1f913e1",
    "default/s1/MODIFY" -> "1:0a294befb960e784",
    "default/s1/OUTLINE" -> "1:6fbe6e1a60ea2ee8",
    "default/s1/POLISH" -> "4:f50355843d1658ea",
    "default/s1/SUGGEST" -> "2:2551185d36fae2a8",
    "default/s1/WRITE" -> "4:01edba5f8ffccd3d",
    "default/s2/DIGEST" -> "2:e6a2eaeb70245697",
    "default/s2/FIGURE" -> "1:2f697ef71d70ccc0",
    "default/s2/MERGE" -> "2:87793b26e3a88c05",
    "default/s2/MODIFY" -> "1:e1c83b68a112ef69",
    "default/s2/OUTLINE" -> "1:90874d771b9f9d38",
    "default/s2/POLISH" -> "3:a0a8bcbd6dd35162",
    "default/s2/SUGGEST" -> "2:2eea132b3c410801",
    "default/s2/WRITE" -> "3:44f28ede809abd6b",
    "p02/rows" -> "c45b110286581412",
    "p02/s1/DIGEST" -> "3:f05945d31b9f74bc",
    "p02/s1/FIGURE" -> "1:a121b645ba5d9f58",
    "p02/s1/MERGE" -> "1:d74778747c48dd85",
    "p02/s1/MODIFY" -> "1:0a294befb960e784",
    "p02/s1/OUTLINE" -> "1:6fbe6e1a60ea2ee8",
    "p02/s1/POLISH" -> "4:f50355843d1658ea",
    "p02/s1/SUGGEST" -> "2:2551185d36fae2a8",
    "p02/s1/WRITE" -> "4:01edba5f8ffccd3d",
    "p02/s2/DIGEST" -> "2:e6a2eaeb70245697",
    "p02/s2/FIGURE" -> "1:2f697ef71d70ccc0",
    "p02/s2/MERGE" -> "1:1bdd34f0d9841b69",
    "p02/s2/MODIFY" -> "1:e1c83b68a112ef69",
    "p02/s2/OUTLINE" -> "1:90874d771b9f9d38",
    "p02/s2/POLISH" -> "3:a0a8bcbd6dd35162",
    "p02/s2/SUGGEST" -> "2:2eea132b3c410801",
    "p02/s2/WRITE" -> "3:44f28ede809abd6b",
    "redigest/rows" -> "3f0c1c56f83d658f",
    "redigest/s1/DIGEST" -> "6:34a39628190641b5",
    "redigest/s1/FIGURE" -> "1:839165a412771798",
    "redigest/s1/MERGE" -> "2:ffa4b14fe1f913e1",
    "redigest/s1/MODIFY" -> "1:0a294befb960e784",
    "redigest/s1/OUTLINE" -> "1:6fbe6e1a60ea2ee8",
    "redigest/s1/POLISH" -> "4:7cb9cf549e5ffd83",
    "redigest/s1/SUGGEST" -> "2:2551185d36fae2a8",
    "redigest/s1/WRITE" -> "4:77d10fcad7b4e5ab",
    "redigest/s2/DIGEST" -> "2:e6a2eaeb70245697",
    "redigest/s2/FIGURE" -> "1:2f697ef71d70ccc0",
    "redigest/s2/MERGE" -> "2:87793b26e3a88c05",
    "redigest/s2/MODIFY" -> "1:e1c83b68a112ef69",
    "redigest/s2/OUTLINE" -> "1:90874d771b9f9d38",
    "redigest/s2/POLISH" -> "3:a0a8bcbd6dd35162",
    "redigest/s2/SUGGEST" -> "2:2eea132b3c410801",
    "redigest/s2/WRITE" -> "3:44f28ede809abd6b")

  test("golden prompt log: every survey sends the recorded prompts and gets the recorded rows") {
    val got = goldenConfigs.flatMap { case (name, client, cfg) =>
      goldenLog(name, fixture, client(), cfg) }.toMap
    assert(got == golden, (got.toSet diff golden.toSet).toSeq.sorted.mkString("\n"))
  }

  test("a one-task survey fans each step out to at most 1 + MaxInflight calls") {
    val want = golden.filter(_._1.startsWith("default/"))
    Slow.reset()
    val got = goldenLog("default", fixture.coalesce(1), new MockInference,
      V2Pipeline.Config(), new Slow(50, _))
    assert(got == want, (got.toSet diff want.toSet).toSeq.sorted.mkString("\n"))
    // every step here is under BatchSize prompts, and still not one call
    assert(Slow.max.get > 1 && Slow.max.get <= 1 + InferOps.MaxInflight,
      s"max in flight ${Slow.max.get}")
  }

  test("convolve sends the recorded MERGE prompts for 1, 2 and 3 layers") {
    val mock = new MockInference
    val pools = Seq("alpha", "beta").map(t => (1 to 4).map { i =>
      val s = mock.complete(s"SUGGEST|$t-$i")
      s -> V2Pipeline.scoreOfStr(s)
    })
    val got = Seq(1, 2, 3).map { layers =>
      val rec = V2PipelineSpec.Recording(mock)
      val best = V2Pipeline.convolve(pools, rec,
        V2Pipeline.Config(convLayers = layers, kernelWidth = 2, poolSize = 3))
      layers -> V2PipelineSpec.sha(rec.log.map(_._1).sorted ++ best)
    }
    assert(got == Seq(1 -> "c0ffd17e42d732f0", 2 -> "536c8ddf4b70860e",
      3 -> "bdaa0191113f152a"))
  }

  test("a V2 run over the fixture is at most 3 Spark jobs") {
    val (_, prof) = graft.obs.Telemetry(spark).measure("v2") {
      V2Pipeline.run(fixture).collect()
    }
    assert(prof.jobs.size <= 3, s"${prof.jobs.size} jobs")
  }

  test("rows and per-survey prompts do not depend on partitioning or AQE") {
    val key = "spark.sql.adaptive.enabled"
    val (_, client, cfg) = goldenConfigs.head
    val want = golden.filter(_._1.startsWith("default/"))
    def check(label: String, surveys: org.apache.spark.sql.DataFrame): Unit = {
      val got = goldenLog("default", surveys, client(), cfg)
      assert(got == want, s"$label: " +
        (got.toSet diff want.toSet).toSeq.sorted.mkString("\n"))
    }
    check("one partition", fixture.coalesce(1))
    check("repartition(4)", fixture.repartition(4))
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try check("repartition(1), AQE off", fixture.repartition(1))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Walk `e`'s cause chain. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a DIGEST reply with a heading the skeleton lacks fails the run (J1)") {
    val e = intercept[Throwable] {
      V2Pipeline.run(fixture, new V2PipelineSpec.ExtraHeading).collect()
    }
    assert(causes(e).exists(_.isInstanceOf[
      graft.plans.Trees.StructureNotCorrespondingException]), e)
  }

  test("an inference failure fails the action with its class and message") {
    val e = intercept[Throwable] {
      V2Pipeline.run(fixture, new V2PipelineSpec.FailOn("FIGURE|")).collect()
    }
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "boom"), e)
  }
}

object V2PipelineSpec {
  /** First 16 hex digits of the SHA-256 of `parts`, NUL-separated. */
  def sha(parts: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString.take(16)

  /** JVM-static (prompt, reply) logs, one per [[Recording]] instance. */
  private val logs =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[(String, String)]]

  /** Records every (prompt, reply) pair `underlying` answers. */
  final case class Recording(underlying: InferenceClient,
      id: String = java.util.UUID.randomUUID.toString)
    extends InferenceClient {
    logs.putIfAbsent(id, new java.util.concurrent.ConcurrentLinkedQueue)
    override def complete(p: String): String = {
      val r = underlying.complete(p)
      logs.get(id).add(p -> r)
      r
    }
    def log: Seq[(String, String)] =
      scala.jdk.CollectionConverters.IterableHasAsScala(logs.get(id)).asScala.toSeq
  }

  /** "survey/KIND" -> "count:hash" over each kind's sorted prompts. A prompt
    * belongs to the one survey it names: a seed string of that survey, or
    * the whole reply to one of its prompts (MERGE prompts name only
    * suggestions, POLISH prompts only written prose). */
  def promptHashes(
      log: Seq[(String, String)],
      seeds: Map[String, Seq[String]]): Map[String, String] = {
    val markers = seeds.map { case (s, m) => s -> m.toSet }.to(collection.mutable.Map)
    var open = log
    var owned = Seq.empty[(String, String)] // (survey, prompt)
    var progress = true
    while (open.nonEmpty && progress) {
      val (found, rest) = open.map { case pr @ (p, _) =>
        pr -> markers.collect { case (s, m) if m.exists(p.contains) => s }.toSeq
      }.partition(_._2.nonEmpty)
      found.foreach { case ((p, r), owners) =>
        assert(owners.size == 1, s"prompt names surveys $owners: $p")
        owned :+= owners.head -> p
        if (r != null && r.nonEmpty) markers(owners.head) += r
      }
      progress = found.nonEmpty
      open = rest.map(_._1)
    }
    assert(open.isEmpty, s"prompts naming no survey: ${open.map(_._1)}")
    owned.groupBy { case (s, p) => s"$s/${p.takeWhile(_ != '|')}" }
      .map { case (k, ps) =>
        val sorted = ps.map(_._2).sorted
        k -> s"${sorted.size}:${sha(sorted)}"
      }
  }

  /** Appends a heading no skeleton has to every DIGEST reply. */
  final class ExtraHeading extends InferenceClient {
    private val mock = new MockInference
    override def complete(p: String): String =
      if (p.startsWith("DIGEST|")) mock.complete(p) + "\n# Not In The Skeleton"
      else mock.complete(p)
  }

  /** Throws `IllegalStateException("boom")` on prompts starting `prefix`. */
  final class FailOn(prefix: String) extends InferenceClient {
    private val mock = new MockInference
    override def complete(p: String): String =
      if (p.startsWith(prefix)) throw new IllegalStateException("boom")
      else mock.complete(p)
  }

  /** JVM-static DIGEST-call counter: task closures deserialize into the
    * same local JVM, so a static survives where an instance field's
    * increments would land on per-task copies. */
  val digestCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Every WRITE and POLISH prompt a [[CountingMock]] was sent. */
  val sections = new java.util.concurrent.ConcurrentLinkedQueue[String]

  /** Mock wrapper counting DIGEST calls and recording WRITE/POLISH
    * prompts; with `mutateHeading` it also turns
    * s1's MODIFY into a structural (heading) edit so the selective
    * re-digest path is exercised. */
  final class CountingMock(mutateHeading: Boolean)
    extends graft.infer.InferenceClient {
    private val mock = new MockInference
    override def complete(p: String): String = {
      if (p.startsWith("DIGEST|")) digestCalls.incrementAndGet()
      if (p.startsWith("WRITE|") || p.startsWith("POLISH|")) sections.add(p)
      val r = mock.complete(p)
      if (mutateHeading && p.startsWith("MODIFY|") &&
          p.contains("Stream Processing"))
        r.replaceFirst("# Conclusion", "# Closing Remarks")
      else r
    }
  }
}
