package graft.pipeline

import graft.SparkTestBase
import graft.infer.MockInference
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
    val papers = V2Pipeline.encode(fixture)
    assert(papers.count() == 5)
    val keys = papers.select("bibkey").collect().map(_.getString(0)).toSet
    assert(keys.contains("pipelined-dataflow") && keys.contains("graph-ann"))
  }

  test("grouping is a balanced round-robin (X3)") {
    val grouped = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config(nGroups = 2))
    val sizes = grouped.groupBy("survey_id", "group_id").count()
      .collect().map(_.getLong(2))
    assert(sizes.forall(n => n >= 1 && n <= 2))
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

  test("fused refine loop matches the unfused per-layer dataflow") {
    // the fused task-local replay (refineSkeleton) must be byte-identical
    // to the unfused window/merge/prune stages, across layer depths
    // including the unfused checkpoint path (convLayers > 2)
    val client = new MockInference
    val papers = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config(nGroups = 2))
    val skeleton = V2Pipeline.skeletonInit(papers, client)
    val digests  = V2Pipeline.digest(papers, skeleton, client)
    for (layers <- Seq(1, 2, 3)) {
      val cfg = V2Pipeline.Config(nGroups = 2, convLayers = layers,
        kernelWidth = 2, poolSize = 3)
      val fused = V2Pipeline.refineSkeleton(skeleton, digests, client, cfg)
        .orderBy("survey_id").collect().toSeq
      val unfused = V2Pipeline.refineSkeletonUnfused(skeleton, digests, client, cfg)
        .orderBy("survey_id").collect().toSeq
      assert(fused == unfused, s"fused/unfused diverged at convLayers=$layers")
    }
  }

  test("digest shape-check trips on a corrupted skeleton (J1)") {
    val papers = V2Pipeline.group(V2Pipeline.encode(fixture),
      V2Pipeline.Config())
    // skeleton whose headings can't match digest output: digest() derives
    // digests FROM the skeleton, so corrupt the check input instead —
    // feed digests from skeleton A but validate against skeleton B.
    val client = new MockInference
    val skelA = V2Pipeline.skeletonInit(papers, client)
    val digests = V2Pipeline.digest(papers, skelA, client)
    val skelB = skelA.withColumn("skeleton_md", lit("# Only One Section"))
    // structural conformance of A-digests against B-skeleton must fail
    val bad = digests.select(col("survey_id"), col("path")).distinct()
      .join(V2Pipeline.skeletonRows(skelB).select("survey_id", "path"),
        Seq("survey_id", "path"), "left_anti").count()
    assert(bad > 0)
  }
}

object V2PipelineSpec {
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
