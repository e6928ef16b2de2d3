package graft.pipeline

import graft.infer.{InferOps, InferenceClient, MockInference}
import graft.plans.Trees
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The V2 survey-generation pipeline re-expressed as Spark stages
  * (SURVEY.md §3.2; reference /root/reference/LLMxMapReduce_V2/src/
  * start_pipeline.py:20-54: encode >> hidden >> decode).
  *
  * Stage map (reference → here):
  *   - encode: JSONL surveys → per-survey paper structs (S1/S2/F2), bibkey slugs
  *   - group: round-robin paper grouping (X3, group_module.py random path)
  *   - skeleton-init: per-survey outline via inference concat (A5)
  *   - digest: per-paper outline-shaped extraction (digest_module.py), merged
  *     per group by section path (A4), shape-checked against the skeleton (J1)
  *   - refine loop (D5 cycle, `blockCount` bound): suggestions (feedback
  *     neurons) → seeded weighted sampling (W6) → kernel merge (A6) → top-k
  *     prune (W1) → best suggestion modifies skeleton
  *   - decode: leaf-section writing, bottom-up assembly (D11), polish,
  *     bibkey→index citation re-key (J2), cite-ratio stat (A8), figures (J7)
  *
  * The survey is the unit of work, as in the reference's `Survey` record
  * (survey.py:13-139): `encode` is an in-plan projection, and one
  * `mapPartitions` task runs every stage for the surveys of its partition,
  * in lockstep. Scale-out is by survey across tasks; each stage's prompts
  * of all the task's open surveys go through one [[InferOps.completeAll]]
  * call, whose pool gives the inference concurrency within a survey. A run
  * is one Spark job over its input, whatever the number of stages.
  */
object V2Pipeline {

  final case class Config(
      nGroups: Int = 2,
      blockCount: Int = 1,    // D5 loop bound (args.py:21)
      convLayers: Int = 2,
      kernelWidth: Int = 2,
      poolSize: Int = 4,      // result_num
      seed: Long = 42L)

  // ------------------------------------------------------------------ encode
  /** surveys(survey_id, title, papers[struct(title, txt)]) → the same rows
    * with papers[struct(paper_title, paper_txt, bibkey)], the bibkey being
    * the title's slug (S1/S2). */
  def encode(surveys: DataFrame): DataFrame =
    surveys.select(col("survey_id"), col("title"),
      transform(col("papers"), p => struct(
        p("title").as("paper_title"),
        p("txt").as("paper_txt"),
        slugCol(p("title")).as("bibkey"))).as("papers"))

  private def slugCol(c: Column): Column =
    regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", "-"), "(^-+)|(-+$)", "")

  /** Spark's string order (UTF-8 bytes), the order `array_sort` and window
    * sorts use; Java's UTF-16 order differs outside the BMP. */
  private val Utf8: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** X3 round-robin grouping: deterministic stand-in for the reference's
    * random/LLM grouping, same cardinality contract. The group of each
    * bibkey, in input order: rank by bibkey, modulo `nGroups`. */
  private[graft] def roundRobin(bibkeys: Seq[String], nGroups: Int): Seq[Int] = {
    val rank = bibkeys.indices.sortBy(bibkeys)(Utf8)
    val group = new Array[Int](bibkeys.size)
    rank.zipWithIndex.foreach { case (i, r) => group(i) = r % nGroups }
    group.toSeq
  }

  private final case class Paper(title: String, txt: String, bibkey: String, group: Int)

  /** One group's merged digest of one skeleton section (A4). */
  private final case class Digest(group: Int, path: Seq[Int], description: String)

  /** One survey inside its task: papers in input order, and the
    * skeleton and digests the stages replace as they go. */
  private final class Survey(val id: Any, val title: String, val papers: Seq[Paper]) {
    var skeleton: String = _
    var digests: Seq[Digest] = Nil
  }

  // --------------------------------------------------------------------- run
  /** Full pipeline: encode → group → skeleton → digest → [refine →
    * re-digest]×block → decode. Returns (survey_id, content, cite_ratio,
    * n_papers, skeleton_md). */
  def run(
      surveys: DataFrame,
      client: InferenceClient = new MockInference,
      cfg: Config = Config()): DataFrame = {
    val encoded = encode(surveys)
    val outSchema = StructType(Seq(
      encoded.schema("survey_id"),
      StructField("content", StringType),
      StructField("cite_ratio", DoubleType),
      StructField("n_papers", LongType, nullable = false),
      StructField("skeleton_md", StringType)))
    encoded.mapPartitions { rows =>
      val batch = rows.flatMap { r =>
        // F2: drop empty papers, then paper-less surveys
        val kept = Option(r.getSeq[Row](2)).getOrElse(Nil)
          .filter(p => p.getString(1) != null && p.getString(1).nonEmpty)
        val groups = roundRobin(kept.map(_.getString(2)), cfg.nGroups)
        val papers = kept.lazyZip(groups).map((p, g) =>
          Paper(p.getString(0), p.getString(1), p.getString(2), g))
        if (papers.isEmpty) None else Some(new Survey(r.get(0), r.getString(1), papers))
      }.toVector
      surveyTask(batch, client, cfg).iterator
    }(Encoders.row(outSchema))
  }

  /** Every stage for one task's surveys, in lockstep. */
  private def surveyTask(
      all: Vector[Survey],
      client: InferenceClient,
      cfg: Config): Seq[Row] = {
    // A5: one outline per survey over its sorted paper titles
    val outlines = InferOps.completeAll(all.map(s =>
      s"OUTLINE|${s.title}|" +
        s.papers.flatMap(p => Option(p.title)).sorted(Utf8).mkString(", ")), client)
    all.lazyZip(outlines).foreach(_.skeleton = _)
    digest(all, client)
    var open = all
    for (_ <- 0 until cfg.blockCount) open = refine(open, client, cfg)
    decode(open, client)
  }

  /** Per-paper digest shaped by the skeleton, merged per group by section
    * (A4: descriptions in bibkey order), then shape-checked (J1). */
  private def digest(ss: Seq[Survey], client: InferenceClient): Unit = {
    val replies = InferOps.completeAll(ss.flatMap(s => s.papers.map(p =>
      s"DIGEST|${s.skeleton}|${p.bibkey}|${p.txt}")), client).iterator
    ss.foreach { s =>
      val sections = s.papers.flatMap { p =>
        Trees.parseOutline("x", replies.next()).map(r => (p, r)) }
      s.digests = sections
        .groupBy { case (p, r) => (p.group, r.path, r.depth, r.title) }
        .toSeq.map { case ((g, path, _, _), rs) =>
          Digest(g, path, rs.map { case (p, r) => (p.bibkey, r.description) }
            .sorted(Ordering.Tuple2(Utf8, Utf8)).map(_._2).mkString("\n---\n"))
        }
      // J1 contract: every group's digest tree mirrors the skeleton
      val paths = Trees.parseOutline("x", s.skeleton).map(_.path).toSet
      val bad = s.digests.count(d => !paths(d.path))
      if (bad > 0)
        throw new Trees.StructureNotCorrespondingException(
          s"$bad digest section rows have no skeleton counterpart")
    }
  }

  // ------------------------------------------------------------- refine loop
  /** One hidden-stage block: one suggestion per digest group (feedback
    * neurons) → [[convolve]] → the best suggestion modifies the skeleton
    * (D5 loop body). Digests are outline-SHAPED — their sections key by the
    * skeleton's headings (J1) — so only surveys whose heading lines changed
    * re-digest. A survey without digest sections has no suggestion pool
    * and leaves the run. Returns the surveys still open. */
  private def refine(
      ss: Vector[Survey],
      client: InferenceClient,
      cfg: Config): Vector[Survey] = {
    val prompts = ss.map(s => s.digests.groupBy(_.group).toSeq.sortBy(_._1)
      .map { case (_, ds) =>
        s"SUGGEST|${s.skeleton}|" + ds.map(_.description).sorted(Utf8).mkString("\n")
      })
    val replies = InferOps.completeAll(prompts.flatten, client).iterator
    val (live, pools) = ss.lazyZip(prompts)
      .map((s, ps) => s -> ps.map { _ => val r = replies.next(); r -> scoreOfStr(r) })
      .filter(_._2.nonEmpty).unzip
    val best = convolve(pools, client, cfg)
    val modified = InferOps.completeAll(
      live.lazyZip(best).map((s, b) => s"MODIFY|${s.skeleton}|$b"), client)
    val changed = live.lazyZip(modified).flatMap { (s, md) =>
      val moved = headings(md) != headings(s.skeleton)
      s.skeleton = md
      if (moved) Some(s) else None
    }
    digest(changed, client)
    live
  }

  /** A skeleton's heading lines: the section structure digests key by. */
  private def headings(md: String): Seq[String] =
    md.split("\n", -1).filter(_.startsWith("#")).toSeq

  /** The convolution layers of each survey's suggestion pool, in lockstep:
    * per layer, A-Res sample `kernelWidth` suggestions (W6), one MERGE call
    * per survey through [[InferOps.completeAll]] (A6), keep the top
    * `poolSize` (W1); returns each pool's best suggestion (W2). The uniform
    * draw is a hash of (suggestion, layer, seed) — xxhash64/pmod via
    * Spark's own [[XxHash64Function]] (seed 42, then the string hash seeds
    * the long hash) — not `rand`, so any cluster shape samples alike;
    * strings compare as Spark's do ([[Utf8]]). */
  private[graft] def convolve(
      pools0: Seq[Seq[(String, Int)]],
      client: InferenceClient,
      cfg: Config): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    val byWeight = Ordering.by[(String, Double), Double](_._2).reverse.orElseBy(_._1)(Utf8)
    val byScore = Ordering.by[(String, Int), Int](_._2).reverse.orElseBy(_._1)(Utf8)
    val argmax = Ordering.by[(String, Int), Int](_._2).orElseBy(_._1)(Utf8)
    var pools = pools0
    for (layer <- 0 until cfg.convLayers) {
      val prompts = pools.map { pool =>
        val sampled = pool.map { case (s, sc) =>
          val h1 = XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)
          val h2 = XxHash64Function.hash(cfg.seed + layer, LongType, h1)
          val u  = ((((h2 % 1000000L) + 1000000L) % 1000000L).toDouble + 1.0) / 1000001.0
          (s, math.pow(u, 1.0 / math.max(sc, 1)))
        }.sorted(byWeight).take(cfg.kernelWidth)
        "MERGE|" + sampled.map(_._1).sorted(Utf8).mkString("\n")
      }
      val replies = InferOps.completeAll(prompts, client)
      pools = pools.lazyZip(replies).map((pool, reply) =>
        (pool :+ (reply -> scoreOfStr(reply))).sorted(byScore).take(cfg.poolSize))
    }
    pools.map(_.max(argmax)._1)
  }

  private val ScorePat = "<SCORE>(\\d+)</SCORE>".r

  /** A suggestion's score: its first `<SCORE>n</SCORE>`, else 0. */
  private[graft] def scoreOfStr(s: String): Int =
    ScorePat.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)

  // ------------------------------------------------------------------ decode
  /** Write and polish the leaves (the reference's per-section
    * ORCHESTRA→POLISH sequence, orchestra_module.py:167-185), assemble
    * bottom-up (D11), re-key citations (J2), cite ratio (A8), figures (J7).
    * A survey whose skeleton has no top-level section has no draft and
    * yields no row. */
  private def decode(ss: Vector[Survey], client: InferenceClient): Seq[Row] = {
    val trees = ss.map { s =>
      val sections = Trees.parseOutline("x", s.skeleton)
      val parents = sections.collect { case r if r.path.size > 1 => r.path.init }.toSet
      sections.partition(r => !parents(r.path)) // (leaves, internal nodes)
    }
    val writes = ss.lazyZip(trees).map { case (s, (leaves, _)) =>
      val material = s.digests.groupBy(_.path).map { case (path, ds) =>
        path -> ds.map(_.description).sorted(Utf8).mkString("\n") }
      leaves.map(l => s"WRITE|${l.title}|${material.getOrElse(l.path, "")}")
    }
    // WRITE and FIGURE are independent: one call
    val (written, figures) = InferOps.completeAll(
      writes.flatten ++ ss.map("FIGURE|" + _.skeleton), client)
      .splitAt(writes.map(_.size).sum)
    val polished = InferOps.completeAll(written.map("POLISH|" + _), client).iterator
    ss.indices.flatMap { i =>
      val (leaves, internals) = trees(i)
      val assembled = Trees.assembleBottomUp(
        leaves.map(_.path -> polished.next()) ++
          internals.map(r => r.path -> s"Summary of ${r.title}."),
        (own, kids) => own + "\n" + kids.mkString("\n"))
      val roots = assembled.filter(_._1.size == 1).toSeq.sortBy(_._1)(Trees.PathOrder)
      val s = ss(i)
      if (roots.isEmpty) None
      else {
        val (text, cited) = rekey(roots.map(_._2).mkString("\n"), s.papers.map(_.bibkey))
        Some(Row(s.id, injectFigure(text, figures(i)),
          cited.toDouble / s.papers.size, s.papers.size.toLong, s.skeleton))
      }
    }
  }

  /** J2: `[bibkey, ...]` → `[i, ...]`, `i` the paper's 1-based position;
    * also returns how many distinct papers were cited (A8). */
  private def rekey(text: String, bibkeys: Seq[String]): (String, Int) = {
    val idx = bibkeys.zipWithIndex.toMap
    val cited = scala.collection.mutable.Set.empty[String]
    val out = "\\[([^\\[\\]]+)\\]".r.replaceAllIn(text, m => {
      val keys = m.group(1).split(",").map(_.trim).filter(idx.contains)
      keys.foreach(cited += _)
      if (keys.isEmpty) m.matched
      else keys.map(k => idx(k) + 1).sorted.mkString("[", ", ", "]")
    })
    (out, cited.size)
  }

  private val FigSection = "Section: (.*)".r
  private val FigTitle   = "Title: (.*)".r
  private val FigBody    = "(?s)```mermaid\\n(.*?)```".r

  /** Chart node (J7/T14; figure_module.py:22-87): parse the figure spec's
    * `Section:/Title:/```mermaid` fields and inject the fenced block after
    * the first line whose normalized text contains the section title. */
  private def injectFigure(content: String, spec: String): String = {
    def field(re: scala.util.matching.Regex): String =
      Option(spec).flatMap(re.findFirstMatchIn).map(_.group(1)).getOrElse("")
    val section = field(FigSection)
    if (section.isEmpty) content
    else {
      val norm = (s: String) => s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      val lines = content.split("\n", -1)
      val idx = lines.indexWhere(l => norm(l).contains(norm(section)))
      if (idx < 0) content
      else {
        val fig = s"\n**${field(FigTitle)}**\n```mermaid\n${field(FigBody)}```"
        (lines.take(idx + 1) :+ fig).mkString("\n") +
          (if (idx + 1 < lines.length)
            "\n" + lines.drop(idx + 1).mkString("\n") else "")
      }
    }
  }

  /** S8 (watch_data.py:7-21): per-survey markdown exports — one directory
    * per survey with content.md and skeleton.md. Partition-parallel: each
    * task writes its own surveys' files (foreachPartition, no driver
    * funnel). */
  def writeMarkdownExports(result: DataFrame, dir: String): Unit =
    result.select("survey_id", "content", "skeleton_md")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val base = java.nio.file.Paths.get(dir, r.getString(0))
          java.nio.file.Files.createDirectories(base)
          java.nio.file.Files.writeString(base.resolve("content.md"), r.getString(1))
          java.nio.file.Files.writeString(base.resolve("skeleton.md"), r.getString(2))
        }
      }
}
