package graft.plans

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Tree-as-rows encoding for the skeleton/digest/content structures
  * (SURVEY.md §1.1): a section tree is a Dataset of rows keyed by a
  * materialized path (`path: Seq[Int]`), with preorder = `ORDER BY path`.
  * Mirrors the semantics of the reference's Skeleton/TreeNode/Digest/Content
  * classes (/root/reference/LLMxMapReduce_V2/src/data_structure/
  * skeleton.py:75-177, treenode.py:1-79, digest.py:33-271, content.py:14-181)
  * without any pointer structures — trees scale as plain relational data.
  */
object Trees {

  final case class SectionRow(
      survey_id: String,
      path: Seq[Int],    // materialized path; preorder sort key
      depth: Int,
      title: String,
      description: String)

  /** Raised when a digest tree does not mirror the skeleton section-for-
    * section (cf. digest.py:143-146 StructureNotCorrespondingError). */
  final class StructureNotCorrespondingException(msg: String)
    extends RuntimeException(msg)

  /** Parse a markdown outline into section rows (cf. skeleton.py:86-124).
    * Heading depth builds the path: a depth-d heading increments the d-th
    * counter and resets deeper ones. Non-heading lines append to the current
    * section's description. */
  def parseOutline(surveyId: String, markdown: String): Seq[SectionRow] = {
    val counters = ArrayBuffer.empty[Int]
    val out      = ArrayBuffer.empty[SectionRow]
    var curDesc  = new StringBuilder
    def flushDesc(): Unit =
      if (out.nonEmpty && curDesc.nonEmpty) {
        val last = out.last
        out(out.length - 1) = last.copy(description =
          (last.description + "\n" + curDesc.toString.trim).trim)
        curDesc = new StringBuilder
      }
    markdown.linesIterator.foreach { line =>
      TextFunctions.parseHeading(line) match {
        case Some((depth, _, title)) =>
          flushDesc()
          if (counters.length < depth) {
            while (counters.length < depth) counters += 0
          } else counters.remove(depth, counters.length - depth)
          counters(depth - 1) += 1
          out += SectionRow(surveyId, counters.toSeq, depth, title, "")
        case None if line.trim.nonEmpty => curDesc.append(line).append('\n')
        case _                          =>
      }
    }
    flushDesc()
    out.toSeq
  }

  /** Render rows back to markdown in preorder (cf. skeleton.py:147-169).
    * Round-trips with [[parseOutline]] (spec-tested). */
  def renderOutline(rows: Seq[SectionRow]): String =
    rows.sortBy(r => pathKey(r.path))
      .map { r =>
        val head = "#" * r.depth + " " + r.title
        if (r.description.nonEmpty) head + "\n" + r.description else head
      }
      .mkString("\n")

  private def pathKey(p: Seq[Int]): String =
    p.map(i => f"$i%05d").mkString(",")

  /** Structural join (J1): digests must mirror the skeleton section-for-
    * section. Inner-joins on (survey_id, path, normalized title); any
    * unmatched row on either side ⇒ the trees don't correspond — surfaced
    * as an exception, matching the reference's contract.
    * Implemented as one equi-join plus two anti-join emptiness checks. */
  def structuralJoin(skeleton: DataFrame, digest: DataFrame): DataFrame = {
    val sk = skeleton.select(
      col("survey_id"), col("path"), col("depth"),
      col("title").as("sk_title"), col("description").as("sk_description"),
      normTitle(col("title")).as("norm_title"))
    val dg = digest.select(
      col("survey_id"), col("path"),
      col("title").as("dg_title"), col("description").as("dg_description"),
      normTitle(col("title")).as("norm_title"))
    val keys = Seq("survey_id", "path", "norm_title")
    val missing = sk.join(dg, keys, "left_anti").count()
    val extra   = dg.join(sk, keys, "left_anti").count()
    if (missing > 0 || extra > 0)
      throw new StructureNotCorrespondingException(
        s"digest/skeleton shape mismatch: $missing skeleton sections unmatched, " +
          s"$extra digest sections unmatched")
    sk.join(dg, keys)
  }

  private def normTitle(c: org.apache.spark.sql.Column) =
    lower(regexp_replace(c, "[^A-Za-z0-9]+", " "))

  /** Bottom-up content assembly (D11; cf. content.py:116-165 ready-queue):
    * process depth = maxDepth … 1; at each level, children's content is
    * aggregated into the parent via `compose`. Replaces the reference's
    * polling scheduler with deterministic per-level batch jobs — each level
    * is one `groupBy(parent_path)` shuffle, so a tree of any width runs in
    * `maxDepth` jobs regardless of node count.
    *
    * Input rows: (survey_id, path, depth, content). Returns rows with
    * `content` rewritten so every node contains its composed subtree.
    */
  def assembleBottomUp(
      sections: DataFrame,
      compose: (String, Seq[String]) => String): DataFrame = {
    val spark = sections.sparkSession
    val composeUdf = udf(compose)
    // checkpoint first, lazily: the depth probe is the action that
    // materializes it, so the input plan (inference, for V2's written
    // sections) runs once, not once for the probe and again for the levels
    var cur = sections.select("survey_id", "path", "depth", "content")
      .localCheckpoint(false)
    val maxDepth = cur.agg(max("depth")).head.getInt(0)
    var d = maxDepth
    while (d >= 2) {
      val children = cur.filter(col("depth") === d)
        .withColumn("parent_path", expr("slice(path, 1, size(path)-1)"))
        .select(col("survey_id").as("c_survey_id"), col("parent_path"),
          struct(col("path"), col("content")).as("child"))
        .groupBy("c_survey_id", "parent_path")
        .agg(expr("transform(array_sort(collect_list(child)), c -> c.content)")
          .as("child_contents"))
      val parents = cur.filter(col("depth") === d - 1)
        .join(children,
          col("c_survey_id") === col("survey_id") &&
            col("parent_path") === col("path"),
          "left")
        .select(col("survey_id"), col("path"), col("depth"),
          when(col("child_contents").isNotNull,
            composeUdf(col("content"), col("child_contents")))
            .otherwise(col("content")).as("content"))
      cur = parents.unionByName(cur.filter(col("depth") =!= (d - 1)))
      // `cur` is referenced three times by the NEXT level's plan, so
      // checkpoint between levels — but not after the last one, where the
      // caller consumes the frame exactly once (for the common depth-2
      // outline that removes the only materialization job)
      if (d - 1 >= 2) cur = cur.localCheckpoint()
      d -= 1
    }
    cur
  }

  def toDF(spark: SparkSession, rows: Seq[SectionRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }
}
