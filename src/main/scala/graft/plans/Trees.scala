package graft.plans

import graft.functions.TextFunctions

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Tree-as-rows encoding for the skeleton/digest/content structures
  * (SURVEY.md §1.1): a section tree is a set of rows keyed by a
  * materialized path (`path: Seq[Int]`), with preorder = [[PathOrder]].
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
    rows.sortBy(_.path)(PathOrder)
      .map { r =>
        val head = "#" * r.depth + " " + r.title
        if (r.description.nonEmpty) head + "\n" + r.description else head
      }
      .mkString("\n")

  /** Path order: element by element, a prefix first (Spark's array order). */
  val PathOrder: Ordering[Seq[Int]] = Ordering.Implicits.seqOrdering

  /** Bottom-up content assembly (D11; cf. content.py:116-165 ready-queue)
    * over one tree's (path, content) rows: deepest nodes first, each node
    * that has children becomes `compose(own, children in path order)`, the
    * children already composed. A node whose parent path is absent composes
    * into nothing. Returns every path's composed content. */
  def assembleBottomUp(
      nodes: Seq[(Seq[Int], String)],
      compose: (String, Seq[String]) => String): Map[Seq[Int], String] = {
    val content = mutable.Map.from(nodes)
    val kids = nodes.map(_._1).filter(_.size > 1).groupBy(_.init)
    nodes.map(_._1).sortBy(-_.size).foreach { p =>
      kids.get(p).foreach(ks =>
        content(p) = compose(content(p), ks.sorted(PathOrder).map(content)))
    }
    content.toMap
  }
}
