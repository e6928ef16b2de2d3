package graft.plans

import org.scalatest.funsuite.AnyFunSuite

class TreesSpec extends AnyFunSuite {
  import Trees._

  private val outline =
    """# Introduction
      |Overview text.
      |## Background
      |## Motivation
      |Why it matters.
      |# Methods
      |## Pipeline
      |### Details
      |# Conclusion""".stripMargin

  test("parseOutline builds materialized paths in preorder") {
    val rows = parseOutline("s1", outline)
    assert(rows.map(_.path) == Seq(
      Seq(1), Seq(1, 1), Seq(1, 2), Seq(2), Seq(2, 1), Seq(2, 1, 1), Seq(3)))
    assert(rows.map(_.depth) == Seq(1, 2, 2, 1, 2, 3, 1))
    assert(rows.head.description == "Overview text.")
    assert(rows(2).description == "Why it matters.")
  }

  test("parse/render round-trip (skeleton.py:86-124 vs 147-169)") {
    val rows = parseOutline("s1", outline)
    val rendered = renderOutline(rows)
    assert(parseOutline("s1", rendered) == rows)
  }

  test("assembleBottomUp composes children into parents level by level (D11)") {
    val byPath = assembleBottomUp(
      parseOutline("s1", outline).map(r => r.path -> s"<${r.title}>"),
      (own, kids) => own + kids.mkString("(", "+", ")"))
    assert(byPath(Seq(2)) == "<Methods>(<Pipeline>(<Details>))")
    assert(byPath(Seq(1)) == "<Introduction>(<Background>+<Motivation>)")
    assert(byPath(Seq(3)) == "<Conclusion>")
  }
}
