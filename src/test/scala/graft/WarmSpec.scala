package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Warm's artifact labels unique: a label names one artifact in the
  * loud per-step failure line, so two steps sharing one would make a
  * failed warm-up ambiguous. No SparkSession needed.
  */
class WarmSpec extends AnyFunSuite {
  test("warm-up labels are unique") {
    val labels = Warm.steps.map(_.label)
    assert(labels.distinct === labels)
  }
}
