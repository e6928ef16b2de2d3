package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity pin for the bounded k-min-distinct aggregate (KmvTopKAgg, the
  * KMV sketch's only form) against the exact distinct + rank-window form
  * it replaced, kept here as the spec truth: any divergence is a red spec,
  * not a bench footnote. */
class KmvTopKAggSpec extends SparkTestBase {

  private val K = 64

  /** the window form's result on (g, h) rows: k smallest distinct h per g,
    * with 1-based rank — computed with plain Spark ops as the spec truth */
  private def windowForm(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    df.distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy("h")))
      .filter(col("rk") <= K)
  }

  private def aggForm(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g")
      .agg(KmvTopKAgg.kmvTopKCol(col("h"), K).as("mins"))
      .select(col("g"), posexplode(col("mins")).as(Seq("pos", "h")))
      .select(col("g"), col("h"), (col("pos") + 1).as("rk"))

  private def compare(rows: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    // many partitions so merge() runs across real partial states
    val df = rows.toDF("g", "h").repartition(7)
    val w = windowForm(df).orderBy("g", "rk").collect().toSeq
    val a = aggForm(df).orderBy("g", "rk").collect().toSeq
    assert(a == w)
  }

  test("parity: fewer than k distinct values keeps them all, ranked") {
    compare(Seq("x" -> 5L, "x" -> 1L, "x" -> 5L, "x" -> 3L, "y" -> 9L))
  }

  test("parity: exactly k and k+1 distinct values (cap boundary)") {
    val exactly = (1L to K.toLong).map(h => "g" -> h)
    compare(exactly)
    val over = (0L to K.toLong).map(h => "g" -> (h * 7 + 3))
    compare(over)
  }

  test("parity: duplicates never occupy two slots") {
    val dup = (1L to 200L).flatMap(h => Seq("g" -> (h % 40), "g" -> (h % 40)))
    compare(dup)
  }

  test("parity: random multi-group fuzz across partitions") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(5000) {
      (s"g${rnd.nextInt(5)}", rnd.nextLong() & 0xFFFFFFFFFFFFFFFL)
    }
    compare(rows)
  }

  test("merge prunes sorted partials correctly (k-th minimum is exact)") {
    import spark.implicits._
    // adversarial for mergeFrom's early-exit: one partition holds all the
    // small values, another all the large — the large state must be cut
    // off at the first value above the small state's k-th minimum
    val small = (1L to 100L).map(h => ("g", h))
    val large = (1000L to 1100L).map(h => ("g", h))
    val df = small.toDF("g", "h").repartition(1)
      .union(large.toDF("g", "h").repartition(1))
    val mins = df.groupBy("g")
      .agg(KmvTopKAgg.kmvTopKCol(col("h"), K).as("mins"))
      .select(explode(col("mins")).as("h"))
      .as[Long].collect().toSeq
    assert(mins == (1L to 64L))
  }

  test("NULL inputs are skipped (documented boundary vs a rank window)") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](
      ("g", 5L), ("g", null), ("g", 2L)).toDF("g", "h")
    val mins = df.groupBy("g")
      .agg(KmvTopKAgg.kmvTopKCol(col("h"), K).as("mins"))
      .select(explode(col("mins")).as("h"))
      .as[Long].collect().toSeq
    assert(mins == Seq(2L, 5L))
  }

  test("negative longs order by signed comparison (full long domain)") {
    compare(Seq("g" -> -5L, "g" -> Long.MinValue, "g" -> 0L,
      "g" -> Long.MaxValue, "g" -> -1L))
  }
}
