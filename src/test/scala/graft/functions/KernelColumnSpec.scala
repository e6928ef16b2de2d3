package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** A kernel Column is its Catalyst expression: parameters and broadcasts
  * are bound when the Column is built, not when a plan using it is
  * analyzed, and using one writes nothing to the session's function
  * registry. */
class KernelColumnSpec extends SparkTestBase {

  test("two stopword counts built before either is used count their own lists") {
    import spark.implicits._
    val the = TokenCountKernel.stopwordCountCol(col("text"), Seq("the"))
    val and = TokenCountKernel.stopwordCountCol(col("text"), Seq("and"))
    val r = Seq("the cat and the dog").toDF("text").select(the, and).head()
    assert((r.getInt(0), r.getInt(1)) == ((2, 1)))
  }

  test("two LSH bucket columns built before either is used keep their own tables") {
    import spark.implicits._
    val dims = 8
    val two = LshFunctions.buckets(spark, col("e"), 2, 4, dims)
    val three = LshFunctions.buckets(spark, col("e"), 3, 2, dims)
    val r = Seq(Array.tabulate(dims)(_ - 3.5)).toDF("e")
      .select(size(two), size(three)).head()
    assert((r.getInt(0), r.getInt(1)) == ((2, 3)))
  }

  test("using every kernel Column leaves no graft_ function in the registry") {
    val s = spark.newSession()
    import s.implicits._
    val dims = 4
    val df = Seq(("the quick brown fox jumps", 7L, 0,
        Array(1.0, 0.0, 0.5, 2.0), Array("a", "b", "a", "b")))
      .toDF("text", "k", "label", "e", "syms")
    val sc = s.sparkContext
    val bloom = sc.broadcast(df.stat.bloomFilter("k", 64, 0.01))
    val cells = sc.broadcast(CentroidTable.build(
      Seq((0, Array.fill(2 * dims)(1.0), Array(4.0, 4.0)))))
    val ranks = sc.broadcast(Map(("a", "b") -> 0))
    val lm = sc.broadcast(
      LmKernel.model(Seq("the" -> 1L), Seq("the quick" -> 1L)))
    val text = col("text")
    val rowCols = Seq(
      HashKernels.passjoinIndexKeysCol(text, 1),
      HashKernels.passjoinProbeKeysCol(text, 1),
      HashKernels.ngramsCol(text, 2),
      HashKernels.bloomProbeLongCol(col("k"), bloom),
      HashKernels.ngramHashesCol(text, 2),
      HashKernels.deletionVariantsCol(text, 1),
      HashKernels.shinglesCol(text),
      HashKernels.minhashSigCol(text),
      HashKernels.simhash64Md5Col(text),
      TokenCountKernel.stopwordCountCol(text, Seq("the")),
      TokenCountKernel.longTokenCountCol(text, 5),
      TokenCountKernel.alnumRunCountCol(text),
      TokenCountKernel.wsTokenCountCol(text),
      RepetitionKernel.repetitionStatsCol(text),
      ArrayMath.nearestCellBc(col("label"), col("e"), cells),
      ArrayMath.dot(s, col("e"), col("e")),
      Bpe.mergePairCol(col("syms"), "a", "b"),
      Bpe.tokenizeCol(text, ranks),
      LmKernel.lmScoreCol(text, lm),
      LshFunctions.buckets(s, col("e"), 2, 2, dims))
    assert(df.select(rowCols: _*).collect().length == 1)
    assert(df.agg(KmvTopKAgg.kmvTopKCol(col("k"), 4)).collect().length == 1)
    val graftFns = s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"registry entries: ${graftFns.mkString(", ")}")
  }
}
