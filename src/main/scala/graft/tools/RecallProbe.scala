package graft.tools

import graft._
import org.apache.spark.sql.functions._

/** Measures d16's recall against the exact blocked form (VERDICT r10 #6):
  * pair-level — what fraction of d05's exact cosine pairs survive the
  * (label, cell) capping, split by cosine band — and merge-level — what
  * fraction of d13's keep=0 vectors d16 also drops.
  *
  * The SemDeDup trade is recall at cell boundaries, and it is THRESHOLD-
  * dependent: tight duplicates (cos near 1) sit together in embedding
  * space and land in the same nearest-centroid cell, while loose pairs
  * near the 0.35 floor straddle cells. The per-band split makes that
  * visible the way s03/s05/s08/s10 make the ANN speed/recall trade
  * visible.
  *
  *   sbt "runMain graft.tools.RecallProbe /root/testdata/sf0.1"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.get("recall-probe")

    val exact = operators.Dedup.defs
      .find(_.name == "d05_embedding_neardup").get.build(spark, d)
      .select(col("id_a"), col("id_b"), col("cos"))

    def bandReport(tag: String, pairs: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val kept = pairs.select(col("id_a"), col("id_b"), lit(1).as("kept"))
      val bands = exact.join(kept, Seq("id_a", "id_b"), "left")
        .withColumn("band", floor(col("cos") * 10) / 10)
        .groupBy("band")
        .agg(count(lit(1)).as("exact_pairs"),
          sum(coalesce(col("kept"), lit(0))).as("capped_pairs"))
        .orderBy("band")
        .collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[recall] $tag: ${"cos band"}%-10s ${"exact"}%8s ${"capped"}%8s recall")
      var te = 0L; var tc = 0L
      bands.foreach { r =>
        val (e, c) = (r.getLong(1), r.getLong(2))
        te += e; tc += c
        println(f"[recall] $tag: ${r.get(0)}%-10s $e%8d $c%8d ${c.toDouble / e}%.3f")
      }
      println(f"[recall] $tag: pair recall TOTAL ${tc.toDouble / te}%.4f " +
        f"($tc/$te) in $sec%.1f s")
    }
    bandReport("1-probe", operators.Dedup.cappedCosinePairs(spark, d))
    bandReport("2-probe", operators.Dedup.cappedCosinePairsMulti(spark, d))

    def dropSet(name: String) = operators.Dedup.defs.find(_.name == name).get
      .build(spark, d).filter(col("keep") === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val e13 = dropSet("d13_semantic_dedup")
    val c16 = dropSet("d16_semantic_dedup_capped")
    // multi-probe merge set: connected components over the 2-probe pairs,
    // keep=0 iff merged into an earlier component root — d16's semantics
    val c16mp = operators.Dedup.connectedComponents(
        operators.Dedup.cappedCosinePairsMulti(spark, d)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .filter(col("label") =!= col("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    def mergeLine(tag: String, drops: Set[Long]): Unit =
      println(f"[recall] merge recall ($tag vs d13): " +
        f"${(drops & e13).size.toDouble / e13.size}%.4f " +
        f"(${(drops & e13).size}/${e13.size}, drops ${drops.size}, " +
        s"subset=${drops.subsetOf(e13)})")
    mergeLine("1-probe d16", c16)
    mergeLine("2-probe", c16mp)
    spark.stop()
  }
}
