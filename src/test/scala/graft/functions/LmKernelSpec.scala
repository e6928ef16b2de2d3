package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The codegen LM-score kernel pinned against a naive recomputation of the
  * t14 formula (ipb = ((C(w1)+V)*1000) div (C(w1 w2)+1), integer mean) on
  * seeded random corpora — both the interpreted eval path and the codegen
  * DataFrame path. */
class LmKernelSpec extends SparkTestBase {

  private def naiveScore(
      uni: Map[String, Long], bg: Map[String, Long], v: Long,
      text: String): Option[(Long, Long)] = {
    val t = text.split(" ", -1)
    if (t.length < 2) None
    else {
      val ipbs = t.sliding(2).map { case Array(a, b) =>
        ((uni.getOrElse(a, 0L) + v) * 1000L) / (bg.getOrElse(a + " " + b, 0L) + 1L)
      }.toSeq
      Some((ipbs.length.toLong, ipbs.sum / ipbs.length))
    }
  }

  test("kernel matches the naive formula on 200 seeded random docs") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 12).map(i => s"w$i")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val lmDocs = Seq.fill(30)(doc(1 + rnd.nextInt(20)))
    val uni = lmDocs.flatMap(_.split(" ", -1))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bg = lmDocs.flatMap(_.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val v = uni.size.toLong
    val m = LmKernel.model(uni, bg)
    assert(m.v == v)
    // docs of length 0..6 exercise the null path and short loops
    val probes = Seq.fill(200)(doc(rnd.nextInt(7)))
    probes.foreach { p =>
      val got = Option(LmKernel.lmScore(m, UTF8String.fromString(p)))
        .map(a => (a.getLong(0), a.getLong(1)))
      assert(got == naiveScore(uni, bg, v, p), s"doc='$p'")
    }
  }

  test("codegen DataFrame path agrees with the interpreted eval path") {
    import spark.implicits._
    val m = LmKernel.model(Seq("a" -> 3L, "b" -> 1L), Seq("a b" -> 2L))
    val bc = spark.sparkContext.broadcast(m)
    val texts = Seq("a b", "b a", "a b a b", "z z z", "a", "")
    val rows = texts.toDF("text")
      .select(col("text"), LmKernel.lmScoreCol(col("text"), bc).as("sc"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(0)
      val direct = Option(LmKernel.lmScore(m, UTF8String.fromString(text)))
        .map(a => Seq(a.getLong(0), a.getLong(1)))
      val viaDf =
        if (r.isNullAt(1)) None else Some(r.getSeq[Long](1).toSeq)
      assert(viaDf == direct, s"text='$text'")
    }
  }
}
