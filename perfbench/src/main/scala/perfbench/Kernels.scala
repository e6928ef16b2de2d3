package perfbench

import graft.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Rows per second of each `functions/` kernel's public entry point, timed
  * on the workload's own text and vectors held in memory. Scalar kernels
  * are called directly; the ones whose public form is a Column run as one
  * projection over a cached in-memory frame. */
object Kernels {
  private val MinSeconds = 0.2

  /** Repeat `f` over `rows` items until `MinSeconds` have passed. */
  private def rate(rows: Int)(f: => Unit): Double = {
    if (rows == 0) return 0.0
    f // first call outside the clock: class loading and JIT
    var n = 0L
    val t0 = System.nanoTime()
    var dt = 0.0
    while (dt < MinSeconds) {
      f
      n += rows
      dt = (System.nanoTime() - t0) / 1e9
    }
    n / dt
  }

  def run(spark: SparkSession, texts: Seq[String],
      vectors: DataFrame): Map[String, Double] = {
    val u = texts.map(UTF8String.fromString).toArray
    val words = texts.iterator.flatMap(_.split(" ")).filter(_.nonEmpty)
      .take(20000).toArray
    val wu = words.map(UTF8String.fromString)
    // trained inputs for the model kernels, built outside the clock
    val ranks: Map[(String, String), Int] = words.iterator
      .flatMap(w => w.sliding(2).filter(_.length == 2).map(p => (p.take(1), p.drop(1))))
      .toSeq.groupBy(identity).toSeq.sortBy(-_._2.size).take(200)
      .zipWithIndex.map { case ((pair, _), i) => pair -> i }.toMap
    val uni = words.groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val bg = words.sliding(2).filter(_.length == 2)
      .map(p => p.mkString(" ")).toSeq.groupBy(identity)
      .map { case (b, bs) => (b, bs.size.toLong) }
    val lm = LmKernel.model(uni, bg)
    var sink = 0L
    val nVec = vectors.count().toInt
    val dims = vectors.head().getSeq[Float](0).size
    def vecRate(f: DataFrame => DataFrame): Double = rate(nVec)(graft.Force(f(vectors)))
    val out = Map(
      "HashKernels" -> rate(u.length)(u.foreach(t => sink += HashKernels.minhashSig(t).numElements())),
      "LshFunctions" -> vecRate(v => v.select(LshFunctions.buckets(spark, col("embedding"), 4, 8, dims))),
      "TokenCountKernel" -> rate(u.length)(u.foreach(t => sink += TokenCountKernel.wsTokenCount(t))),
      "Bpe" -> rate(wu.length)(wu.foreach(w => sink += Bpe.tokenize(w, ranks).numElements())),
      "LmKernel" -> rate(u.length)(u.foreach { t =>
        val r = LmKernel.lmScore(lm, t); if (r != null) sink += r.numElements() }),
      "RepetitionKernel" -> rate(u.length)(u.foreach(t => sink += RepetitionKernel.repetitionStats(t).numElements())),
      "ArrayMath" -> vecRate(v => v.select(ArrayMath.dot(spark, col("embedding"), col("embedding")))),
      "HtmlClean" -> rate(texts.length)(texts.foreach(t => sink += HtmlClean.clean(t).length)),
      "KmvTopKAgg" -> rate(u.length) {
        val st = new KmvTopKAgg.State(256)
        texts.foreach(t => t.split(" ").foreach(w => st.insert(w.hashCode.toLong)))
        sink += st.n
      },
      "TextFunctions" -> rate(texts.length)(texts.foreach(t => sink += TextFunctions.chunkText(t, 64).size)))
    if (sink == 42L) System.err.println("") // keeps the results live
    out
  }
}
