package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local bigram-LM quality scoring (the kernel form of t14, used by the
  * streaming ingest gate t14s).
  *
  * The batch query scores documents with explode → broadcast-join → groupBy;
  * that is the right shape when the OUTPUT is per-bigram joinable state, but
  * an ingest-time gate wants one row in → one row out with no shuffle at
  * all. This kernel folds the whole per-document loop — tokenize, pair
  * bigrams, probe the two count tables, Laplace-smooth, integer-average —
  * into a single codegen'd expression over a Spark broadcast of the LM
  * (shipped once per executor via `addReferenceObj`, exactly the
  * [[HashKernels.BloomProbeLongExpr]] mechanics). Arithmetic is the SAME
  * pure integer milli-unit formulation as t14's oracle:
  * ipb = ((C(w1) + V) * 1000) div (C(w1 w2) + 1), score = mean div.
  *
  * At 100 TB the LM tables are bounded by the held-out slice (eval sets are
  * small by construction), so the broadcast is a few MB however large the
  * corpus — the stream pays a row-local probe and ZERO exchanges.
  */
object LmKernel {

  /** Bigram LM counts. Java HashMaps: probed from generated code per token,
    * no boxing of values beyond the Long cache. */
  final class LmModel(
      val uni: java.util.HashMap[String, Long],
      val bg: java.util.HashMap[String, Long],
      val v: Long)
    extends Serializable

  /** Build the model from driver-collected count rows. Bounded by the
    * eval-set vocabulary (|uni| = V, |bg| <= V²) — the same
    * bounded-artifact-collect posture as the BPE rank table. */
  def model(
      uni: Iterable[(String, Long)],
      bg: Iterable[(String, Long)]): LmModel = {
    val u = new java.util.HashMap[String, Long]()
    uni.foreach { case (k, c) => u.put(k, c) }
    val b = new java.util.HashMap[String, Long]()
    bg.foreach { case (k, c) => b.put(k, c) }
    new LmModel(u, b, u.size.toLong)
  }

  /** Score one document: returns [n_bigrams, score_milli], or null for
    * texts with fewer than two tokens (no bigram evidence — the batch
    * query's size >= 2 filter). split(" ", -1) keeps empty tokens exactly
    * like Spark's `split(text, " ")` and DuckDB's string_split. */
  def lmScore(m: LmModel, t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    if (toks.length < 2) return null
    var sum = 0L
    var i = 0
    while (i < toks.length - 1) {
      val w1 = toks(i)
      val cw = m.uni.getOrDefault(w1, 0L)
      val cbg = m.bg.getOrDefault(w1 + " " + toks(i + 1), 0L)
      sum += ((cw + m.v) * 1000L) / (cbg + 1L)
      i += 1
    }
    val n = (toks.length - 1).toLong
    new GenericArrayData(Array(n, sum / n))
  }

  case class LmScoreExpr(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      bc: org.apache.spark.broadcast.Broadcast[LmModel])
    extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      lmScore(bc.value, t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("lmBc", bc,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.LmKernel.lmScore(
          (graft.functions.LmKernel.LmModel) $ref.value(), $c);
        ${ev.isNull} = ${ev.value} == null;""")
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
  }

  /** Column wrapper: the document's score against the broadcast LM. */
  def lmScoreCol(
      c: Column,
      bc: org.apache.spark.broadcast.Broadcast[LmModel]): Column =
    KernelColumn(LmScoreExpr(KernelColumn.expr(c), bc))
}
