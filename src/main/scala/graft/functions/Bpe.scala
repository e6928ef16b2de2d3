package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernels — the real tokenizer behind the t03 "BPE-ish"
  * token counts: greedy pair merging (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — the openly published
  * algorithm every modern LLM tokenizer descends from).
  *
  * Spark split of responsibilities: TRAINING is a short driver loop of
  * whole-corpus aggregations over the word-TYPE vocabulary (one explode +
  * groupBy-sum + 1-row argmax per merge — the d07-style bounded iteration),
  * while APPLICATION is a pure per-row codegen kernel against a broadcast
  * rank table — the corpus-scale hot path never shuffles for tokenization.
  *
  * All state is integer counts with lexicographic tie-breaks, so training
  * is deterministic under any partitioning (the precondition for the t11
  * fixture pin).
  */
object Bpe {

  /** One merge rule applied greedily left-to-right: every non-overlapping
    * adjacent (left, right) becomes the concatenation. */
  def mergePair(syms: ArrayData, left: UTF8String, right: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i < n - 1 && syms.getUTF8String(i) == left &&
          syms.getUTF8String(i + 1) == right) {
        out.add(UTF8String.concat(left, right))
        i += 2
      } else {
        out.add(syms.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Full BPE tokenization of one word against a trained rank table: start
    * from characters, repeatedly merge the LOWEST-rank applicable pair
    * (all its occurrences, left-to-right) until none applies. */
  def tokenize(word: UTF8String,
               ranks: Map[(String, String), Int]): ArrayData = {
    // split by CODE POINT (matching Spark's split(col, "") regex behavior,
    // which never cuts a surrogate pair)
    val s0 = word.toString
    val cps = new scala.collection.mutable.ArrayBuffer[String](s0.length)
    var p = 0
    while (p < s0.length) {
      val cc = Character.charCount(s0.codePointAt(p))
      cps += s0.substring(p, p + cc)
      p += cc
    }
    var syms: Array[String] = cps.toArray
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bl: String = null; var br: String = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bl == null) done = true
      else {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == bl && syms(j + 1) == br) {
            out += bl + br; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
        done = syms.length < 2
      }
    }
    new GenericArrayData(syms.map(UTF8String.fromString))
  }

  case class BpeMergeExpr(child: Expression, left: String, right: String)
    extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    private lazy val l8 = UTF8String.fromString(left)
    private lazy val r8 = UTF8String.fromString(right)
    override def nullSafeEval(t: Any): Any =
      mergePair(t.asInstanceOf[ArrayData], l8, r8)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeLeft", l8,
        "org.apache.spark.unsafe.types.UTF8String")
      val rRef = ctx.addReferenceObj("bpeRight", r8,
        "org.apache.spark.unsafe.types.UTF8String")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Bpe.mergePair($c, $lRef, $rRef);""")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class BpeTokenizeExpr(
      child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]])
    extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      tokenize(t.asInstanceOf[UTF8String], bc.value)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeRanks", bc,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.Bpe.tokenize(
          $c, (scala.collection.immutable.Map) $ref.value());""")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Merge-rule column: [[mergePair]] of `c` under one rule. */
  def mergePairCol(c: Column, left: String, right: String): Column =
    KernelColumn(BpeMergeExpr(KernelColumn.expr(c), left, right))

  /** Tokenizer column against a broadcast rank table. */
  def tokenizeCol(
      c: Column,
      bc: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]])
      : Column =
    KernelColumn(BpeTokenizeExpr(KernelColumn.expr(c), bc))
}
