package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token-predicate COUNT kernels (round-13, found by HofBanSpec):
  * t01/t02/t03 computed scalar counts through interpreted `filter(...)`
  * HOFs on the scan path — `size(filter(split(text), pred))` materializes
  * the token array AND the filtered array per row just to read one int off
  * it, with the lambda interpreted per element (the t06 class,
  * functions/RepetitionKernel.scala). Each kernel here walks the
  * UTF8String once, allocating nothing but the tokens it inspects:
  *
  *   - [[StopwordCountExpr]] (t01): whitespace tokens whose LOWERCASE form
  *     is in the stopword set. Tokenization is `split(" ", -1)` semantics
  *     (empty tokens kept — they just never match a stopword); lowercasing
  *     is per-token UTF8String.toLowerCase, identical to `lower(text)`
  *     then splitting, because ' ' is case-invariant.
  *   - [[LongTokenCountExpr]] (t02): whitespace tokens with at least
  *     `minChars` CHARACTERS (DuckDB len() counts codepoints, so the
  *     kernel counts codepoints via UTF8String.numChars, not bytes).
  *   - [[AlnumRunCountExpr]] (t03): maximal [a-zA-Z0-9]+ runs — the count
  *     `size(filter(split(text, "[^a-zA-Z0-9]+"), x -> len(x) > 0))`
  *     produces, with no regex engine and no arrays: a run boundary is an
  *     alnum byte preceded by a non-alnum (ASCII classes, and non-ASCII
  *     UTF-8 bytes are ≥ 0x80, never alnum, so byte-wise scanning is
  *     exact).
  *
  * The oracle SQL is untouched — these are plan rewrites with identical
  * integer outputs (OracleParity pinned by the t01/t02/t03 rows of the
  * driver gate; TokenCountKernelSpec fuzzes parity against the HOF forms).
  */
object TokenCountKernel {

  def stopwordCount(t: UTF8String, stops: java.util.HashSet[UTF8String],
      maxTokenBytes: Int): Int = {
    val n = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    var i = 0
    var start = 0
    var count = 0
    // maxTokenBytes is derived from the ACTUAL set by StopwordCountExpr
    // (ADVICE r13: a hardcoded cutoff silently un-matches any longer
    // stopword a caller passes); tokens past it cannot lowercase into the
    // set, so the probe (toLowerCase alloc + hash) is skipped
    def probe(s: Int, e: Int): Unit =
      if (e > s && e - s <= maxTokenBytes) {
        val tok = UTF8String.fromAddress(base, off + s, e - s)
        if (stops.contains(tok.toLowerCase)) count += 1
      }
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') {
        probe(start, i); start = i + 1
      }
      i += 1
    }
    probe(start, n)
    count
  }

  def longTokenCount(t: UTF8String, minChars: Int): Int = {
    val n = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    var i = 0
    var start = 0
    var count = 0
    def check(s: Int, e: Int): Unit = {
      // codepoint length: count non-continuation bytes (0b10xxxxxx)
      var chars = 0
      var j = s
      while (j < e) {
        val b = org.apache.spark.unsafe.Platform.getByte(base, off + j)
        if ((b & 0xC0) != 0x80) chars += 1
        j += 1
      }
      if (chars >= minChars) count += 1
    }
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ') {
        check(start, i); start = i + 1
      }
      i += 1
    }
    check(start, n)
    count
  }

  /** Whitespace-token count = spaces + 1: `split(" ", -1)` always yields
    * one more element than there are separators (empties included), so the
    * count needs no array at all. */
  def wsTokenCount(t: UTF8String): Int = {
    val n = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    var i = 0
    var count = 1
    while (i < n) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == ' ')
        count += 1
      i += 1
    }
    count
  }

  def alnumRunCount(t: UTF8String): Int = {
    val n = t.numBytes
    val base = t.getBaseObject
    val off = t.getBaseOffset
    var i = 0
    var count = 0
    var inRun = false
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      val alnum = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
        (b >= '0' && b <= '9')
      if (alnum && !inRun) count += 1
      inRun = alnum
      i += 1
    }
    count
  }

  case class StopwordCountExpr(child: Expression, stopwords: Seq[String])
      extends UnaryExpression {
    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](stopwords.size * 2)
      stopwords.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
    /** Raw-token-byte skip cutoff, derived from the set itself so a longer
      * stopword can never silently stop matching (ADVICE r13). The ×3 slack
      * is the worst UTF-8 LOWERCASE shrink ratio: a raw token is probed
      * after toLowerCase, and a mapping can shrink bytes (U+212A KELVIN
      * SIGN, 3 bytes, lowercases to 'k', 1 byte) — so a raw token up to
      * 3× the longest stopword's bytes could still lowercase into the set.
      * No simple-case mapping shrinks more than 3→1 bytes. */
    @transient private lazy val maxTokenBytes: Int =
      stopwords.foldLeft(0)((m, w) =>
        math.max(m, UTF8String.fromString(w).numBytes)) * 3
    override def dataType: DataType = IntegerType
    override def nullSafeEval(t: Any): Any =
      stopwordCount(t.asInstanceOf[UTF8String], set, maxTokenBytes)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stopSet", set, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TokenCountKernel.stopwordCount($c, $ref, $maxTokenBytes);""")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class LongTokenCountExpr(child: Expression, minChars: Int)
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(t: Any): Any =
      longTokenCount(t.asInstanceOf[UTF8String], minChars)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TokenCountKernel.longTokenCount($c, $minChars);""")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class WsTokenCountExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(t: Any): Any =
      wsTokenCount(t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TokenCountKernel.wsTokenCount($c);""")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class AlnumRunCountExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(t: Any): Any =
      alnumRunCount(t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.TokenCountKernel.alnumRunCount($c);""")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def stopwordCountCol(c: Column, stops: Seq[String]): Column =
    KernelColumn(StopwordCountExpr(KernelColumn.expr(c), stops))

  def longTokenCountCol(c: Column, minChars: Int): Column =
    KernelColumn(LongTokenCountExpr(KernelColumn.expr(c), minChars))

  def alnumRunCountCol(c: Column): Column =
    KernelColumn(AlnumRunCountExpr(KernelColumn.expr(c)))

  def wsTokenCountCol(c: Column): Column =
    KernelColumn(WsTokenCountExpr(KernelColumn.expr(c)))
}
