package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass exact repetition statistics — the codegen kernel form of t06's
  * Gopher-style within-document quality rule (SURVEY §2.7 T18 / §2.2 F6;
  * the declarative form lives at operators/TextAnalysis.scala t06).
  *
  * The HOF formulation (`transform(sequence(...))` n-gram arrays +
  * `array_distinct`) is interpreted per element and materializes every
  * n-gram STRING three times over; per the hot-path invariant (HofBanSpec:
  * interpreted HOFs banned, per-row algorithmic kernels are codegen
  * expressions) this kernel folds the whole computation into one pass with
  * NO n-gram string allocation:
  *
  *   - tokens intern to dense int ids (exact string identity, one
  *     HashMap probe per token);
  *   - a 2-gram is the packed long (idA << 32 | idB) — interned to a
  *     dense pair id; distinct-2-gram count = the intern table's size;
  *   - a 3-gram is the packed long (pairId(i,i+1) << 32 | id(i+2)) —
  *     exact because both halves are exact identities, so three tokens
  *     collide iff they ARE the same triple. No hashing approximation
  *     anywhere: for non-null text the fractions are bit-identical to the
  *     HOF form's. NULL text propagates NULL for all three fractions
  *     (UnaryExpression null semantics, matching the DuckDB oracle); the
  *     old HOF's `when(size >= n)` guard evaluated its `otherwise` branch
  *     on a NULL predicate and yielded NULL/1.0/1.0 instead — the kernel's
  *     behavior is the correct one.
  *
  * Tokenization is `split(" ", -1)` — identical to Spark's
  * `split(text, " ")` and DuckDB's `string_split` (empty tokens from
  * consecutive/trailing spaces kept), the same contract [[LmKernel]]
  * documents. Division/subtraction order mirrors the declarative
  * expression (`1 - distinct * 1.0 / greatest(count, 1)`) so the doubles
  * round identically; an n-gram order longer than the document scores
  * 1 - 0/1 = 1.0 exactly like `dupFrac(array())` does.
  *
  * Scale shape: row-local, zero shuffles, codegen — and cheap enough that
  * the terminal orderBy's range-boundary sampling pass (which re-runs the
  * projection: the q31/q12 double-run lesson) stops mattering; shipping
  * 3 doubles through the sort keeps exchange bytes minimal (the q16
  * lesson: never range-exchange the raw text below the projection).
  */
object RepetitionKernel {

  private def cap(n: Int): Int =
    if (n > (1 << 29)) 1 << 30 else math.max(n * 2, 8)

  /** Returns [dup_word_frac, dup_2gram_frac, dup_3gram_frac], unrounded. */
  def repetitionStats(t: UTF8String): ArrayData = {
    val toks = t.toString.split(" ", -1)
    val n = toks.length
    val ids = new Array[Int](n)
    // Initial capacities saturate at 1<<30: n*2 would overflow Int (and
    // throw) past ~2^30 tokens — unreachable under UTF8String's 2GB bound,
    // but guarded anyway.
    val tokMap = new java.util.HashMap[String, Integer](cap(n))
    var i = 0
    while (i < n) {
      val prev = tokMap.putIfAbsent(toks(i), tokMap.size)
      ids(i) = if (prev == null) tokMap.size - 1 else prev.intValue
      i += 1
    }
    val dw = 1.0 - tokMap.size * 1.0 / math.max(n, 1)

    val c2 = math.max(n - 1, 0)
    val pairIds = new Array[Int](c2)
    val pairMap = new java.util.HashMap[java.lang.Long, Integer](cap(c2))
    i = 0
    while (i < c2) {
      val key = java.lang.Long.valueOf((ids(i).toLong << 32) | ids(i + 1))
      val prev = pairMap.putIfAbsent(key, pairMap.size)
      pairIds(i) = if (prev == null) pairMap.size - 1 else prev.intValue
      i += 1
    }
    val d2 = 1.0 - pairMap.size * 1.0 / math.max(c2, 1)

    val c3 = math.max(n - 2, 0)
    val triSet = new java.util.HashSet[java.lang.Long](cap(c3))
    i = 0
    while (i < c3) {
      triSet.add((pairIds(i).toLong << 32) | ids(i + 2))
      i += 1
    }
    val d3 = 1.0 - triSet.size * 1.0 / math.max(c3, 1)
    new GenericArrayData(Array(dw, d2, d3))
  }

  case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      repetitionStats(t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.RepetitionKernel.repetitionStats($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def repetitionStatsCol(c: Column): Column =
    KernelColumn(RepetitionStatsExpr(KernelColumn.expr(c)))
}
