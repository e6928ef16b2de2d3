package graft.functions

import org.apache.spark.sql.{Column, KernelColumn, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH bucket computation as ONE compact expression.
  *
  * The naive form — L×k separate dot-product columns, each against its own
  * array literal — generates k× the code (16 inlined literal arrays) and
  * re-reads the embedding array 16 times; Janino compile time alone
  * dominates a small-SF bench run. This expression holds the plane matrix as
  * a codegen reference object and emits all L bucket keys in a single pass
  * per row: `lsh_buckets(v) = [bucket_0, …, bucket_{L-1}]` where
  * `bucket_t = Σ_j (v · plane[t*k+j] > 0) << j`.
  *
  * Plane weights are md5-derived driver-side (see [[LshFunctions]]) —
  * bit-identical to the DuckDB formulation, so the whole LSH ANN pipeline
  * is oracle-checkable — without running a Spark job to materialize them.
  */
case class LshBuckets(
    child: Expression,
    planes: Array[Array[Double]],
    kBits: Int)
  extends UnaryExpression {

  private def nTables: Int = planes.length / kBits

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType  => true
      case DoubleType => false
      case other => throw new IllegalArgumentException(
        s"lsh_buckets over unsupported element type $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var b = 0
      var j = 0
      while (j < kBits) {
        val pl = planes(t * kBits + j)
        val n = math.min(v.numElements(), pl.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * pl(i)
          i += 1
        }
        if (acc > 0) b |= (1 << j)
        j += 1
      }
      out(t) = b
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val pl   = ctx.addReferenceObj("planes", planes, "double[][]")
      val out  = ctx.freshName("out")
      val acc  = ctx.freshName("acc")
      val getter = if (isFloat) s"(double) $v.getFloat" else s"$v.getDouble"
      s"""
         |int[] $out = new int[$nTables];
         |for (int t = 0; t < $nTables; t++) {
         |  int b = 0;
         |  for (int j = 0; j < $kBits; j++) {
         |    double[] p = $pl[t * $kBits + j];
         |    int n = java.lang.Math.min($v.numElements(), p.length);
         |    double $acc = 0.0;
         |    for (int i = 0; i < n; i++) { $acc += ${getter}(i) * p[i]; }
         |    if ($acc > 0) b |= (1 << j);
         |  }
         |  $out[t] = b;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshFunctions {

  /** Deterministic plane weight for (plane p, dim i): the first 8 hex chars
    * of md5("<p>_<i>") as an unsigned 32-bit value, mapped through mod 2000
    * → [0, 2000) → /1000.0 - 1.0 in IEEE double arithmetic — the exact op
    * sequence of DuckDB's
    * `(('0x'||substr(md5(p||'_'||i),1,8))::UBIGINT % 2000)/1000.0 - 1.0`,
    * which is what makes the LSH ANN oracle-checkable (same trade as the
    * d04 SimHash bit source: md5 costs more than xxhash64 per value, but
    * the planes are computed ONCE driver-side, so here it is free). */
  private def weight(p: Int, i: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val d = digest.digest(s"${p}_$i".getBytes("UTF-8"))
    var h = 0L
    var j = 0
    while (j < 4) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    (h % 2000).toDouble / 1000.0 - 1.0
  }

  @volatile private var planeCache: Map[(Int, Int), Array[Array[Double]]] = Map.empty

  /** nPlanes × dims plane matrix, cached (driver-side pure computation — no
    * Spark job). */
  def planes(nPlanes: Int, dims: Int): Array[Array[Double]] =
    planeCache.getOrElse((nPlanes, dims), {
      val arr = Array.tabulate(nPlanes, dims)((p, i) => weight(p, i))
      synchronized { planeCache += ((nPlanes, dims) -> arr) }
      arr
    })

  /** Column of `array<int>` LSH bucket keys (one per table) for an
    * `array<float|double>` embedding column; the expression carries the
    * plane matrix. `spark` is unused; perfbench's Kernels still passes it. */
  def buckets(
      spark: SparkSession,
      embedding: Column,
      nTables: Int,
      kBits: Int,
      dims: Int): Column =
    KernelColumn(LshBuckets(
      KernelColumn.expr(embedding), planes(nTables * kBits, dims), kBits))
}
