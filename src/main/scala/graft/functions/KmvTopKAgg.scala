package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded k-min-distinct aggregate: the KMV sketch state (the k smallest
  * DISTINCT values of a long column) as a single aggregation instead of
  * distinct + salted rank windows.
  *
  * Why it exists (guide §2.3 "aggregate before you shuffle"): the window
  * form must first materialize every distinct (group, hash) row through a
  * full hash exchange before any rank can prune to k — the shuffle carries
  * the corpus's whole distinct-key set. This aggregate prunes MAP-SIDE:
  * each task's partial state is ≤ k sorted longs per group, so the exchange
  * carries one ≤(8k+4)-byte state per (task, group) whatever the corpus
  * size — the same bounded-state posture the streaming twins (q45s/q46s)
  * already maintain in flatMapGroupsWithState, now shared by the batch path.
  *
  * Parity boundary vs the window form (orderBy(h) ascending + row_number):
  * identical for non-null input — insertion order is signed-long ascending,
  * duplicates are dropped exactly as DISTINCT drops them, and ties cannot
  * occur within a group after dedup. NULL inputs are SKIPPED here (standard
  * aggregate-input semantics) where a rank window would sort them first;
  * every caller feeds md5-derived non-null hashes, so the boundary is
  * unreachable in the declared queries (KmvTopKAggSpec pins both the parity
  * and this boundary).
  *
  * State is an insertion-sorted primitive array (binary search + arraycopy;
  * a row larger than the current k-th minimum costs one comparison).
  * Evaluates to array<bigint> sorted ascending, so element k (1-based) IS
  * the sketch's θ and posexplode positions reproduce the window's rank.
  */
object KmvTopKAgg {

  /** Mutable partial state: sorted distinct minima, capped at k. */
  final class State(val k: Int) extends Serializable {
    var n: Int = 0
    val arr: Array[Long] = new Array[Long](k)

    def insert(h: Long): Unit = {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < h) lo = mid + 1 else hi = mid
      }
      if (lo < n && arr(lo) == h) return // distinct: already kept
      if (n == k) {
        if (lo >= k) return // not below the current k-th minimum
        System.arraycopy(arr, lo, arr, lo + 1, k - lo - 1)
        arr(lo) = h
      } else {
        System.arraycopy(arr, lo, arr, lo + 1, n - lo)
        arr(lo) = h
        n += 1
      }
    }

    def mergeFrom(o: State): Unit = {
      var i = 0
      while (i < o.n && (n < k || o.arr(i) < arr(n - 1))) {
        insert(o.arr(i))
        i += 1
      } // o is sorted: once o's next value can't enter, none after it can
    }
  }

  case class KmvTopKExpr(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[State] {

    require(k > 0, "kmv top-k needs k > 0")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def createAggregationBuffer(): State = new State(k)

    override def update(b: State, row: InternalRow): State = {
      val v = child.eval(row)
      if (v != null) b.insert(v.asInstanceOf[Long])
      b
    }

    override def merge(b: State, o: State): State = { b.mergeFrom(o); b }

    override def eval(b: State): Any =
      new GenericArrayData(java.util.Arrays.copyOfRange(b.arr, 0, b.n))

    override def serialize(b: State): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
      bb.putInt(b.n)
      var i = 0
      while (i < b.n) { bb.putLong(b.arr(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): State = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val s = new State(k)
      s.n = bb.getInt
      var i = 0
      while (i < s.n) { s.arr(i) = bb.getLong; i += 1 }
      s
    }

    override def withNewMutableAggBufferOffset(o: Int): KmvTopKExpr =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvTopKExpr =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(child = c.head)
    override def prettyName: String = "graft_kmv_topk"
  }

  /** `kmvTopKCol(col, 64)` — array of the 64 smallest distinct longs per
    * group, sorted ascending: the aggregate wrapped as a (non-distinct,
    * complete-mode) AggregateExpression, as the analyzer wraps a resolved
    * aggregate function. */
  def kmvTopKCol(c: Column, k: Int): Column =
    KernelColumn(KmvTopKExpr(KernelColumn.expr(c), k).toAggregateExpression())
}
