package graft.functions

import org.apache.spark.sql.{Column, KernelColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row signature kernels for the dedup family (X5):
  *
  * The round-1 shapes computed MinHash/SimHash signatures by exploding
  * shingles/tokens and aggregating back per doc — one doc-keyed shuffle of
  * the full shingle volume per query, plus 8 Catalyst md5 calls per exploded
  * row. These kernels compute the complete signature row-locally in one
  * expression: the scan emits (doc_id, signature) directly and the ONLY
  * shuffle left in the dedup queries is the band-key candidate join. At
  * 100 TB that removes the largest exchange (the corpus's shingles) from the
  * plan entirely.
  *
  * Hash formulations are unchanged and oracle-compatible:
  *   - shingles: distinct 3-word shingles of the single-space token split
  *   - minhash:  sig[h] = min over shingles of md5("h|" + shingle), hex —
  *     identical to DuckDB's md5() (hex order == byte order, so minima agree)
  *   - simhash:  per-bit majority of the first 8 bytes of md5(token) —
  *     DuckDB's substr(md5(x),1,16) read as a UBIGINT
  */
object HashKernels {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = hexDigits((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic byte compare (== hex-string order). */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Distinct 3-word shingles, first-occurrence order; null if < 3 tokens
    * (mirrors the explode form's `lead(2) IS NOT NULL` filter). */
  private def shingleSet(text: UTF8String): java.util.LinkedHashSet[String] = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return null
    val set = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + 2 < toks.length) {
      set.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    set
  }

  def shingles(text: UTF8String): ArrayData = {
    val set = shingleSet(text)
    if (set == null) return null
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  /** Distinct n-token grams, first-occurrence order; null if < n tokens.
    * The general-n sibling of [[shingles]] (d11's 5-gram decontamination).
    * Value-identical to `array_distinct(transform(sequence(1, len-n+1),
    * i -> array_join(slice(toks, i, n), ' ')))` — but one codegen'd call
    * per row instead of an interpreted lambda per gram. */
  def ngrams(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return null
    val set = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  /** 60-bit md5-derived hashes of the distinct n-token grams of `text`,
    * first-occurrence order, deduped on the HASH value; null if < n tokens.
    * The hashed sibling of [[ngrams]] (VERDICT r5 #3): the gram string never
    * escapes the kernel, so everything downstream — explode, bloom probe,
    * broadcast join, exchange — carries 8-byte longs instead of ~25-byte
    * gram strings. Value-identical to DuckDB's
    * list_distinct(list_transform(grams, g ->
    *   ('0x' || substr(md5(g), 1, 15))::BIGINT)) — 15 hex chars = the top
    * 60 bits of the digest, same slice as the KMV hash. */
  def ngramHashes(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return null
    val set = new java.util.LinkedHashSet[java.lang.Long](toks.length * 2)
    val digest = md.get()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      digest.reset()
      val d = digest.digest(sb.toString.getBytes("UTF-8"))
      // hex chars 1..15 = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) >> 4) & 0xfL)
      set.add(v)
      i += 1
    }
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(arr)
  }

  /** Bloom probe for long keys (the hashed-gram path). */
  def bloomProbeLong(
      bf: org.apache.spark.util.sketch.BloomFilter, v: Long): Boolean =
    bf.mightContainLong(v)

  /** 8-element MinHash signature (hex md5 minima under salts "0|".."7|").
    * The digest streams `<salt digit> '|' <shingle bytes>` — the same byte
    * sequence as md5(h || '|' || s), with one UTF-8 encode per shingle and
    * zero per-hash string allocation. */
  def minhashSig(text: UTF8String): ArrayData = {
    val set = shingleSet(text)
    if (set == null) return null
    val digest = md.get()
    val mins = new Array[Array[Byte]](8)
    val it = set.iterator()
    while (it.hasNext) {
      val sBytes = it.next().getBytes("UTF-8")
      var h = 0
      while (h < 8) {
        digest.reset()
        digest.update(('0' + h).toByte)
        digest.update('|'.toByte)
        digest.update(sBytes)
        val d = digest.digest()
        if (mins(h) == null || less(d, mins(h))) mins(h) = d
        h += 1
      }
    }
    new GenericArrayData(
      mins.map(m => UTF8String.fromString(hex(m)): Any))
  }

  /** 64-bit SimHash over distinct whitespace tokens, bit source = the first
    * 8 bytes (big-endian) of md5(token) — bit-identical to DuckDB's
    * ('0x' || substr(md5(x),1,16))::UBIGINT, which makes the whole SimHash
    * pipeline oracle-checkable. */
  def simhash64Md5(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val counts = new Array[Int](64)
    val digest = md.get()
    var i = 0
    while (i < toks.length) {
      if (seen.add(toks(i))) {
        digest.reset()
        val d = digest.digest(toks(i).getBytes("UTF-8"))
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** All strings obtainable from `text` by deleting at most `k` characters
    * (the FastSS/SymSpell deletion neighborhood): lev(a,b) ≤ k implies the
    * ≤k-deletion sets of a and b intersect — delete each side's edited
    * positions — so an equi-join on variants is a recall-complete candidate
    * generator for an edit-distance-k join. |result| ≈ C(len, k); intended
    * for short keys and k ≤ 2 (PassJoin segment blocking is the k>2 path). */
  def deletionVariants(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val out = new java.util.LinkedHashSet[String]()
    out.add(s)
    var frontier = new java.util.LinkedHashSet[String]()
    frontier.add(s)
    var round = 0
    while (round < k) {
      val next = new java.util.LinkedHashSet[String]()
      val it = frontier.iterator()
      while (it.hasNext) {
        val t = it.next()
        var i = 0
        while (i < t.length) {
          val v = t.substring(0, i) + t.substring(i + 1)
          if (out.add(v)) next.add(v)
          i += 1
        }
      }
      frontier = next
      round += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }

  // ------------------------------------------------------------- PassJoin
  // Segment blocking for edit-distance joins at k where the deletion
  // neighborhood explodes (C(len,k)): split every INDEX-side string into
  // k+1 segments (pigeonhole: ≤k edits leave ≥1 segment untouched, and an
  // untouched segment occurs in the probe string shifted by at most k —
  // the edits before it each shift positions by ≤1). Candidates are then
  // an equi-join on "slot|len|segment" keys; only candidates pay the
  // levenshtein verify. Cf. PassJoin (Li, Deng, Feng; VLDB'11) — public
  // algorithm, re-derived here with a conservative ±k position window.

  /** Start offset of slot `i` when a length-`n` string splits into k+1
    * even segments, shorter segments first. */
  private def segStart(n: Int, k: Int, i: Int): Int = {
    val q = n / (k + 1); val r = n % (k + 1); val firstShort = k + 1 - r
    if (i < firstShort) q * i
    else q * firstShort + (q + 1) * (i - firstShort)
  }

  private def segLen(n: Int, k: Int, i: Int): Int = {
    val q = n / (k + 1); val r = n % (k + 1)
    if (i < k + 1 - r) q else q + 1
  }

  /** Index-side keys: one "slot|len|segment" per slot. Strings of length
    * ≤ k collapse to the single key "T" (tiny fallback — every probe of
    * length ≤ 2k mirrors it, and tiny×tiny candidates verify cheaply). */
  def passjoinIndexKeys(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString; val n = s.length
    val out = new java.util.ArrayList[Any](k + 1)
    if (n <= k) out.add(UTF8String.fromString("T"))
    else {
      var i = 0
      while (i <= k) {
        val st = segStart(n, k, i); val L = segLen(n, k, i)
        out.add(UTF8String.fromString(
          i.toString + "|" + n + "|" + s.substring(st, st + L)))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Probe-side keys: for every index length n within ±k of this string's
    * length and every slot, the substrings starting within ±k of the
    * slot's nominal position. O((k+1)·(2k+1)²) short keys per string. */
  def passjoinProbeKeys(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString; val m = s.length
    val out = new java.util.LinkedHashSet[String]()
    if (m <= 2 * k) out.add("T")
    var n = math.max(k + 1, m - k)
    val nHi = m + k
    while (n <= nHi) {
      var i = 0
      while (i <= k) {
        val p = segStart(n, k, i); val L = segLen(n, k, i)
        var st = math.max(0, p - k)
        val hi = math.min(m - L, p + k)
        while (st <= hi) {
          out.add(i.toString + "|" + n + "|" + s.substring(st, st + L))
          st += 1
        }
        i += 1
      }
      n += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(arr)
  }

  // ---------------------------------------------------------- expressions

  abstract class KernelExpr extends UnaryExpression {
    override def nullable: Boolean = true
    protected def kernelCall: String // e.g. "graft.functions.HashKernels.shingles"

    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = $kernelCall($c);
        ${ev.isNull} = ${ev.value} == null;""")
  }

  case class ShinglesExpr(child: Expression) extends KernelExpr {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def kernelCall = "graft.functions.HashKernels.shingles"
    override def nullSafeEval(t: Any): Any = shingles(t.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class MinHashSigExpr(child: Expression) extends KernelExpr {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def kernelCall = "graft.functions.HashKernels.minhashSig"
    override def nullSafeEval(t: Any): Any = minhashSig(t.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class DeletionVariantsExpr(child: Expression, k: Int)
    extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      deletionVariants(t.asInstanceOf[UTF8String], k)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.deletionVariants($c, $k)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class SimHash64Md5Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(t: Any): Any =
      simhash64Md5(t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.simhash64Md5($c)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class NgramsExpr(child: Expression, n: Int) extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      ngrams(t.asInstanceOf[UTF8String], n)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.HashKernels.ngrams($c, $n);
        ${ev.isNull} = ${ev.value} == null;""")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class NgramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      ngramHashes(t.asInstanceOf[UTF8String], n)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.HashKernels.ngramHashes($c, $n);
        ${ev.isNull} = ${ev.value} == null;""")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Codegen'd Bloom membership test over LONG keys. The filter rides a
    * Spark broadcast (shipped once per executor, not per task closure)
    * referenced from the generated code via `addReferenceObj` — this is what
    * a Scala UDF probe can't do without boxing every row. */
  case class BloomProbeLongExpr(
      child: Expression,
      bf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
    override def nullable: Boolean = true
    override def dataType: DataType = BooleanType
    override def nullSafeEval(t: Any): Any =
      bloomProbeLong(bf.value, t.asInstanceOf[Long])
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomBc", bf,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.HashKernels.bloomProbeLong(
          (org.apache.spark.util.sketch.BloomFilter) $ref.value(), $c);""")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class PassjoinIndexExpr(child: Expression, k: Int)
    extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      passjoinIndexKeys(t.asInstanceOf[UTF8String], k)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.passjoinIndexKeys($c, $k)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class PassjoinProbeExpr(child: Expression, k: Int)
    extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(t: Any): Any =
      passjoinProbeKeys(t.asInstanceOf[UTF8String], k)
    override protected def doGenCode(
        ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashKernels.passjoinProbeKeys($c, $k)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def passjoinIndexKeysCol(c: Column, k: Int): Column =
    KernelColumn(PassjoinIndexExpr(KernelColumn.expr(c), k))

  def passjoinProbeKeysCol(c: Column, k: Int): Column =
    KernelColumn(PassjoinProbeExpr(KernelColumn.expr(c), k))

  def ngramsCol(c: Column, n: Int): Column =
    KernelColumn(NgramsExpr(KernelColumn.expr(c), n))

  def bloomProbeLongCol(
      c: Column,
      bf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    KernelColumn(BloomProbeLongExpr(KernelColumn.expr(c), bf))

  def ngramHashesCol(c: Column, n: Int): Column =
    KernelColumn(NgramHashesExpr(KernelColumn.expr(c), n))

  def deletionVariantsCol(c: Column, k: Int): Column =
    KernelColumn(DeletionVariantsExpr(KernelColumn.expr(c), k))

  def shinglesCol(c: Column): Column =
    KernelColumn(ShinglesExpr(KernelColumn.expr(c)))

  def minhashSigCol(c: Column): Column =
    KernelColumn(MinHashSigExpr(KernelColumn.expr(c)))

  def simhash64Md5Col(c: Column): Column =
    KernelColumn(SimHash64Md5Expr(KernelColumn.expr(c)))
}
