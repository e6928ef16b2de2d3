package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel outputs pinned against naive recomputations — the oracle checks
  * these at driver time; this catches kernel regressions at test time. */
class HashKernelsSpec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c d e a b c d e a b c",   // repeated shingles -> dedup
    "one two three",               // exactly 3 tokens -> 1 shingle
    "too short",                   // < 3 tokens -> null
    "")                            // 1 empty token -> null

  test("shingles: distinct 3-grams in first-occurrence order; null under 3 tokens") {
    val got = HashKernels.shingles(UTF8String.fromString(docs(1)))
    val want = docs(1).split(" ", -1).sliding(3).map(_.mkString(" ")).toSeq.distinct
    assert(got.numElements() == want.length)
    (0 until got.numElements()).foreach(i =>
      assert(got.getUTF8String(i).toString == want(i)))
    assert(HashKernels.shingles(UTF8String.fromString("too short")) == null)
    assert(HashKernels.shingles(UTF8String.fromString("")) == null)
  }

  test("ngrams == the interpreted transform/slice/array_join formulation " +
    "(200 random word bags)") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "bb", "ccc", "dd", "e", "fff", "g")
    (1 to 200).foreach { _ =>
      val n = 2 + rnd.nextInt(5)
      val toks = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      val text = toks.mkString(" ")
      val got = HashKernels.ngrams(UTF8String.fromString(text), n)
      // the reference formulation d11 originally used (see oracle SQL):
      // distinct n-token windows in first-occurrence order
      val split = text.split(" ", -1)
      if (split.length < n) assert(got == null, s"'$text' n=$n")
      else {
        val want = split.sliding(n).map(_.mkString(" ")).toSeq.distinct
        assert(got.numElements() == want.length, s"'$text' n=$n")
        (0 until got.numElements()).foreach(i =>
          assert(got.getUTF8String(i).toString == want(i), s"'$text' n=$n i=$i"))
      }
    }
  }

  test("ngramHashes == md5-top-60-bits of the distinct grams, deduped on " +
    "the hash (200 random word bags)") {
    // the d11 exchange key: ('0x' || substr(md5(gram), 1, 15))::BIGINT
    def hashOf(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).substring(0, 15), 16)
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "bb", "ccc", "dd", "e", "fff", "g")
    (1 to 200).foreach { _ =>
      val n = 2 + rnd.nextInt(5)
      val toks = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length)))
      val text = toks.mkString(" ")
      val got = HashKernels.ngramHashes(UTF8String.fromString(text), n)
      val split = text.split(" ", -1)
      if (split.length < n) assert(got == null, s"'$text' n=$n")
      else {
        val want = split.sliding(n).map(w => hashOf(w.mkString(" ")))
          .toSeq.distinct
        assert(got.numElements() == want.length, s"'$text' n=$n")
        (0 until got.numElements()).foreach(i =>
          assert(got.getLong(i) == want(i), s"'$text' n=$n i=$i"))
      }
    }
  }

  test("bloom probe on longs: no false negatives, codegen matches direct") {
    import spark.implicits._
    val keys = (1L to 500L).map(_ * 7919L)
    val bf = keys.toDF("k").stat.bloomFilter("k", 1 << 16, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    keys.foreach(k =>
      assert(HashKernels.bloomProbeLong(bf, k), s"false negative on $k"))
    val probed = (1L to 1000L).map(_ * 7919L).toDF("k")
      .filter(HashKernels.bloomProbeLongCol(col("k"), bfB))
      .collect().map(_.getLong(0)).toSet
    val direct = (1L to 1000L).map(_ * 7919L)
      .filter(k => HashKernels.bloomProbeLong(bf, k)).toSet
    assert(probed == direct)
    assert(keys.toSet.subsetOf(probed))
  }

  test("minhashSig == naive salted-md5 minima") {
    docs.take(3).foreach { doc =>
      val sig = HashKernels.minhashSig(UTF8String.fromString(doc))
      val shingles = doc.split(" ", -1).sliding(3).map(_.mkString(" ")).toSeq.distinct
      (0 until 8).foreach { h =>
        val want = shingles.map(s => md5hex(s"$h|$s")).min
        assert(sig.getUTF8String(h).toString == want, s"h=$h doc='$doc'")
      }
    }
  }

  test("simhash64Md5 == naive md5-prefix majority vote") {
    docs.take(3).foreach { doc =>
      val toks = doc.split(" ", -1).distinct
      val counts = new Array[Int](64)
      toks.foreach { t =>
        val h = java.lang.Long.parseUnsignedLong(md5hex(t).take(16), 16)
        (0 until 64).foreach { b =>
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        }
      }
      val want = (0 until 64)
        .map(b => if (counts(b) > 0) 1L << b else 0L).reduce(_ | _)
      assert(HashKernels.simhash64Md5(UTF8String.fromString(doc)) == want,
        s"doc='${doc.take(40)}...'")
    }
  }

  test("deletionVariants: recall-complete for lev <= k (k = 1, 2)") {
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    def variants(s: String, k: Int): Set[String] = {
      val a = HashKernels.deletionVariants(UTF8String.fromString(s), k)
      (0 until a.numElements()).map(a.getUTF8String(_).toString).toSet
    }
    // sizes: "abc" with k=1 -> {abc, bc, ac, ab}
    assert(variants("abc", 1) == Set("abc", "bc", "ac", "ab"))
    (1 to 200).foreach { _ =>
      val a = randStr(4 + rnd.nextInt(5))
      val b = randStr(4 + rnd.nextInt(5))
      val d = TextFunctions.levenshtein(a, b)
      Seq(1, 2).foreach { k =>
        if (d <= k)
          assert(variants(a, k).intersect(variants(b, k)).nonEmpty,
            s"lev('$a','$b')=$d but $k-deletion sets are disjoint")
      }
    }
  }
}
