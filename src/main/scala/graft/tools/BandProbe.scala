package graft.tools

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures d04's documented scale escape (SCALE.md: "4×16-bit band keys
  * saturate at high corpus counts — the xxhash64 kernel + wider bands are
  * the scale path") so the escape is a MEASURED trade, not a note.
  *
  * Candidate volume under banded SimHash is Σ_bands Σ_buckets C(occ, 2) ≈
  * bands · n²/2^(width+1): at fixed width it grows quadratically in the
  * corpus and the only structural escape is widening the band key — which
  * costs recall, because a pair must now agree on MORE consecutive bits
  * to be seen at all. This probe quantifies both sides on the same
  * corpus, against the same truth:
  *
  *   a16x4_md5 — the declared d04 banding (4×16 over the md5-bit 64-bit
  *               signature): the baseline, recall 1 by definition;
  *   b32x2_md5 — 2×32-bit bands of the SAME signature (widen in place:
  *               bucket space ×2^16, band count halves);
  *   c16x8_xx  — 8×16-bit bands of a 128-bit xxhash64 signature (seeds
  *               42/43): MORE bands at the same width — the recall
  *               direction, candidates ×2;
  *   d32x4_xx  — 4×32-bit bands of the 128-bit signature: same band
  *               count as declared, bucket space ×2^16.
  *
  * Truth is ALWAYS the declared similarity predicate — md5-signature
  * hamming ≤ 16 — so `pairs` is comparable across schemes and recall is
  * pairs/pairs(a16x4). Per-hamming-band rows show WHERE the recall goes
  * (tight dups at h≤4 vs the loose tail): SimHash LSH theory says a
  * pair at bit-agreement p survives a width-w band with p^w per band, so
  * wider keys shed the loose tail first but are NOT free even at h≈0.
  * Each scheme runs the d04 plan shape: one pinned band exchange,
  * ReusedExchange self-join, first-match-band pair dedup (no distinct),
  * one agg action — wall is end-to-end over the shared materialized
  * signature frame.
  *
  *   sbt "runMain graft.tools.BandProbe target/sf1 a16x4_md5,d32x4_xx"
  */
object BandProbe {

  /** A band is a (word index, bit offset, width) slice of the signature
    * words; a scheme is an ordered list of non-overlapping bands. */
  final case class Scheme(name: String, words: Seq[String],
      bands: Seq[(Int, Int, Int)])

  /** xx word names in seed order (seed = 42 + index). */
  private val XxWords = (0 until 24).map(i => f"x$i%02d")

  val schemes: Seq[Scheme] = Seq(
    Scheme("a16x4_md5", Seq("m"), (0 until 4).map(b => (0, 16 * b, 16))),
    Scheme("b32x2_md5", Seq("m"), (0 until 2).map(b => (0, 32 * b, 32))),
    Scheme("c16x8_xx", XxWords.take(2),
      (0 until 8).map(b => (b / 4, 16 * (b % 4), 16))),
    Scheme("d32x4_xx", XxWords.take(2),
      (0 until 4).map(b => (b / 2, 32 * (b % 2), 32))),
    // the COMPLETE escape: wide keys kill the n²/2^17 random-collision
    // saturation term, band COUNT buys the recall back (per-band survival
    // is p^width — more independent bands is the only dial that raises it
    // at fixed width). 12×32 needs a 384-bit signature: six xx words, one
    // kernel pass each, still cheaper than one md5 word per token.
    Scheme("e32x12_xx", XxWords.take(6),
      (0 until 12).map(b => (b / 2, 32 * (b % 2), 32))),
    // the recall-parity point: 48×32 bands over a 1,536-bit signature —
    // the measured test of "band count recovers the declared banding's
    // tight recall at zero junk" (24 kernel words: linear scan-side cost,
    // the price is band-exchange row width)
    Scheme("f32x48_xx", XxWords,
      (0 until 48).map(b => (b / 2, 32 * (b % 2), 32))),
    // the middle width: 24-bit keys push the junk term to n²·B/2²⁵
    // (10³× less than 16-bit) at a far gentler per-band recall price
    // than 32-bit — the measured sweet spot for 10⁷-10⁸-doc corpora
    Scheme("g24x12_xx", XxWords.take(6),
      (0 until 12).map(b => (b / 2, 24 * (b % 2), 24))))

  private def slice(word: Column, off: Int, width: Int): Column = {
    val mask = if (width == 64) -1L else (1L << width) - 1L
    shiftright(word, off).bitwiseAND(lit(mask))
  }

  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val only = if (args.length > 1) args(1).split(",").toSet
                else schemes.map(_.name).toSet
    // a typo'd scheme name would otherwise silently select nothing and
    // print an empty report that reads like a clean run
    val known = schemes.map(_.name).toSet + "truth"
    val unknown = only -- known
    require(unknown.isEmpty,
      s"unknown scheme(s) ${unknown.mkString(",")}; known: " +
        known.toSeq.sorted.mkString(","))
    val spark = GraftSession.get("band-probe")
    import graft.functions.HashKernels

    // one signature frame shared by every scheme, materialized before any
    // timing: the md5 word is the truth predicate's input, the xxhash
    // words are the scale kernel's (cheaper per token, no oracle twin).
    // Only the words the SELECTED schemes band over are computed — the
    // 48-band scheme's 24 words would otherwise tax every probe run.
    val neededXx = schemes.filter(s => only(s.name))
      .flatMap(_.words).distinct.filter(_ != "m")
      .sortBy(w => XxWords.indexOf(w))
    val sig = Tables.documents(spark, d)
      .select(col("doc_id") +:
        HashKernels.simhash64Md5Col(spark, col("text")).as("m") +:
        neededXx.map { w =>
          HashKernels.simhash64SeededCol(
            spark, col("text"), 42L + XxWords.indexOf(w)).as(w)
        }: _*)
      .localCheckpoint(false)
    val n = sig.count()
    println(s"[band] corpus $d: $n docs, ${1 + neededXx.size} signature words" +
      " materialized")

    // optional brute-force truth row (scheme name "truth"): the per-bucket
    // count of ALL hamming-≤16 pairs — the recall denominator every banded
    // scheme is a subset of. O(n²/2) compare-only; run at small SF.
    if (only("truth")) {
      val t0 = System.nanoTime()
      val l = sig.select(col("doc_id").as("id_a"), col("m").as("m_a"))
      val r = sig.select(col("doc_id").as("id_b"), col("m").as("m_b"))
      val hamming = bit_count(col("m_a").bitwiseXOR(col("m_b")))
      val bucket = when(hamming <= 4, 0).when(hamming <= 8, 1)
        .when(hamming <= 12, 2).otherwise(3)
      val rows = l.repartition(
          spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        .crossJoin(r).filter(col("id_a") < col("id_b"))
        .filter(hamming <= 16)
        .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("rows"))
        .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      val sec = (System.nanoTime() - t0) / 1e9
      val ps = (0 to 3).map(b => rows.getOrElse(b, 0L))
      println(f"[band] truth      all-pairs pairs(h<=16)=${ps.sum}%9d " +
        f"[h<=4 ${ps(0)}%d | 5-8 ${ps(1)}%d | 9-12 ${ps(2)}%d | " +
        f"13-16 ${ps(3)}%d] wall=$sec%.1f s")
    }

    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    schemes.filter(s => only(s.name)).foreach { sc =>
      val t0 = System.nanoTime()
      // band key = band index in the high bits over the slice value — the
      // d04 layout, generalized to any width
      val bandExprs = sc.bands.zipWithIndex.map { case ((w, off, width), bi) =>
        slice(col(sc.words(w)), off, width) + lit(bi.toLong << width)
      }
      val cols = Seq(col("doc_id"), col("m")) ++
        sc.words.distinct.filter(_ != "m").map(col)
      val bands = sig.select(cols :+
          explode(array(bandExprs: _*)).as("bkey"): _*)
        .repartition(parts, col("bkey"))
      def side(tag: String) = bands.select(
        col("doc_id").as(s"id_$tag") +:
          col("m").as(s"m_$tag") +:
          sc.words.distinct.filter(_ != "m")
            .map(w => col(w).as(s"${w}_$tag")) :+ col("bkey"): _*)
      val joined = side("a").join(side("b"), Seq("bkey"))
        .filter(col("id_a") < col("id_b"))
      // first-match-band dedup, the d04 trick generalized LINEARLY in band
      // count: a pair row at band bi is the pair's canonical copy iff bi
      // IS the minimum matching band — computed as one least() over per-
      // band when()s on the carried words (the old per-band ∧ earlier-OR
      // form is O(B²) expression nodes and blows codegen at 48 bands).
      // Never a distinct().
      val band = shiftright(col("bkey"),
        sc.bands.head._3).cast("int") // width is uniform per scheme
      def w(tag: String, wi: Int) = col(sc.words(wi) + s"_$tag")
      val matchBands = sc.bands.zipWithIndex.map { case ((wi, off, width), bi) =>
        when(slice(w("a", wi), off, width) === slice(w("b", wi), off, width),
          lit(bi)).otherwise(lit(Int.MaxValue))
      }
      val minMatch =
        if (matchBands.size == 1) matchBands.head else least(matchBands: _*)
      val earlier = band > minMatch
      val hamming = bit_count(col("m_a").bitwiseXOR(col("m_b")))
      val bucket = when(earlier, lit(-1))
        .when(hamming <= 4, 0).when(hamming <= 8, 1)
        .when(hamming <= 12, 2).when(hamming <= 16, 3).otherwise(4)
      val rows = joined.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("rows"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val sec = (System.nanoTime() - t0) / 1e9
      val candRows = rows.values.sum
      val candPairs = rows.filter(_._1 >= 0).values.sum
      val pairs = (0 to 3).map(b => rows.getOrElse(b, 0L))
      val model = sc.bands.map { case (_, _, w) =>
        n.toDouble * n / 2.0 / math.pow(2, w) }.sum
      println(f"[band] ${sc.name}%-10s cand_rows=$candRows%12d " +
        f"cand_pairs=$candPairs%12d pairs(h<=16)=${pairs.sum}%9d " +
        f"[h<=4 ${pairs(0)}%d | 5-8 ${pairs(1)}%d | 9-12 ${pairs(2)}%d | " +
        f"13-16 ${pairs(3)}%d] model=${model.toLong}%d wall=$sec%.1f s")
    }
    spark.stop()
  }
}
