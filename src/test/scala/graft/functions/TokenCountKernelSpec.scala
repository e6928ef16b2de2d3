package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity fuzz for the one-pass token-count kernels against the exact HOF
  * forms they replaced (t01/t02/t03 — the same pin RepetitionKernelSpec
  * gives t06): adversarial shapes plus random docs, every count compared
  * to the interpreted-filter formulation in the same Spark session. */
class TokenCountKernelSpec extends SparkTestBase {

  private val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private def docs(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  private val adversarial = Seq(
    "",
    " ",
    "  ",
    "the",
    "The THE tHe the",
    "a a a a a",
    "word",
    "the quick brown fox jumps over the lazy dog with vigour",
    "trailing space ",
    " leading space",
    "double  space",
    "punctuation, everywhere! truly; and-hyphens 42x7",
    "1234567890 abcdef 12ab34cd",
    "sixchar exactly5 sevenchr of the and",
    "ünïcödé tökens with ümlaut längen",
    "日本語 テスト the 漢字",
    "...!!!???",
    "a" * 100,
    ("the " * 50).trim,
    "mixed the   gaps  with   runs of spaces and the end"
  )

  private def randomDocs(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    val vocab = stopwords ++ Seq("alpha", "Beta", "GAMMA", "delta42",
      "sevenchars", "x", "yz", "longerword", "中文词", "mixed123abc", "")
    (0 until n).map { _ =>
      (0 until r.nextInt(60)).map(_ => vocab(r.nextInt(vocab.size)))
        .mkString(" ")
    }
  }

  test("stopword count matches the lower+filter HOF form") {
    val df = docs(adversarial ++ randomDocs(300, 13L))
    val stopArr = array(stopwords.map(lit): _*)
    val hof = size(filter(split(lower(col("text")), " "),
      t => array_contains(stopArr, t)))
    val kernel = TokenCountKernel.stopwordCountCol(col("text"), stopwords)
    val bad = df.select(col("id"), col("text"), hof.as("h"), kernel.as("k"))
      .filter(col("h") =!= col("k")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("stopword cutoff derives from the set (ADVICE r13): 9-byte and " +
      "case-shrunk stopwords match the HOF form") {
    // A 9-byte stopword: RED under the old hardcoded 8-byte raw-token skip
    // (the kernel would silently never match it while the HOF form did).
    val nine = "abcdefghi"
    assert(nine.getBytes("UTF-8").length == 9)
    val stops1 = Seq(nine)
    val arr1 = array(stops1.map(lit): _*)
    val hof1 = size(filter(split(lower(col("text")), " "),
      t => array_contains(arr1, t)))
    val k1 = TokenCountKernel.stopwordCountCol(col("text"), stops1)
    val r1 = docs(Seq(s"$nine x $nine ABCDEFGHI", nine, "abcdefgh", ""))
      .select(col("id"), hof1.as("h"), k1.as("k")).collect()
    assert(r1.forall(r => r.getInt(1) == r.getInt(2)), r1.mkString("\n"))
    assert(r1.map(_.getInt(2)).sum == 4)
    // UTF-8 case-mapping SHRINK: U+212A KELVIN SIGN (3 bytes) lowercases
    // to 'k' (1 byte). Proves the ×3 slack in the derived cutoff — a
    // cutoff of max-stopword-bytes alone would skip the 3-byte raw token
    // and diverge from lower()-then-match semantics.
    val stops2 = Seq("k")
    val arr2 = array(stops2.map(lit): _*)
    val hof2 = size(filter(split(lower(col("text")), " "),
      t => array_contains(arr2, t)))
    val k2 = TokenCountKernel.stopwordCountCol(col("text"), stops2)
    val r2 = docs(Seq("\u212A k K x", "\u212A"))
      .select(col("id"), hof2.as("h"), k2.as("k")).collect()
    assert(r2.forall(r => r.getInt(1) == r.getInt(2)), r2.mkString("\n"))
    assert(r2.map(_.getInt(2)).sum == 4)
  }

  test("long-token count matches the length-filter HOF form") {
    val df = docs(adversarial ++ randomDocs(300, 17L))
    val hof = size(filter(split(col("text"), " "), w => length(w) >= 6))
    val kernel = TokenCountKernel.longTokenCountCol(col("text"), 6)
    val bad = df.select(col("id"), col("text"), hof.as("h"), kernel.as("k"))
      .filter(col("h") =!= col("k")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("ws-token count matches size(split(text, ' '))") {
    val df = docs(adversarial ++ randomDocs(300, 23L))
    val hof = size(split(col("text"), " "))
    val kernel = TokenCountKernel.wsTokenCountCol(col("text"))
    val bad = df.select(col("id"), col("text"), hof.as("h"), kernel.as("k"))
      .filter(col("h") =!= col("k")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("alnum-run count matches the regex-split nonempty-filter HOF form") {
    val df = docs(adversarial ++ randomDocs(300, 19L))
    val hof = size(filter(split(col("text"), "[^a-zA-Z0-9]+"),
      x => length(x) > 0))
    val kernel = TokenCountKernel.alnumRunCountCol(col("text"))
    val bad = df.select(col("id"), col("text"), hof.as("h"), kernel.as("k"))
      .filter(col("h") =!= col("k")).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }
}
