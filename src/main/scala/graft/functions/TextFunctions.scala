package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Pure text kernels behind the engine's string operators (SURVEY.md §2.7).
  *
  * All functions are deterministic, allocation-light, and safe to call from
  * codegen'd UDFs / `mapPartitions` closures. Behavioral contracts follow the
  * reference implementations cited per function; the code is written fresh
  * for Spark (no ports).
  */
object TextFunctions {

  /** Whitespace token count — the test-mode stand-in for a tokenizer
    * (the reference counts model-tokenizer tokens; cf.
    * /root/reference/LLMxMapReduce_V1/Generator.py:301-318). */
  def whitespaceTokens(s: String): Int = {
    var n = 0; var inTok = false; var i = 0
    while (i < s.length) {
      val ws = s.charAt(i).isWhitespace
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }

  /** The reference's TOKEN_RATIO constant (chars per token heuristic,
    * /root/reference/LLMxMapReduce_V2/src/data_structure/digest.py:34-38). */
  val TokenRatio: Double = 3.6875

  /** Char-ratio token estimate over [[TokenRatio]]. */
  def estimateTokens(s: String): Int = math.ceil(s.length / TokenRatio).toInt

  /** Sentence split keeping terminal punctuation attached
    * (cf. Generator.py:134-148). */
  def splitSentences(s: String): Seq[String] =
    s.split("(?<=[.!?。！？])\\s+").toSeq.filter(_.nonEmpty)

  /** Token-budget chunker (cf. Generator.py:150-299 `chunk_docs`):
    * paragraphs are greedily packed into chunks of ≤ `budget` tokens;
    * an oversized paragraph is re-split by sentence, then by word; a single
    * word over budget stands alone. After packing, the final two chunks are
    * rebalanced so the tail chunk is never pathologically small.
    *
    * Invariants (spec-tested): every chunk ≤ budget tokens unless it is a
    * single unbreakable word; concatenating chunks with single spaces
    * preserves the whitespace-normalized document.
    */
  /** [[chunkText]] plus a sliding overlap: each chunk after the first is
    * prefixed with the last `overlap` tokens of its predecessor (the
    * reference's separator-aware packing with overlap, T3 —
    * Generator.py:234-299). Dropping the first `overlap` tokens of chunks
    * 1..n reconstructs the document (spec-tested). */
  def chunkTextOverlap(
      text: String,
      budget: Int,
      overlap: Int,
      tokenLen: String => Int = whitespaceTokens): Seq[String] = {
    require(overlap >= 0 && overlap < budget, "need 0 <= overlap < budget")
    val base = chunkText(text, budget - overlap, tokenLen)
    if (overlap == 0 || base.length <= 1) base
    else base.zipWithIndex.map {
      case (c, 0) => c
      case (c, i) =>
        val prevToks = base(i - 1).split("\\s+").filter(_.nonEmpty)
        (prevToks.takeRight(overlap) :+ c).mkString(" ")
    }
  }

  def chunkText(
      text: String,
      budget: Int,
      tokenLen: String => Int = whitespaceTokens): Seq[String] = {
    require(budget > 0, "budget must be positive")
    if (text.trim.isEmpty) return Seq.empty

    // 1. break into units no larger than budget (paragraph → sentence → word)
    def breakUnit(u: String): Seq[String] =
      if (tokenLen(u) <= budget) Seq(u)
      else {
        val sentences = splitSentences(u)
        if (sentences.length > 1) sentences.flatMap(breakUnit)
        else {
          val words = u.split("\\s+").toSeq.filter(_.nonEmpty)
          if (words.length <= 1) words // single unbreakable token
          else {
            // greedy word packing to budget
            val out = ArrayBuffer.empty[String]
            val cur = new StringBuilder
            var curLen = 0
            words.foreach { w =>
              val wLen = tokenLen(w)
              if (curLen + wLen > budget && curLen > 0) {
                out += cur.toString; cur.clear(); curLen = 0
              }
              if (curLen > 0) cur.append(' ')
              cur.append(w); curLen += wLen
            }
            if (cur.nonEmpty) out += cur.toString
            out.toSeq
          }
        }
      }

    val units = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap(breakUnit)

    // 2. greedy pack units
    val chunks = ArrayBuffer.empty[String]
    val cur    = new StringBuilder
    var curLen = 0
    units.foreach { u =>
      val uLen = tokenLen(u)
      if (curLen + uLen > budget && curLen > 0) {
        chunks += cur.toString; cur.clear(); curLen = 0
      }
      if (curLen > 0) cur.append('\n')
      cur.append(u); curLen += uLen
    }
    if (cur.nonEmpty) chunks += cur.toString

    // 3. two-pointer rebalance of the last two chunks (cf. Generator.py's
    //    tail rebalance): even out if the tail is under half budget.
    if (chunks.length >= 2 && tokenLen(chunks.last) < budget / 2) {
      val lastTwo = chunks.takeRight(2).mkString("\n").split("\n").toSeq
      val total   = lastTwo.map(tokenLen).sum
      val target  = total / 2
      var acc     = 0
      val firstPart = lastTwo.takeWhile { u => acc += tokenLen(u); acc <= target || acc == tokenLen(u) }
      val secondPart = lastTwo.drop(firstPart.length)
      if (firstPart.nonEmpty && secondPart.nonEmpty &&
        tokenLen(firstPart.mkString("\n")) <= budget) {
        chunks.remove(chunks.length - 2, 2)
        chunks += firstPart.mkString("\n")
        chunks += secondPart.mkString("\n")
      }
    }
    chunks.toSeq
  }

  /** Greedy restart-at-boundary bin packing over ordered lengths
    * (cf. /root/reference/LLMxMapReduce_V1/utils.py:61-90): cumulative sum
    * per bin; starting a new element that would exceed `budget` closes the
    * bin. A single element above budget gets its own bin (the reference
    * raises; the engine isolates it so the pipeline can degrade per-record).
    * Returns the bin id per element. Differs from the window running-sum
    * approximation (q04) exactly when an element crosses a boundary. */
  def packBins(lengths: Seq[Int], budget: Int): Seq[Int] = {
    require(budget > 0)
    lengths.scanLeft((0L, 0L)) { case ((bin, fill), len) =>
      binStep(bin, fill, len, budget)
    }.tail.map(_._1.toInt)
  }

  /** The one greedy rule behind [[packBins]] and the distributed
    * `Packing.exactBins`: given the (bin, fill) after the previous element,
    * returns the (bin, fill) after an element of `len`. A group starts at
    * (0, 0); an element that would overflow a non-empty bin opens the next. */
  def binStep(bin: Long, fill: Long, len: Long, budget: Long): (Long, Long) =
    if (fill > 0 && fill + len > budget) (bin + 1, len) else (bin, fill + len)

  /** HTML → text extraction (T17; the V3 crawler cleaner's shape,
    * html_extrator.py:35-120): drop script/style subtrees, strip tags,
    * decode common entities, collapse whitespace. Regex-based — a stand-in
    * for a full parser, deterministic and dependency-free. */
  def stripHtml(html: String): String =
    html
      .replaceAll("(?is)<(script|style)[^>]*>.*?</\\1>", " ")
      .replaceAll("(?is)<!--.*?-->", " ")
      .replaceAll("(?is)<br\\s*/?>|</p>|</div>|</li>|</h[1-6]>", "\n")
      .replaceAll("(?is)<[^>]+>", " ")
      .replaceAll("&nbsp;", " ").replaceAll("&amp;", "&")
      .replaceAll("&lt;", "<").replaceAll("&gt;", ">")
      .replaceAll("&quot;", "\"").replaceAll("&#39;", "'")
      .replaceAll("[ \\t\\x0B\\f\\r]+", " ")
      .replaceAll(" ?\\n ?", "\n").replaceAll("\\n{2,}", "\n")
      .trim

  /** Chinese-variant answer normalization (compute_scores.py zh path):
    * strips CJK punctuation and spaces (zh answers compare char-wise). */
  def normalizeAnswerZh(s: String): String =
    s.toLowerCase
      .replaceAll("[\\p{P}\\p{S}\\s]+", "")

  /** Title slugify (cf. process_str.py:131-137). */
  def slugify(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", "-").replaceAll("(^-+)|(-+$)", "")

  /** Answer normalization: articles/punctuation/whitespace
    * (cf. eval compute_scores.py:16-49). */
  def normalizeAnswer(s: String): String =
    s.toLowerCase
      .replaceAll("\\b(a|an|the)\\b", " ")
      .replaceAll("[^a-z0-9 ]", "")
      .replaceAll("\\s+", " ")
      .trim

  /** Token-bag F1 (cf. compute_scores.py:52-79). */
  def tokenF1(pred: String, gold: String): Double = {
    val p = normalizeAnswer(pred).split(" ").filter(_.nonEmpty)
    val g = normalizeAnswer(gold).split(" ").filter(_.nonEmpty)
    if (p.isEmpty || g.isEmpty) return if (p.sameElements(g)) 1.0 else 0.0
    val gCounts = g.groupBy(identity).view.mapValues(_.length).toMap
    var common = 0
    val used   = scala.collection.mutable.Map.empty[String, Int]
    p.foreach { w =>
      val have = used.getOrElse(w, 0)
      if (have < gCounts.getOrElse(w, 0)) { common += 1; used(w) = have + 1 }
    }
    if (common == 0) 0.0
    else {
      val prec = common.toDouble / p.length
      val rec  = common.toDouble / g.length
      2 * prec * rec / (prec + rec)
    }
  }

  /** Character-level token F1 for Chinese answers (the zh path of
    * compute_scores.py:82-104 `qa_f1_score_zh`): normalize via
    * [[normalizeAnswerZh]], one character = one token, bag-F1. */
  def tokenF1Zh(pred: String, gold: String): Double = {
    val p = normalizeAnswerZh(pred).toCharArray.map(_.toString)
    val g = normalizeAnswerZh(gold).toCharArray.map(_.toString)
    bagF1(p, g)
  }

  private def bagF1(p: Array[String], g: Array[String]): Double = {
    if (p.isEmpty || g.isEmpty) return if (p.sameElements(g)) 1.0 else 0.0
    val gCounts = g.groupBy(identity).view.mapValues(_.length).toMap
    var common  = 0
    val used    = scala.collection.mutable.Map.empty[String, Int]
    p.foreach { w =>
      val have = used.getOrElse(w, 0)
      if (have < gCounts.getOrElse(w, 0)) { common += 1; used(w) = have + 1 }
    }
    if (common == 0) 0.0
    else {
      val prec = common.toDouble / p.length
      val rec  = common.toDouble / g.length
      2 * prec * rec / (prec + rec)
    }
  }

  // -------------------------------------------------------------- ROUGE
  // The En.Sum scorer the reference delegates to HuggingFace `evaluate`
  // (compute_scores.py:317-325 → rougeLsum). Implemented fresh from the
  // published ROUGE definitions (Lin 2004): lowercase alnum tokenization,
  // clipped n-gram overlap for ROUGE-N, token-LCS for ROUGE-L, and
  // newline-sentence union-LCS for ROUGE-Lsum. F-measure returned.

  /** ROUGE tokenizer: lowercase, alnum runs only. */
  def rougeTokens(s: String): Array[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  private def fMeasure(overlap: Int, pLen: Int, rLen: Int): Double =
    if (overlap == 0 || pLen == 0 || rLen == 0) 0.0
    else {
      val p = overlap.toDouble / pLen
      val r = overlap.toDouble / rLen
      2 * p * r / (p + r)
    }

  /** ROUGE-N F-measure: clipped n-gram overlap. */
  def rougeN(pred: String, ref: String, n: Int): Double = {
    def grams(toks: Array[String]): Map[Seq[String], Int] =
      if (toks.length < n) Map.empty
      else toks.sliding(n).map(_.toSeq).toSeq.groupBy(identity).view.mapValues(_.length).toMap
    val pg = grams(rougeTokens(pred))
    val rg = grams(rougeTokens(ref))
    val overlap = pg.iterator.map { case (g, c) => math.min(c, rg.getOrElse(g, 0)) }.sum
    fMeasure(overlap, pg.valuesIterator.sum, rg.valuesIterator.sum)
  }

  /** Length of the longest common subsequence of two token arrays. */
  def lcsLength(a: Array[String], b: Array[String]): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val prev = new Array[Int](b.length + 1)
    val cur  = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        cur(j) =
          if (a(i - 1) == b(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      Array.copy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** ROUGE-L F-measure: sequence-level LCS. */
  def rougeL(pred: String, ref: String): Double = {
    val p = rougeTokens(pred)
    val r = rougeTokens(ref)
    fMeasure(lcsLength(p, r), p.length, r.length)
  }

  /** Reference-token indices participating in the LCS of `ref` and `cand`
    * (the union-LCS building block of summary-level ROUGE-L). */
  private def lcsRefIndices(ref: Array[String], cand: Array[String]): Set[Int] = {
    if (ref.isEmpty || cand.isEmpty) return Set.empty
    val dp = Array.ofDim[Int](ref.length + 1, cand.length + 1)
    var i = 1
    while (i <= ref.length) {
      var j = 1
      while (j <= cand.length) {
        dp(i)(j) =
          if (ref(i - 1) == cand(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
        j += 1
      }
      i += 1
    }
    // backtrack, collecting matched ref positions
    val hits = scala.collection.mutable.Set.empty[Int]
    var ii = ref.length; var jj = cand.length
    while (ii > 0 && jj > 0) {
      if (ref(ii - 1) == cand(jj - 1) && dp(ii)(jj) == dp(ii - 1)(jj - 1) + 1) {
        hits += (ii - 1); ii -= 1; jj -= 1
      } else if (dp(ii - 1)(jj) >= dp(ii)(jj - 1)) ii -= 1
      else jj -= 1
    }
    hits.toSet
  }

  /** ROUGE-Lsum F-measure: split both texts into newline sentences; for each
    * reference sentence take the union over candidate sentences of its LCS
    * hit positions; hits/|cand| precision, hits/|ref| recall. */
  def rougeLsum(pred: String, ref: String): Double = {
    def sents(s: String): Seq[Array[String]] =
      s.split("\n").toSeq.map(rougeTokens).filter(_.nonEmpty)
    val ps = sents(pred)
    val rs = sents(ref)
    val m  = rs.map(_.length).sum
    val n  = ps.map(_.length).sum
    val hits = rs.map { r =>
      ps.foldLeft(Set.empty[Int])((acc, c) => acc ++ lcsRefIndices(r, c)).size
    }.sum
    fMeasure(hits, n, m)
  }

  /** InfiniteBench answer post-processing (process_answer.py:28-57
    * `task_special_process`): find the LAST answer prefix ("Answer:" /
    * "答案："); for choice-style tasks re-prefix with "answer: "; for QA/sum
    * tasks keep only the text after it, with any trailing confidence-score
    * annotation removed; all other tasks pass through unchanged. Note the
    * reference skips one character after the prefix (the separator). */
  def stripAnswerPrefix(pred: String, task: String): String = {
    val prefixes = Seq("Answer:", "答案：")
    val reprefix = Set("code_debug", "longbook_choice_eng")
    val keepTail = Set(
      "longbook_qa_eng", "longbook_qa_chn", "longdialogue_qa_eng",
      "longbook_sum_eng")
    prefixes.foreach { prefix =>
      val idx = pred.lastIndexOf(prefix)
      if (idx >= 0) {
        if (pred.length < idx + prefix.length + 1) return pred
        val after = pred.substring(idx + prefix.length + 1)
        if (reprefix.contains(task)) return "answer: " + after
        if (keepTail.contains(task)) {
          var out = after
          Seq("置信度分数：", "Confidence Score:").foreach { p =>
            val i = out.lastIndexOf(p)
            if (i >= 0) out = out.substring(0, i)
          }
          return out
        }
      }
    }
    pred
  }

  /** Extract the body of a fenced block ```label ... ```
    * (cf. process_str.py:8-20). */
  def extractFence(s: String, label: String): Option[String] = {
    val pat = ("(?s)```" + java.util.regex.Pattern.quote(label) +
      "\\s*\\n(.*?)```").r
    pat.findFirstMatchIn(s).map(_.group(1).stripTrailing())
  }

  /** Parse a markdown heading line `## 1.2 Title` →
    * (depth, indexText, title) (cf. process_str.py:22-29). */
  def parseHeading(line: String): Option[(Int, String, String)] = {
    val m = "^(#+)\\s*([0-9.]*)\\s*(.*)$".r.findFirstMatchIn(line.trim)
    m.filter(_.group(1).nonEmpty)
      .map(g => (g.group(1).length, g.group(2), g.group(3).trim))
  }

  /** SequenceMatcher-style similarity ratio ≈ 2·LCS/(|a|+|b|), implemented
    * via edit distance: ratio = (|a|+|b|-lev)/(|a|+|b|) — the decision
    * surface the reference uses for fuzzy bibkey repair
    * (cf. process_str.py:82-87, threshold 0.8). */
  def similarityRatio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 1.0
    else (total - levenshtein(a, b)).toDouble / total
  }

  def levenshtein(a: String, b: String): Int = {
    val prev = Array.range(0, b.length + 1)
    val cur  = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      Array.copy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** Citation scrub (cf. process_str.py:44-110): rewrite `[k1, k2]` citation
    * groups against the legal bibkey set — keep legal keys, fuzzy-repair
    * near-misses (ratio > 0.8), drop the rest; `$...$` math spans are
    * protected from rewriting. Returns the scrubbed text.
    */
  def scrubCitations(text: String, legalKeys: Set[String]): String = {
    // protect math spans
    val mathPat = "\\$[^$]*\\$".r
    val saved   = ArrayBuffer.empty[String]
    val masked = mathPat.replaceAllIn(text, m => {
      saved += m.matched
      java.util.regex.Matcher.quoteReplacement(s" MATH${saved.length - 1} ")
    })
    val citePat = "\\[([^\\[\\]]+)\\]".r
    val scrubbed = citePat.replaceAllIn(masked, m => {
      val keys = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
      val repaired = keys.flatMap { k =>
        if (legalKeys.contains(k)) Some(k)
        else legalKeys.toSeq.sortBy(lk => -similarityRatio(k, lk)).headOption
          .filter(lk => similarityRatio(k, lk) > 0.8)
      }.distinct
      if (repaired.isEmpty) ""
      else java.util.regex.Matcher.quoteReplacement(repaired.mkString("[", ", ", "]"))
    })
    saved.zipWithIndex.foldLeft(scrubbed) { case (acc, (span, i)) =>
      acc.replace(s" MATH$i ", span)
    }
  }
}
