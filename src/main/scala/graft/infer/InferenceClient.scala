package graft.infer

/** The single seam between the deterministic relational core and the
  * stochastic LLM edge (SURVEY.md §5.1, §7 module 3).
  *
  * Every `[LLM]`-marked operator from SURVEY.md §2 calls a model through this
  * trait. Production binds a pooled HTTP client (connection cap ~20, retry
  * with exponential jitter — the envelope the reference runs, cf.
  * /root/reference/LLMxMapReduce_V2/request/wrapper.py:17-23 and
  * request/openai.py:22-27); tests bind [[MockInference]] so the dataflow
  * around the call stays exactly assertable.
  *
  * Implementations must be Serializable: the client ships to executors inside
  * `mapPartitions` closures (one instance per partition-task, batched calls —
  * the Spark analogue of the reference's per-stage worker pools).
  *
  * Implementations must be thread-safe: [[InferOps.completeAll]] calls
  * `completeBatch` (and through it `complete`) concurrently from several
  * threads of one task, on the one deserialized instance.
  */
trait InferenceClient extends Serializable {
  def complete(prompt: String): String

  /** Batched form — override to amortize transport; default is sequential. */
  def completeBatch(prompts: Seq[String]): Seq[String] = prompts.map(complete)
}

/** Bounded retry with exponential backoff + deterministic jitter (mirrors the
  * reference's tenacity policy, cf. async_d/node/node.py:243-249). */
final class RetryingClient(
    underlying: InferenceClient,
    attempts: Int = 5,
    baseDelayMs: Long = 50L)
  extends InferenceClient {

  override def complete(prompt: String): String =
    retry(prompt.hashCode)(underlying.complete(prompt))

  /** The whole batch is one transport call, retried as one. */
  override def completeBatch(prompts: Seq[String]): Seq[String] =
    retry(prompts.hashCode)(underlying.completeBatch(prompts))

  private def retry[T](seed: Int)(call: => T): T = {
    var lastErr: Throwable = null
    var i = 0
    while (i < attempts) {
      try return call
      catch {
        case e: InterruptedException => throw e // cancelled: stop calling
        case e: Throwable =>
          lastErr = e
          // deterministic jitter: spread retries without a live RNG
          val jitter = math.abs(seed) % baseDelayMs
          Thread.sleep((baseDelayMs << i) + jitter)
      }
      i += 1
    }
    throw lastErr
  }
}

/** Adaptive input reduction on failure (cf. /root/reference/LLMxMapReduce_V2/
  * src/hidden/digest_module.py:117-131): when a call fails, halve the
  * CONTENT part of the prompt (the last `|`-delimited segment — paper text
  * by convention) and retry; after `maxAttempts` give up with `fallback`
  * (the reference's "empty digest at attempt 9"), so one oversized/poisoned
  * record degrades itself instead of failing the stage. */
final class HalvingClient(
    underlying: InferenceClient,
    maxAttempts: Int = 9,
    fallback: String = "")
  extends InferenceClient {

  override def complete(prompt: String): String = {
    val cut     = prompt.lastIndexOf('|')
    val prefix  = if (cut >= 0) prompt.substring(0, cut + 1) else ""
    var content = if (cut >= 0) prompt.substring(cut + 1) else prompt
    var attempt = 0
    while (attempt < maxAttempts) {
      try return underlying.complete(prefix + content)
      catch {
        case e: InterruptedException => throw e
        case _: Exception =>
          content = content.substring(0, content.length / 2)
          attempt += 1
      }
    }
    fallback
  }

  /** One batched call; if it fails, each prompt takes the halving path. */
  override def completeBatch(prompts: Seq[String]): Seq[String] =
    try underlying.completeBatch(prompts)
    catch {
      case e: InterruptedException => throw e
      case _: Exception => prompts.map(complete)
    }
}

/** Deterministic mock model implementing the structured-information protocol
  * of the reference's V1 map/collapse/reduce prompts
  * (/root/reference/LLMxMapReduce_V1/config/qa.yaml:19-23): the response
  * carries `Extracted Information / Answer / Confidence Score` fields.
  *
  * Protocol (prompt prefix selects the behavior):
  *   - `MAP|<question>|<chunk>`: if the chunk contains `ANSWER[<x>]`, answer
  *     x with confidence 5; else `[NO INFORMATION]` with confidence 1.
  *   - `COLLAPSE|<item1>\n<item2>...`: merges items — keeps the highest-
  *     confidence answer, concatenates extracted spans.
  *   - `REDUCE|<question>|<items>`: final answer = highest-confidence item's
  *     answer (first wins ties — the reference's 5-point override).
  *   - anything else: echo with a stable hash, so unknown stages still get
  *     deterministic output.
  */
final class MockInference extends InferenceClient {
  import MockInference._

  override def complete(prompt: String): String = prompt.split("\\|", 2) match {
    case Array("MAP", rest) =>
      val chunk = rest.split("\\|", 2) match {
        case Array(_, c) => c
        case _           => rest
      }
      AnswerPat.findFirstMatchIn(chunk) match {
        case Some(m) =>
          format(extracted = m.matched, answer = m.group(1), confidence = 5)
        case None =>
          format(extracted = "", answer = "[NO INFORMATION]", confidence = 1)
      }
    case Array("COLLAPSE", items) =>
      val parsed = items.split("\n---\n").toSeq.map(parse)
      val best = parsed.maxBy(_._3)
      format(parsed.map(_._1).filter(_.nonEmpty).mkString(" "), best._2, best._3)
    case Array("REDUCE", rest) =>
      val items = rest.split("\\|", 2) match {
        case Array(_, c) => c
        case _           => rest
      }
      val parsed = items.split("\n---\n").toSeq.map(parse)
      if (parsed.isEmpty) "[NO INFORMATION]" else parsed.maxBy(_._3)._2
    // ---- V2 survey-pipeline behaviors (deterministic; SURVEY.md §3.2) ----
    case Array("OUTLINE", rest) =>
      // rest = <survey title>|<paper titles csv> → markdown skeleton
      val parts  = rest.split("\\|", 2)
      val topic  = parts.head
      val papers = if (parts.length > 1) parts(1).split(",").map(_.trim).filter(_.nonEmpty) else Array.empty[String]
      val mid = papers.sorted.map(t => s"## ${cap(t)}").mkString("\n")
      s"# Introduction to $topic\n$mid\n# Conclusion".replace("\n\n", "\n")
    case Array("DIGEST", rest) =>
      // rest = <outline md>|<bibkey>|<paper txt> → outline-shaped digest
      val Array(outline, bibkey, txt) = rest.split("\\|", 3)
      outline.linesIterator.map { line =>
        if (line.startsWith("#"))
          line + "\n" + s"digest[$bibkey] ${stableTag(txt)}"
        else ""
      }.filter(_.nonEmpty).mkString("\n")
    case Array("SUGGEST", rest) =>
      val tag   = stableTag(rest)
      val score = 1 + (math.abs(rest.hashCode) % 5)
      s"suggestion-$tag\n<SCORE>$score</SCORE>"
    case Array("MERGE", rest) =>
      val tags = "suggestion-([0-9a-f]+)".r
        .findAllMatchIn(rest).map(_.group(1)).toSeq.sorted.distinct
      s"suggestion-${tags.mkString("+")}\n<SCORE>${1 + math.abs(rest.hashCode) % 5}</SCORE>"
    case Array("MODIFY", rest) =>
      // rest = <outline>|<suggestion> → refined outline (still parseable)
      val Array(outline, suggestion) = rest.split("\\|", 2)
      val tag = stableTag(suggestion)
      outline + s"\nrefined-$tag"
    case Array("EVAL", rest) =>
      s"<SCORE>${1 + math.abs(rest.hashCode) % 5}</SCORE>"
    case Array("WRITE", rest) =>
      // rest = <section title>|<digest text> → section prose with citation
      val Array(title, digest) = rest.split("\\|", 2)
      val cites = "digest\\[([^\\]]+)\\]".r
        .findAllMatchIn(digest).map(_.group(1)).toSeq.distinct.sorted
      val citeStr = if (cites.isEmpty) "" else cites.mkString(" [", ", ", "]")
      s"Prose for $title$citeStr."
    case Array("POLISH", rest) =>
      rest + " [polished]"
    case Array("NLI", rest) =>
      // rest = <claim>|<source> (claim first: sources may contain pipes).
      // Deterministic content-dependent entailment: yes iff the first hex
      // digit of md5(claim|source) falls in 0-7 — reproducible in a DuckDB
      // oracle as substring(md5(claim || '|' || source), 1, 1) <= '7', and
      // exercises both branches ~50/50.
      if (md5Hex(rest).charAt(0) <= '7') "Yes" else "No"
    case Array("DEDUP", rest) =>
      // near-dup removal mock: claims equal after lowercase/punct-strip
      // collapse to their first representative (atomic_facts.py semantics)
      rest.split("\n").toSeq.filter(_.nonEmpty)
        .foldLeft((Vector.empty[String], Set.empty[String])) {
          case ((kept, seen), c) =>
            val key = c.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
            if (seen.contains(key)) (kept, seen)
            else (kept :+ c, seen + key)
        }._1.mkString("\n")
    case Array("HOST", rest) =>
      // rest = <task>|<history>. Deterministic planner for the V3 host
      // loop: the task is a '>'-separated stage plan; answer CALL <first
      // stage without a success entry in the history>, FINISH when all
      // succeeded. A stage that keeps failing is re-chosen until the
      // host's round budget ends — the reference's retry-by-history shape.
      val (task, hist) = rest.split("\\|", 2) match {
        case Array(t, h) => (t, h)
        case _           => (rest, "")
      }
      val planned = task.split(">").map(_.trim).filter(_.nonEmpty)
      val succeeded = hist.split(",").filter(_.endsWith("=success"))
        .map(_.split(":", 2).last.stripSuffix("=success")).toSet
      planned.find(s => !succeeded.contains(s))
        .map(s => s"CALL $s").getOrElse("FINISH")
    case Array("FACTS", rest) =>
      // atomic-fact extraction mock (atomic_facts.py get_atomic_facts):
      // one fact per sentence, lowercased and punctuation-stripped — a
      // deterministic normalization a DuckDB oracle can rebuild
      graft.functions.TextFunctions.splitSentences(rest)
        .map(_.toLowerCase.replaceAll("[^a-z0-9 ]", "").trim)
        .filter(_.nonEmpty).mkString("\n")
    case Array("JUDGE", rest) =>
      // rest = <dimension>|<topic>|<section>. Deterministic 0-5 score from
      // the first md5 hex digit — DuckDB-reproducible like the NLI verdict
      // (strpos('0123456789abcdef', ...) - 1), and zero scores occur so the
      // judge's non-zero filtering (judge.py:334) is exercised. A decoy
      // first tag exercises last-match parsing.
      val digit = Integer.parseInt(md5Hex(rest).substring(0, 1), 16)
      s"analysis <SCORE>999</SCORE> final <SCORE>${digit % 6}</SCORE>"
    case Array("SEARCH", rest) =>
      // rest = <topic>|<description> → fenced markdown of ;-separated
      // queries (the get_queries response shape, LLM_search.py:113-121);
      // quoting one query exercises the quote-stripping parse
      val topic = rest.split("\\|", 2).head
      s"""Here are the queries.
         |```markdown
         |$topic overview; "$topic survey"; recent advances in $topic;
         |$topic applications
         |```""".stripMargin
    case Array("SNIPPET", rest) =>
      // rest = <topic>|<snippet> → relevance score 0-100 in the LAST
      // <SCORE> tag (snippet_filter parses findall(...)[-1]); a decoy
      // first tag exercises last-match parsing
      s"<SCORE>999</SCORE> considered. Final: <SCORE>${math.abs(rest.hashCode) % 101}</SCORE>"
    case Array("FIGURE", rest) =>
      // rest = <skeleton md> → one mermaid figure spec per top-level
      // section (the reference's chart node output shape,
      // figure_module.py:77-87)
      val sections = rest.linesIterator
        .filter(l => l.startsWith("# ") && !l.startsWith("##"))
        .map(_.drop(2).trim).toSeq
      sections.headOption.map { sec =>
        s"Section: $sec\nTitle: Overview of $sec\n```mermaid\ngraph TD; A[${stableTag(sec)}] --> B[survey];\n```"
      }.getOrElse("")
    case _ =>
      s"echo:${Integer.toHexString(prompt.hashCode)}"
  }

  private def cap(s: String): String =
    if (s.isEmpty) s else s.head.toUpper + s.tail

  private def stableTag(s: String): String =
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s, 42))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}

object MockInference {
  private val AnswerPat     = "ANSWER\\[([^\\]]*)\\]".r
  private val ExtractedPat  = "Extracted Information: (.*)".r
  private val AnswerLinePat = "Answer: (.*)".r
  private val ConfPat       = "Confidence Score: (\\d+)".r

  def format(extracted: String, answer: String, confidence: Int): String =
    s"Extracted Information: $extracted\nAnswer: $answer\nConfidence Score: $confidence"

  /** (extracted, answer, confidence) from a protocol response. */
  def parse(s: String): (String, String, Int) = {
    val ex = ExtractedPat.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val an = AnswerLinePat.findFirstMatchIn(s).map(_.group(1)).getOrElse(s)
    val cf = ConfPat.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    (ex, an, cf)
  }
}
