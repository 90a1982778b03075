package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** LLM + embedding adapter surface (SURVEY.md §2.11; reference
  * sdk1/llm.py:332-437, sdk1/embedding.py).
  *
  * Clients are Serializable factories: each executor partition
  * instantiates (or reuses, via the companion cache) one client — the
  * reference's per-worker connection pooling. Calls are wrapped with
  * bounded retry and flow token counts into Spark accumulators (the
  * usage table, SURVEY A1).
  */
trait LLMClient extends Serializable {
  def complete(prompt: String): String
  /** Crude token accounting: whitespace tokens, as
    * `s.trim.split("\\s+").length` counts them (0 for null or blank), in
    * one pass: after trimming chars <= U+0020 at both ends, the runs of
    * chars outside `[ \t\n\x0B\f\r]`. */
  def countTokens(s: String): Long = {
    if (s == null) return 0L
    var end = s.length
    while (end > 0 && s.charAt(end - 1) <= ' ') end -= 1
    var i = 0
    while (i < end && s.charAt(i) <= ' ') i += 1
    var n = 0L
    var inToken = false
    while (i < end) {
      val c = s.charAt(i)
      val space = c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'
      if (!space && !inToken) n += 1
      inToken = !space
      i += 1
    }
    n
  }
}

/** Deterministic mock (mirrors the reference's LLM_MOCK_RESPONSE e2e
  * pattern, tests/e2e/conftest.py:143-159): answers are pure functions of
  * the prompt text, so pipelines are reproducible and testable offline.
  *
  * Protocol: the assembled prompt carries `Context:\n<text>` and a
  * question line; the mock answers
  *   - "count of word 'w'"   → number of occurrences of w in context
  *   - "does it mention 'w'" → yes/no
  *   - "first word"          → first whitespace token
  *   - anything else         → "NA" (the reference's universal null)
  */
class MockLLM extends LLMClient {
  private val CountRe = "(?s).*count of word '([^']+)'.*".r
  private val MentionRe = "(?s).*does it mention '([^']+)'.*".r
  private val FirstRe = "(?s).*first word.*".r

  private def contextOf(prompt: String): String = {
    val i = prompt.indexOf("Context:\n")
    if (i < 0) return ""
    val rest = prompt.substring(i + "Context:\n".length)
    // strip the assembled prompt's trailing "Answer:" line
    rest.replaceFirst("(?s)\\n?Answer:\\s*$", "")
  }

  override def complete(prompt: String): String = {
    val ctx = contextOf(prompt)
    if (prompt.startsWith("SINGLE_PASS_JSON")) singlePass(prompt, ctx)
    else answerOne(prompt, ctx)
  }

  /** One question over one context (internal — single-pass recursion
    * goes through here so subclasses wrapping complete() count only
    * real round-trips). */
  private def answerOne(prompt: String, ctx: String): String =
    prompt match {
      case CountRe(w) =>
        var n = 0; var i = ctx.indexOf(w)
        while (i >= 0) { n += 1; i = ctx.indexOf(w, i + w.length) }
        n.toString
      case MentionRe(w) => if (ctx.contains(w)) "yes" else "no"
      case FirstRe() =>
        val t = ctx.trim; val sp = t.indexOf(' ')
        if (t.isEmpty) "NA" else if (sp < 0) t else t.substring(0, sp)
      case _ => "NA"
    }

  /** The single-pass combined-prompt protocol (D17 / SinglePassFusion):
    * question lines `qN: <question>` answered individually, returned as
    * one JSON object — the reference's combined-prompt contract. */
  private def singlePass(prompt: String, ctx: String): String = {
    val QLine = "^(q\\d+): (.*)$".r
    val answers = prompt.linesIterator.takeWhile(_ != "Context:").collect {
      case QLine(key, q) =>
        val a = answerOne(s"$q\nContext:\n$ctx\nAnswer:", ctx)
        val escaped = a.replace("\\", "\\\\").replace("\"", "\\\"")
        s""""$key": "$escaped""""
    }.toSeq
    answers.mkString("{", ", ", "}")
  }
}

/** Retry wrapper + usage accounting around any client. */
final class RetryingLLM(inner: LLMClient, maxAttempts: Int = 3,
    promptTokens: Option[LongAccumulator] = None,
    completionTokens: Option[LongAccumulator] = None) extends LLMClient {
  override def complete(prompt: String): String = {
    // bounded by attempt count on BOTH failure modes: a thrown exception
    // and a null return are each one failed attempt (a client that
    // legitimately returns null must not spin forever)
    var attempt = 0
    var out: String = null
    while (out == null && attempt < maxAttempts) {
      attempt += 1
      try out = inner.complete(prompt)
      catch { case e: Exception if attempt < maxAttempts => /* transient: retry */ }
    }
    if (out == null)
      throw new IllegalStateException(s"LLM returned null after $attempt attempts")
    promptTokens.foreach(_.add(countTokens(prompt)))
    completionTokens.foreach(_.add(countTokens(out)))
    out
  }
}

object LLM {

  /** One Prompt Studio grammar rule: a word plus the synonyms the LLM
    * may treat as equivalent (answer_prompt.py:176-190). */
  final case class GrammarRule(word: String, synonyms: Seq[String])

  /** F11: the per-word synonym note block the reference injects into
    * every grammar-configured prompt (_build_grammar_notes,
    * answer_prompt.py:175-190). Rules with an empty word or no synonyms
    * are skipped, matching the reference's guard. */
  def grammarNotes(grammar: Seq[GrammarRule]): String =
    grammar.collect {
      case GrammarRule(word, syns) if word.nonEmpty && syns.nonEmpty =>
        s"Note: You can consider that the word '$word' is the same as " +
          s"${syns.mkString(", ")} in both the question and the context."
    }.mkString("\n")

  /** Prompt assembly (answer_prompt.py:107-219): preamble + question +
    * grammar notes + postamble + context + "Answer:". Built as a Column
    * so it stays in codegen; the grammar block is constant per field, so
    * it folds into the concat's literal side. */
  def assemblePrompt(question: String, contextCol: Column,
      preamble: String = "", postamble: String = "",
      grammar: Seq[GrammarRule] = Nil): Column = {
    val notes = grammarNotes(grammar)
    concat_ws("\n",
      (Seq(lit(preamble), lit(question)) ++
        (if (notes.isEmpty) Nil else Seq(lit(notes))) ++
        Seq(lit(postamble), lit("Context:"), contextCol, lit("Answer:")))
        .filter(_ != null): _*)
  }

  /** Column-level LLM completion with per-partition client reuse.
    * Marked nondeterministic — true of a sampled LLM, and load-bearing
    * for billing: Catalyst freely inlines deterministic projections
    * (CollapseProject) and duplicates them across `when` branches, which
    * turns one completion per row into several. A nondeterministic
    * expression is never inlined, duplicated or reordered, so each
    * `withColumn(raw, completeUdf(...))` is billed exactly once per row.
    * v2 will promote this to a Catalyst Expression with doGenCode
    * batching. */
  def completeUdf(mkClient: () => LLMClient): org.apache.spark.sql.expressions.UserDefinedFunction = {
    lazy val client = mkClient()
    udf { (prompt: String) => if (prompt == null) null else client.complete(prompt) }
      .asNondeterministic()
  }
}
