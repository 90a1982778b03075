package graft.pipeline

import graft.functions.TextFunctions.naSanitize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typed field extraction (SURVEY.md D10-D17): the reference's
  * prompt → LLM answer → typed conversion chain, re-expressed as one
  * Column expression per field evaluated in a single narrow stage.
  *
  * Conversion semantics mirror legacy_executor.py:2164-2268:
  *  - "NA"/"na" → SQL NULL (universal null, :1297-1325)
  *  - number  → try_cast double (second-LLM-call "extract the number"
  *    collapses to the mock's numeric answer here)
  *  - boolean → answer == "yes"
  *  - date    → to ISO date via try-cast
  *  - json    → from_json / parse with PERMISSIVE fallback
  *  - email   → regexp-validated string
  */
final case class PromptSpec(
    name: String,
    question: String,
    ftype: String,              // number|text|date|email|boolean|json
    chunkSize: Int = 512,
    chunkOverlap: Int = 128,
    topK: Int = 5,
    retrievalStrategy: String = "simple",
    required: Boolean = false,
    grammar: Seq[LLM.GrammarRule] = Nil)

object Extraction {

  private val EmailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

  /** Typed conversion of a raw (sanitized) answer column. */
  def convert(answer: Column, ftype: String): Column = {
    val a = naSanitize(answer)
    ftype match {
      case "number"  => a.try_cast("double")
      case "boolean" => when(a.isNull, lit(null)).otherwise(lower(trim(a)) === "yes")
      case "date"    => a.try_cast("date")
      case "email"   => when(a.rlike(EmailRe), a).otherwise(lit(null))
      case "json"    => a // kept as string; callers apply from_json with their schema
      case _         => a // text
    }
  }

  /** Run a full single-tool extraction workflow: for each spec, assemble
    * the prompt over `contextCol`, complete it with `client`, convert to
    * the typed column. One LLM UDF call per (row, spec) — the single-pass
    * variant (D17) fuses them. */
  def extract(df: DataFrame, contextCol: String, specs: Seq[PromptSpec],
      client: () => LLMClient): DataFrame = {
    val completeFn = LLM.completeUdf(client)
    specs.foldLeft(df) { (acc, spec) =>
      val prompt = LLM.assemblePrompt(spec.question, col(contextCol),
        grammar = spec.grammar)
      // complete into a raw column FIRST: `convert` fans the answer out
      // into several `when` branches, and typed conversion must reference
      // the one completed attribute, not re-invoke the completion
      val raw = s"__raw_${spec.name}"
      acc.withColumn(raw, completeFn(prompt))
        .withColumn(spec.name, convert(col(raw), spec.ftype))
        .drop(raw)
    }
  }

  /** Extraction through the NATIVE Catalyst expression
    * (functions.expressions.LLMComplete via `call_function`): same
    * semantics as `extract`, but the completion calls are visible to
    * optimizer rules — with GraftExtensions' SinglePassFusion enabled,
    * N per-field calls over one context fuse into ONE combined call.
    * `clientName` must be registered in LLMClientRegistry on every JVM. */
  def extractNative(df: DataFrame, contextCol: String, specs: Seq[PromptSpec],
      clientName: String): DataFrame =
    specs.foldLeft(df) { (acc, spec) =>
      val prompt = LLM.assemblePrompt(spec.question, col(contextCol),
        grammar = spec.grammar)
      acc.withColumn(spec.name,
        convert(call_function("llm_complete", prompt, lit(clientName)), spec.ftype))
    }
}
