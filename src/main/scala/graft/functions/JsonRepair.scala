package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** P7/D14: JSON extraction from LLM text (sdk1/llm.py:951-962;
  * json_repair_helper.py:10-63): strip §§§ markers, regex-extract the
  * outermost {...} or [...] span, then repair common LLM JSON defects —
  * trailing commas, single quotes, unquoted keys, fenced code blocks.
  *
  * The repair is a deterministic Scala function, exposed as a UDF for
  * rows where from_json fails.
  */
object JsonRepair {

  /** Deterministic repair of common LLM JSON defects. Returns the
    * repaired string (parse-ready) or null when hopeless. */
  def repair(raw: String): String = {
    if (raw == null) return null
    var s = raw.replace("§§§", "").trim
    // fenced code block
    val fence = "(?s)```(?:json)?(.*?)```".r
    s = fence.findFirstMatchIn(s).map(_.group(1).trim).getOrElse(s)
    // outermost span
    val spanRe = "(?s)(\\{.*\\}|\\[.*\\])".r
    s = spanRe.findFirstMatchIn(s).map(_.group(1)).getOrElse(return null)
    // single quotes -> double (outside existing double-quoted strings)
    val sb = new StringBuilder
    var inStr = false
    var quote = ' '
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (!inStr && (ch == '"' || ch == '\'')) { inStr = true; quote = ch; sb.append('"') }
      else if (inStr && ch == quote && (i == 0 || s.charAt(i - 1) != '\\')) { inStr = false; sb.append('"') }
      else if (inStr && ch == '"' && quote == '\'') sb.append("\\\"")
      else sb.append(ch)
      i += 1
    }
    s = sb.toString
    // unquoted keys: {key: → {"key":
    s = s.replaceAll("([\\{,]\\s*)([A-Za-z_][A-Za-z0-9_]*)(\\s*:)", "$1\"$2\"$3")
    // trailing commas
    s = s.replaceAll(",\\s*([\\}\\]])", "$1")
    s
  }

  /** UDF form for the per-row fallback path. */
  val repairUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => repair(s))

  /** Full conversion: repair (pass-through for already-valid JSON) then
    * from_json; null when hopeless (the reference returns {} — callers
    * coalesce). NOTE: PERMISSIVE from_json yields a struct of nulls, not
    * a null struct, on bad input — so the repair must run BEFORE parsing,
    * not as a coalesce fallback. */
  def parseWithRepair(c: Column, schema: String): Column =
    from_json(repairUdf(c), lit(schema), java.util.Map.of[String, String]())
}
