package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text/glob/sanitize functions (SURVEY.md §2.8), built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs on the hot path.
  */
object TextFunctions {

  /** Compile an fnmatch-style glob to an anchored Java regex.
    * Mirrors the reference's case-insensitive `fnmatch` on basenames
    * (endpoint_v2/source.py:769-787): `*` → `.*`, `?` → `.`,
    * `[seq]`/`[!seq]` character classes, everything else literal.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append(".")
        case '[' =>
          val j = glob.indexOf(']', i + 1)
          if (j < 0) { sb.append("\\[") }
          else {
            val inner0 = glob.substring(i + 1, j)
            val inner = if (inner0.startsWith("!")) "^" + inner0.drop(1) else inner0
            sb.append("[")
              .append(inner.replace("\\", "\\\\").replace("[", "\\["))
              .append("]")
            i = j
          }
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append("\\").append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("$").toString
  }

  /** Case-insensitive glob match (S2). Compiled to `rlike` so Catalyst
    * keeps it inside whole-stage codegen. */
  def globMatch(c: Column, glob: String): Column =
    lower(c).rlike(globToRegex(glob.toLowerCase))

  /** [[globMatch]] for names listed on the driver: every remote
    * connector filters its listing with it, so a glob keeps the same
    * names whichever backend lists them. */
  def globMatcher(glob: String): String => Boolean = {
    val re = java.util.regex.Pattern.compile(globToRegex(glob.toLowerCase))
    name => re.matcher(name.toLowerCase).matches()
  }

  /** NA → null sanitize (P5; legacy_executor.py:1297-1325): the literal
    * strings "NA"/"na" (after trim) become SQL NULL. */
  def naSanitize(c: Column): Column =
    when(lower(trim(c)) === "na", lit(null)).otherwise(c)

  /** Whitespace token count — the engine's cheap tokenizer. Splitting on
    * `\s+` after trim; empty/blank text counts 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** F9: unicode-unescape of tool output (`\uXXXX` sequences →
    * characters; destination.py:629-635). Invalid escapes pass through. */
  def unicodeUnescape(s: String): String = {
    if (s == null) return null
    val re = raw"\\u([0-9a-fA-F]{4})".r
    re.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))
  }
}
