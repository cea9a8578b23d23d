package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SQL:2016 `SIMILAR TO` — the SQL-standard regex dialect, translated to a
  * Java regex at plan time and evaluated through the codegen'd RLIKE path
  * (no UDF in the hot loop; the translation itself happens once on the
  * driver because SIMILAR patterns are literals in practice).
  *
  * Reference semantics: flink-table-api-java
  * functions/SqlLikeUtils.java `sqlToRegexSimilar` (Calcite's translator,
  * lines 127-297) — mirrored rule-for-rule:
  *   - `%` -> `(?s:.*)` (dotall: a multiline value still matches across
  *     embedded newlines, SqlLikeUtils.java:262) and `_` -> `.`;
  *   - a bare `\` (when not the escape char) and `$` are quoted; every
  *     OTHER character passes through untouched — so `.` is a regex
  *     any-char and `|`, `*`, `+`, `?`, `{n,m}`, `()`, `[...]` keep their
  *     regex meaning (SqlLikeUtils.java:278-288);
  *   - the escape character (default `\`, per the optional ESCAPE clause)
  *     may quote exactly the SIMILAR specials `[]()|^-+*_%?{}` or itself
  *     (SQL_SIMILAR_SPECIALS, SqlLikeUtils.java:29) — anything else is an
  *     "Invalid escape sequence";
  *   - inside a bracket enumeration, `[:ALPHA:]`-style named classes (both
  *     cases, REG_CHAR_CLASSES SqlLikeUtils.java:30-45) expand, `-`/`^`
  *     keep their class meaning, escaped specials unquote, and any OTHER
  *     special is an "Invalid regular expression"
  *     (sqlSimilarRewriteCharEnumeration, SqlLikeUtils.java:159-199).
  *
  * The whole input must match (Pattern.matches in the reference), so the
  * translated regex is anchored with `\A(?:...)\z` before handing it to
  * RLIKE's find() semantics.
  */
object Similar {

  /** Java regex metacharacters needing a backslash when emitted literally
    * (SqlLikeUtils JAVA_REGEX_SPECIALS). */
  private val JavaRegexSpecials = "[]()|^-+*?{}$\\"

  /** Characters an ESCAPE char may quote (SqlLikeUtils
    * SQL_SIMILAR_SPECIALS): the SQL wildcards + retained regex operators. */
  private val SqlSimilarSpecials = "[]()|^-+*_%?{}"

  /** Named character classes of SQL:2016 <regular character set
    * identifier> with their Java translations — registered in BOTH cases,
    * as in the reference's REG_CHAR_CLASSES. */
  private val RegCharClasses: Seq[(String, String)] = Seq(
    "ALPHA" -> "\\p{Alpha}",
    "UPPER" -> "\\p{Upper}",
    "LOWER" -> "\\p{Lower}",
    "DIGIT" -> "\\d",
    "SPACE" -> " ",
    "WHITESPACE" -> "\\s",
    "ALNUM" -> "\\p{Alnum}"
  ).flatMap { case (n, re) =>
    Seq(s"[:$n:]" -> re, s"[:${n.toLowerCase}:]" -> re)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"SIMILAR TO pattern error: $msg")

  /** SQL 2003 Part 2 Section 8.6 General Rule 3.b: when the escape char is
    * itself a SIMILAR special, pre-validate every use (the reference's
    * similarEscapeRuleChecking). */
  private def escapeRuleChecking(pattern: String, esc: Char): Unit =
    if (SqlSimilarSpecials.indexOf(esc.toInt) >= 0) {
      var i = 0
      while (i < pattern.length) {
        if (pattern.charAt(i) == esc) {
          if (i == pattern.length - 1) fail(s"invalid escape sequence at $i")
          val c = pattern.charAt(i + 1)
          if (SqlSimilarSpecials.indexOf(c.toInt) < 0 && c != esc)
            fail(s"invalid escape sequence '$esc$c'")
        }
        i += 1
      }
    }

  /** Translate a bracket enumeration body starting just past `[` at `pos`;
    * returns the index of the char before the closing `]` (the reference's
    * sqlSimilarRewriteCharEnumeration — same return convention). */
  private def rewriteCharEnumeration(pattern: String, sb: StringBuilder,
      pos: Int, esc: Option[Char]): Int = {
    var i = pos + 1
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == ']') return i - 1
      else if (esc.contains(c)) {
        i += 1
        if (i >= pattern.length) fail("pattern ends with the escape character")
        val nxt = pattern.charAt(i)
        if (SqlSimilarSpecials.indexOf(nxt.toInt) >= 0) {
          if (JavaRegexSpecials.indexOf(nxt.toInt) >= 0) sb.append('\\')
          sb.append(nxt)
        } else if (esc.contains(nxt)) sb.append(nxt)
        else fail(s"invalid regular expression at $i")
      } else if (c == '-') sb.append('-')
      else if (c == '^') sb.append('^')
      else if (pattern.startsWith("[:", i)) {
        RegCharClasses.find { case (n, _) => pattern.startsWith(n, i) } match {
          case Some((n, re)) => sb.append(re); i += n.length - 1
          case None => fail(s"unknown character class at index $i")
        }
      } else if (SqlSimilarSpecials.indexOf(c.toInt) >= 0)
        fail(s"invalid regular expression: special '$c' inside a bracket expression")
      else sb.append(c)
      i += 1
    }
    i - 1
  }

  /** Translate a SIMILAR dialect pattern to an (unanchored) Java regex —
    * the reference's sqlToRegexSimilar, rule for rule. */
  def toRegex(pattern: String, escape: Option[Char] = Some('\\')): String = {
    escape.foreach(escapeRuleChecking(pattern, _))
    val sb = new StringBuilder(pattern.length * 2)
    var insideEnum = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (escape.contains(c)) {
        if (i == pattern.length - 1) fail("pattern ends with the escape character")
        val nxt = pattern.charAt(i + 1)
        if (SqlSimilarSpecials.indexOf(nxt.toInt) >= 0) {
          if (JavaRegexSpecials.indexOf(nxt.toInt) >= 0) sb.append('\\')
          sb.append(nxt)
        } else if (escape.contains(nxt)) sb.append(nxt)
        else fail(s"invalid escape sequence '$c$nxt'")
        i += 1 // the quoted char is consumed
      } else c match {
        case '_' => sb.append('.')
        case '%' => sb.append("(?s:.*)")
        case '[' =>
          sb.append('[')
          insideEnum = true
          i = rewriteCharEnumeration(pattern, sb, i, escape)
        case ']' =>
          if (!insideEnum) fail(s"unmatched ']' at index $i")
          insideEnum = false
          sb.append(']')
        case '\\' => sb.append("\\\\")
        case '$' => sb.append("\\$") // regular in SQL regex, special in Java
        case other => sb.append(other)
      }
      i += 1
    }
    if (insideEnum) fail("unterminated bracket expression")
    sb.toString
  }

  /** Full-match anchoring: SIMILAR TO matches the ENTIRE string
    * (Pattern.matches in the reference). `\z` (not `$`) so a trailing
    * newline in the data can't fake a match. */
  def toAnchoredRegex(pattern: String, escape: Option[Char] = Some('\\')): String =
    "\\A(?:" + toRegex(pattern, escape) + ")\\z"

  /** `str SIMILAR TO pattern [ESCAPE esc]` as a Column predicate. NULL in,
    * NULL out (inherited from RLIKE). */
  def similarTo(str: Column, pattern: String,
                escape: Option[Char] = Some('\\')): Column =
    str.rlike(toAnchoredRegex(pattern, escape))
}
