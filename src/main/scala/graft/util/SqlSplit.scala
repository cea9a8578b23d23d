package graft.util

/** Top-level comma splitting for SQL fragment lists (column definitions,
  * DEFINE/MEASURES entries): commas inside parentheses — and, optionally,
  * inside angle-bracketed type arguments like `map<string,int>` — do not
  * split. One shared implementation so quote/bracket handling fixes land
  * everywhere at once.
  *
  * Angle brackets are ambiguous with comparison operators, so a `<` opens
  * a type-argument context only when BOTH hold: the previous non-space
  * character is an identifier character (`array <`, `MAP <`), and looking
  * ahead there is a matching `>` whose enclosed content is a plausible
  * type-argument list (comma-separated type names, optionally
  * parameterized — `STRING`, `DECIMAL(10,2)`, nested `ARRAY<INT>`). A
  * comparison like `k < 10` (no closing `>`, or non-type content) never
  * nests. Documented corner: two column-to-column comparisons with spaced
  * operators in adjacent entries (`a < b, c > d`) are indistinguishable
  * from a type list without a catalog — parenthesize the expressions
  * (`(a < b)`), which also survives the comma logic.
  */
object SqlSplit {

  private val TypeToken =
    """\s*[A-Za-z_]\w*(\s*\(\s*\d+(\s*,\s*\d+)?\s*\))?\s*""".r

  /** Does the '<' at `idx` open a type-argument list? Requires a matching
    * '>' (tracking <> nesting) whose content, with nested spans blanked,
    * is a comma-separated list of type tokens. */
  private def isTypeContext(s: String, idx: Int): Boolean = {
    var depth = 1
    var j = idx + 1
    while (j < s.length && depth > 0) {
      s(j) match {
        case '<' => depth += 1
        case '>' => depth -= 1
        case _ => ()
      }
      j += 1
    }
    if (depth != 0) return false
    val content = s.substring(idx + 1, j - 1)
    // blank nested <...> spans so their commas/brackets don't interfere
    val blanked = new StringBuilder
    var d = 0
    content.foreach {
      case '<' => d += 1
      case '>' => d -= 1
      case c => if (d == 0) blanked += c else blanked += ' '
    }
    val segs = blanked.toString.split(",", -1)
    segs.nonEmpty && segs.forall(seg => TypeToken.matches(seg))
  }

  /** Slice `s` around separator spans, trimming and dropping empties. */
  private def sliceAround(s: String, seps: Seq[(Int, Int)]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    seps.foreach { case (a, b) => out += s.substring(pos, a); pos = b }
    out += s.substring(pos)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Split a predicate on top-level AND keywords — a TOKEN walk
    * (SqlTokens, the shared lexical layer): ANDs inside parentheses,
    * string literals, backticked identifiers, or comments never split,
    * and only whole-word ANDs count (an identifier like BRAND or a
    * column and_ok is a different token). */
  def splitTopLevelAnd(s: String): Seq[String] = {
    val toks = SqlTokens.structural(SqlTokens.tokenize(s))
    val seps = Seq.newBuilder[(Int, Int)]
    var depth = 0
    toks.foreach { t =>
      t.kind match {
        case SqlTokens.Kind.LParen => depth += 1
        case SqlTokens.Kind.RParen => depth -= 1
        case SqlTokens.Kind.Ident
            if depth == 0 && t.word(s) == "AND" && s(t.start) != '`' =>
          seps += ((t.start, t.end))
        case _ => ()
      }
    }
    sliceAround(s, seps.result())
  }

  /** Split a script on top-level semicolons (statement separators) — a
    * TOKEN walk: semicolons inside parentheses, string literals,
    * backticked identifiers, or comments never split. Empty fragments
    * (trailing separators) are dropped. */
  def splitStatements(s: String): Seq[String] = {
    val toks = SqlTokens.structural(SqlTokens.tokenize(s))
    val seps = Seq.newBuilder[(Int, Int)]
    var depth = 0
    toks.foreach { t =>
      t.kind match {
        case SqlTokens.Kind.LParen => depth += 1
        case SqlTokens.Kind.RParen => depth -= 1
        case SqlTokens.Kind.Semi if depth == 0 => seps += ((t.start, t.end))
        case _ => ()
      }
    }
    sliceAround(s, seps.result())
  }

  /** Same-length literal AND comment blanking shared by every SQL text
    * scanner (SqlComposer marker detection, the dialect routers' paren
    * walks): single- and double-quoted string contents become spaces —
    * Spark's non-ANSI default reads "..." as a string literal — with
    * backslash escapes (\' \" \\) and SQL ''/"" quote doubling handled,
    * so a literal like 'don\'t' or "a(b" never desyncs the scan, while
    * every index still maps into the original text. Comments — `-- …`
    * to end of line, and slash-star bracketed ones, which NEST in Spark
    * (SPARK-28880) — blank entirely, delimiters included: a comment is
    * whitespace to SQL, and leaving its text visible would false-trigger
    * marker detection or — worse — desync a paren walk on an unbalanced
    * '(' inside it. A comment opener inside a string literal never
    * starts a comment. Derived from the ONE shared tokenizer
    * ([[SqlTokens.blank]]) — the character-level scanning rules live
    * there exactly once. */
  def blankLiterals(s: String): String = SqlTokens.blank(s)

  /** Offset of the ')' matching the '(' at char offset `open` of `s`
    * (raw or blanked text), or -1 when no '(' token starts there or it
    * never closes — a TOKEN walk ([[SqlTokens.matchParen]]), so a paren
    * inside a literal, a backticked identifier or a comment never
    * counts. */
  def matchParen(s: String, open: Int): Int = {
    val toks = SqlTokens.tokenize(s)
    val oi = toks.indexWhere(t => t.start == open && t.kind == SqlTokens.Kind.LParen)
    val ci = if (oi < 0) -1 else SqlTokens.matchParen(toks, oi)
    if (ci < 0) -1 else toks(ci).start
  }

  /** `matchParen` that fails loudly: the offset of the ')' matching the
    * '(' at `open`, or an IllegalArgumentException naming the offset. */
  def matchParenOrFail(s: String, open: Int): Int = {
    val close = matchParen(s, open)
    if (close < 0) throw new IllegalArgumentException(
      s"unbalanced parentheses in SQL statement at offset $open")
    close
  }

  /** Top-level comma split — a TOKEN walk: commas inside parentheses,
    * string literals, backticked identifiers, comments, or (with
    * `angleTypes`) type-argument angle brackets never split. */
  def splitTopLevel(s: String, angleTypes: Boolean = false): Seq[String] = {
    val toks = SqlTokens.structural(SqlTokens.tokenize(s))
    val seps = Seq.newBuilder[(Int, Int)]
    var paren = 0
    var angle = 0
    var prevIdentish = false // previous structural token names a type
    toks.foreach { t =>
      t.kind match {
        case SqlTokens.Kind.LParen => paren += 1
        case SqlTokens.Kind.RParen => paren -= 1
        case SqlTokens.Kind.Op if angleTypes && s(t.start) == '<' =>
          if (angle > 0) angle += 1
          else if (prevIdentish && isTypeContext(s, t.start)) angle += 1
        case SqlTokens.Kind.Op if angleTypes && s(t.start) == '>' =>
          if (angle > 0) angle -= 1
        case SqlTokens.Kind.Comma if paren == 0 && angle == 0 =>
          seps += ((t.start, t.end))
        case _ => ()
      }
      prevIdentish = t.kind == SqlTokens.Kind.Ident
    }
    sliceAround(s, seps.result())
  }
}
