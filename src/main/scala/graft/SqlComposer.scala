package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicInteger

/** Compositional front step of the engine's SQL front door — the single
  * parse/normalize pass every statement crosses before the dialect
  * lowerings run (the role of the reference's one Calcite entry,
  * flink-table-planner ParserImpl.java:91: parse once, THEN hand the
  * tree to planner rules; here: normalize once, then hand the residual
  * statement to the shape-precise lowering backends).
  *
  * The extended dialect constructs — MATCH_RECOGNIZE, `FOR SYSTEM_TIME
  * AS OF` temporal joins, window TVFs — were historically whole-statement
  * routers: each recognized exactly its own top-level shape, so a
  * COMPOSED statement (MATCH_RECOGNIZE in a subquery, a window TVF over
  * a temporal-join subquery, extended DDL bodies) either hit a confusing
  * Spark parse error or, worse, executed with the outer clause silently
  * dropped. This pass makes composition work by INSIDE-OUT REWRITING:
  *
  *  1. every parenthesized `(SELECT ...)` subquery that contains an
  *     extended construct is recursively lowered through [[Engine.sql]]
  *     (so arbitrary nesting terminates at the innermost construct),
  *     bound as a generated temp view, and spliced back into the text —
  *     as a bare relation name in FROM/JOIN/`TABLE(...)` position (the
  *     forms the shape-precise backends accept), as `(SELECT * FROM v)`
  *     in expression position;
  *  2. when the OUTER statement is extended, plain FROM/JOIN/TVF-arg
  *     subqueries are lifted the same way, so `FROM (SELECT ...)
  *     MATCH_RECOGNIZE (...)` and `TABLE(TUMBLE(TABLE (SELECT ...), ...))`
  *     reach their backends as the bare-name forms they parse;
  *  3. extended DDL bodies — `CREATE [OR REPLACE] [TEMPORARY] VIEW ... AS
  *     <extended select>`, `CREATE TABLE ... AS <extended select>`,
  *     `INSERT INTO|OVERWRITE <t> <extended select>` — lower the body
  *     first and then perform the DDL action on the result (previously
  *     the MATCH_RECOGNIZE router would match the embedded SELECT and
  *     silently discard the CREATE VIEW around it).
  *
  * Correlated subqueries referencing outer columns cannot be lifted into
  * a standalone view; lifting one fails inside Engine.sql with Spark's
  * unresolved-column error (loud, names the missing column). Only
  * subqueries containing extended constructs are ever lifted from
  * expression position, so plain correlated EXISTS/IN subqueries are
  * untouched and plan exactly as before.
  *
  * All scanning happens on literal-blanked text (string contents become
  * spaces, indices preserved), so quoted `'MATCH_RECOGNIZE('` never
  * triggers a rewrite and parentheses inside literals never unbalance
  * the walk.
  */
object SqlComposer {

  private val viewCounter = new AtomicInteger(0)

  /** Same-length literal blanking (single/double quotes, escapes,
    * ''/"" doubling — one shared implementation, SqlSplit). */
  private[graft] def blank(s: String): String =
    graft.util.SqlSplit.blankLiterals(s)

  import graft.util.SqlTokens
  import graft.util.SqlTokens.Kind

  /** Structural (comment-free) tokens of `s` — the walkable stream every
    * detection below runs on. `s` may be raw or blanked text: blanking
    * preserves quote delimiters and positions, so the token boundaries
    * are identical either way. */
  private def toks(s: String): Vector[SqlTokens.Tok] =
    SqlTokens.structural(SqlTokens.tokenize(s))

  /** A BARE (non-backticked) identifier token's uppercased text; "" for
    * anything else — a backtick-quoted `match_recognize` is an ordinary
    * identifier, never a dialect keyword. */
  private def kw(s: String, t: Vector[SqlTokens.Tok], i: Int): String =
    if (i < 0 || i >= t.length || t(i).kind != Kind.Ident ||
      s.charAt(t(i).start) == '`') "" else t(i).text(s).toUpperCase

  private val TvfNames = Set("TUMBLE", "HOP", "CUMULATE", "SESSION")

  /** The extended-dialect constructs this pass composes over, detected on
    * the TOKEN stream (a marker inside a string literal is a Str token
    * and can never false-positive; comments between marker words are
    * whitespace, exactly as SQL reads them). Legacy grouped windows
    * (GROUP BY TUMBLE(...)) are deliberately absent: that surface is
    * top-level-only syntax WindowTvfSql rewrites in place, and its
    * TUMBLE/HOP/SESSION names would false-positive on the TVF forms. */
  private[graft] def hasMarker(blanked: String): Boolean = {
    val t = toks(blanked)
    def k(i: Int) = if (i < t.length) t(i).kind else null
    var i = 0
    while (i < t.length) {
      kw(blanked, t, i) match {
        case "MATCH_RECOGNIZE" if k(i + 1) == Kind.LParen => return true
        case "FOR" if kw(blanked, t, i + 1) == "SYSTEM_TIME" &&
          kw(blanked, t, i + 2) == "AS" && kw(blanked, t, i + 3) == "OF" =>
          return true
        case "TABLE" if k(i + 1) == Kind.LParen &&
          TvfNames(kw(blanked, t, i + 2)) && k(i + 3) == Kind.LParen =>
          return true
        case _ => ()
      }
      i += 1
    }
    false
  }

  /** Outermost `( SELECT ...)` spans as (open, close) char offsets —
    * non-overlapping; nested subqueries inside a span are handled by the
    * recursion through Engine.sql when that span lowers. */
  private def subquerySpans(b: String): Seq[(Int, Int)] = {
    val t = toks(b)
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < t.length) {
      if (t(i).kind == Kind.LParen && kw(b, t, i + 1) == "SELECT") {
        val ci = SqlTokens.matchParen(t, i)
        if (ci < 0) throw new IllegalArgumentException(
          s"unbalanced parentheses in SQL statement at offset ${t(i).start}")
        out += ((t(i).start, t(ci).start))
        i = ci + 1
      } else i += 1
    }
    out.result()
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** The identifier/keyword token ending at or before `pos` — "" when the
    * nearest structural token is not a bare identifier. */
  private def prevWord(b: String, pos: Int): String = {
    val t = toks(b)
    var i = t.length - 1
    while (i >= 0 && t(i).end > pos) i -= 1
    if (i < 0 || t(i).kind != Kind.Ident || b.charAt(t(i).start) == '`') ""
    else t(i).text(b)
  }

  /** The identifier/keyword token starting at or after `pos` — "" when
    * the nearest structural token is not a bare identifier. */
  private def nextWord(b: String, pos: Int): String = {
    val t = toks(b)
    t.find(_.start >= pos) match {
      case Some(tt) if tt.kind == Kind.Ident && b.charAt(tt.start) != '`' =>
        tt.text(b)
      case _ => ""
    }
  }

  /** Lift composable subqueries out of `stmt` until the residual text is
    * a shape the dialect backends (or spark.sql) can take whole. Returns
    * the rewritten statement plus the generated temp views it bound —
    * the caller drops them once the statement's DataFrame is constructed
    * (analysis has captured the plans; a long-lived session must not
    * accumulate orphan __graft_sub_N views). Statements without extended
    * constructs are returned untouched (zero overhead on the plain-SQL
    * path). */
  def lift(spark: SparkSession, stmt: String): (String, Seq[String]) = {
    var q = stmt
    val made = Seq.newBuilder[String]
    var guard = 0
    while (guard < 64) {
      guard += 1
      val b = blank(q)
      if (!hasMarker(b)) return (q, made.result())
      // the window-rank shape (ROW_NUMBER over a window TVF + outer rank
      // filter) must reach WindowTvfSql WHOLE: lifting the derived table
      // would plan a bare streaming ROW_NUMBER, which cannot run
      if (WindowTvfSql.matchesWindowRank(q)) return (q, made.result())
      val spans = subquerySpans(b) match {
        case s if s.nonEmpty => s
        case _               => return (q, made.result())
      }
      // outer text = statement with every subquery span blanked out
      val outerArr = b.toCharArray
      spans.foreach { case (s, e) =>
        var i = s; while (i <= e) { outerArr(i) = ' '; i += 1 }
      }
      val outerExtended = hasMarker(new String(outerArr))
      def relationPos(s: Int, e: Int): Boolean = {
        val pw = prevWord(b, s)
        val nw = nextWord(b, e + 1)
        pw.equalsIgnoreCase("FROM") || pw.equalsIgnoreCase("JOIN") ||
          pw.equalsIgnoreCase("TABLE") || nw.equalsIgnoreCase("MATCH_RECOGNIZE")
      }
      val target = spans.find { case (s, e) => hasMarker(b.substring(s, e + 1)) }
        .orElse(if (outerExtended) spans.find { case (s, e) => relationPos(s, e) }
                else None)
      target match {
        case None => return (q, made.result())
        case Some((s, e)) =>
          val inner = q.substring(s + 1, e).trim
          val view = s"__graft_sub_${viewCounter.incrementAndGet()}"
          Engine.sql(spark, inner).createOrReplaceTempView(view)
          made += view
          val replacement =
            if (relationPos(s, e)) view else s"(SELECT * FROM $view)"
          q = q.substring(0, s) + replacement + q.substring(e + 1)
      }
    }
    throw new IllegalStateException(
      "SQL composition did not converge after 64 rewrites — " +
        s"residual statement: $q")
  }

  // ------------------------------------------------- WITH-led statements

  private val WithHeadRe = """(?is)^\s*WITH\b""".r

  /** WITH-led statement containing extended-dialect constructs — the
    * reference's canonical job text often opens with CTEs
    * (`WITH sessions AS (...) SELECT ... MATCH_RECOGNIZE (...)`), which
    * no shape-precise backend parses. Each CTE body is bound IN ORDER as
    * a temp view through this same front door (so extended CTE bodies
    * lower too, and later CTEs see earlier ones), the residual main
    * statement recurses through [[Engine.sql]], and any temp view the
    * CTE names shadowed is restored afterwards — a CTE is
    * statement-scoped; the temp views are an implementation detail that
    * must not leak. Restoration after the recursive call is sound
    * because Spark resolves view references during analysis, which
    * completes when the DataFrame is constructed. Returns None for
    * statements without extended constructs (native WITH handling in
    * spark.sql is untouched). */
  def composedWith(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val b = blank(stmt)
    val head = WithHeadRe.findFirstMatchIn(b).getOrElse(return None)
    if (!hasMarker(b)) return None
    var i = head.end
    if (nextWord(b, i).equalsIgnoreCase("RECURSIVE"))
      throw new IllegalArgumentException(
        "WITH RECURSIVE cannot be combined with extended-dialect " +
          "constructs (MATCH_RECOGNIZE / FOR SYSTEM_TIME AS OF / window " +
          "TVFs); materialize the recursive CTE with CREATE TABLE AS " +
          "first, then run the extended statement over the table")
    val ctes = Seq.newBuilder[(String, Option[Seq[String]], String)]
    var done = false
    while (!done) {
      while (i < b.length && b(i).isWhitespace) i += 1
      val nameStart = i
      if (i < b.length && b(i) == '`') {
        i += 1; while (i < b.length && b(i) != '`') i += 1
        if (i < b.length) i += 1
      } else while (i < b.length && isWordChar(b(i))) i += 1
      val name = stmt.substring(nameStart, i).replace("`", "")
      require(name.nonEmpty,
        s"WITH: expected a CTE name at offset $nameStart in: ${stmt.trim.take(120)}")
      while (i < b.length && b(i).isWhitespace) i += 1
      val cols =
        if (i < b.length && b(i) == '(' &&
            !nextWord(b, i + 1).equalsIgnoreCase("SELECT")) {
          val close = graft.util.SqlSplit.matchParenOrFail(b, i)
          val cs = stmt.substring(i + 1, close)
            .split(",").map(_.trim.replace("`", "")).toSeq
          i = close + 1
          while (i < b.length && b(i).isWhitespace) i += 1
          Some(cs)
        } else None
      val asEnd = { var j = i; while (j < b.length && isWordChar(b(j))) j += 1; j }
      require(b.substring(i, asEnd).equalsIgnoreCase("AS"),
        s"WITH: expected AS after CTE name $name in: ${stmt.trim.take(120)}")
      i = asEnd
      while (i < b.length && b(i).isWhitespace) i += 1
      require(i < b.length && b(i) == '(',
        s"WITH: expected ( after $name AS in: ${stmt.trim.take(120)}")
      val close = graft.util.SqlSplit.matchParenOrFail(b, i)
      ctes += ((name, cols, stmt.substring(i + 1, close)))
      i = close + 1
      while (i < b.length && b(i).isWhitespace) i += 1
      if (i < b.length && b(i) == ',') i += 1 else done = true
    }
    val main = stmt.substring(i)
    require(main.trim.nonEmpty,
      s"WITH: missing main statement after CTE list in: ${stmt.trim.take(120)}")
    val bound = scala.collection.mutable.ListBuffer.empty[(String, Option[DataFrame])]
    try {
      ctes.result().foreach { case (name, cols, body) =>
        val prior =
          if (spark.sessionState.catalog.getTempView(name).isDefined)
            Some(spark.table(name))
          else None
        val df0 = Engine.sql(spark, body)
        val df = cols.fold(df0)(cs => df0.toDF(cs: _*))
        df.createOrReplaceTempView(name)
        bound += ((name, prior))
      }
      Some(Engine.sql(spark, main))
    } finally bound.reverse.foreach {
      case (name, Some(prior)) => prior.createOrReplaceTempView(name)
      case (name, None)        => spark.catalog.dropTempView(name): Unit
    }
  }

  // ------------------------------------------------- extended DDL bodies

  private val CreateViewRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?(?:(GLOBAL)\s+)?(TEMP(?:ORARY)?\s+)?VIEW\s+""" +
      """`?([\w.]+)`?\s+AS\s+(.+)""").r
  private val CtasRe =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s+AS\s+(.+)""".r
  private val InsertSelRe =
    """(?is)\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?`?([\w.]+)`?\s+(SELECT\b.+|WITH\b.+|\(\s*SELECT\b.+)""".r

  /** A DDL body that needs the front door: extended-dialect constructs
    * recurse through [[Engine.sql]]; a changelog-mode aggregate (a plain
    * SELECT over a row_kind relation — no marker text, the signal is the
    * resolved schema) lowers through [[ChangelogSql]] — without this, a
    * `CREATE TABLE x AS SELECT COUNT(*) FROM changelog` would slip past
    * the inference and persist counts of retraction rows. None = plain
    * body, keep the native catalog path. */
  private def composedBody(spark: SparkSession, body: String): Option[DataFrame] =
    if (hasMarker(blank(body))) Some(Engine.sql(spark, body))
    else ChangelogSql.sql(spark, body)

  /** DDL statements whose SELECT body uses the extended dialect (or is a
    * changelog-mode aggregate): lower the body through the front door
    * first, then perform the DDL action on the result. Returns None for
    * anything else (including the same DDL over plain SQL — those keep
    * their existing catalog paths, which persist view TEXT rather than a
    * materialized lineage). */
  def composedDdl(spark: SparkSession, stmt: String): Option[DataFrame] =
    stmt match {
      case CreateViewRe(_, global, temp, name, body) =>
        composedBody(spark, body).map { df =>
          // The extended dialect lowers to a DataFrame, not to view text a
          // later session could re-parse: materialize the LINEAGE as a temp
          // view (session-scoped). A non-TEMPORARY extended view cannot
          // survive the session — reject loudly rather than silently
          // downgrade persistence (a changelog-aggregate view persisted as
          // TEXT would re-parse WITHOUT the inference in a later session
          // and count change rows — same reject).
          if (temp == null)
            throw new IllegalArgumentException(
              "CREATE VIEW over an extended-dialect or changelog-aggregate " +
                "SELECT must be TEMPORARY (the lowered plan is " +
                "session-scoped); use CREATE TEMPORARY " +
                s"VIEW $name AS ..., or CREATE TABLE $name AS ... to persist rows")
          if (global != null) df.createOrReplaceGlobalTempView(name)
          else df.createOrReplaceTempView(name)
          spark.emptyDataFrame
        }
      case CtasRe(ifNotExists, name, body) =>
        composedBody(spark, body).map { df =>
          // IF NOT EXISTS: mode("ignore") makes the CTAS a no-op on an
          // existing table instead of TABLE_ALREADY_EXISTS (the body still
          // lowers first — a malformed extended body fails either way)
          val writer = df.write
          (if (ifNotExists != null) writer.mode("ignore") else writer)
            .saveAsTable(name)
          spark.emptyDataFrame
        }
      case InsertSelRe(mode, table, body) =>
        composedBody(spark, body).map { df =>
          // a CONNECTOR sink must receive the rows through the
          // connector's writer — its base only carries the schema, so a
          // base write would be invisible to every read of the table
          val connectorOf = scala.util.Try(
            graft.WatermarkDdl.tableOptions(spark, table)).toOption
            .flatMap(_.get("connector"))
          connectorOf match {
            case Some(conn) =>
              require(!mode.equalsIgnoreCase("OVERWRITE"),
                s"INSERT OVERWRITE into connector table $table is not " +
                  "supported (the connector sink appends/upserts)")
              graft.WatermarkDdl.insertConnectorFrame(spark, table, conn, df)
            case None =>
              val target = // extended sinks store through their physical base
                if (spark.catalog.tableExists(s"__${table}_base"))
                  s"__${table}_base"
                else table
              val writer = df.write
              if (mode.equalsIgnoreCase("OVERWRITE"))
                writer.mode("overwrite").insertInto(target)
              else writer.mode("append").insertInto(target)
              spark.emptyDataFrame
          }
        }
      case _ => None
    }
}
