package graft

import graft.util.SqlSplit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** SQL-text surface for the windowing table-valued functions — Flink's
  * window TVFs (flink-sql-parser parserImpls.ftl SqlWindowTableFunction;
  * planner nodes StreamExecWindowTableFunction/StreamExecWindowAggregate;
  * doc table in dev/table/sql/queries/window-tvf): TUMBLE / HOP /
  * CUMULATE / SESSION over `TABLE t` with a `DESCRIPTOR(timecol)` and
  * INTERVAL sizes.
  *
  * Lowering: the TVF call is REWRITTEN, not interpreted — the expanded
  * relation (source rows + `window_start`, `window_end`, `window_time`
  * appended, exactly the TVF output contract) is registered as a temp
  * view and spliced into the query text in place of the `TABLE(...)`
  * expression, then the whole statement re-enters [[Engine.sql]]. The
  * outer query is therefore arbitrary SQL (any GROUP BY, HAVING, JOIN,
  * nested TVFs), and Catalyst plans the aggregation as usual — windowed
  * aggregation stays ONE shuffle on (window, keys).
  *
  * Window assignment is the DataFrame-native form per function:
  * TUMBLE/HOP via `window()` (codegen'd Expand for HOP), CUMULATE via a
  * `sequence`+`explode` of slice ends aligned to the max-size boundary,
  * SESSION via the gaps-and-islands window-function form (per PARTITION
  * BY keys; window_end = last event + gap, Flink's session contract).
  * `window_time` is `window_end - 1ms`, Flink's rowtime convention.
  *
  * A SESSION TVF over a STREAMING table takes a different lowering: the
  * whole statement is rewritten onto `session_window(ts, gap)` in the
  * GROUP BY (Spark's native streaming session aggregation, watermark-
  * driven merge across micro-batches) — per-row annotation is impossible
  * before the session closes, so the aggregated shape is required,
  * matching Flink's own streaming session-TVF restriction.
  */
object WindowTvfSql {

  private val FindRe = """(?is)TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(""".r
  // legacy grouped-window form: TUMBLE/HOP/SESSION directly in GROUP BY
  // (BuiltInFunctionDefinitions TUMBLE_OLD:940 / SESSION_OLD:984 and their
  // _START/_END/_ROWTIME auxiliaries)
  private val LegacyRe = """(?is)\bGROUP\s+BY\b.*?\b(TUMBLE|HOP|SESSION)\s*\(""".r
  private val viewCounter = new AtomicInteger(0)

  /** Same-length literal AND comment blanking: string contents and
    * comments become spaces so regex finds and paren walks never react
    * to SQL inside a quoted literal or a comment, while every index
    * still maps into the original text (shared implementation —
    * SqlTokens handles escapes, quote doubling and nested comments). */
  private def blanked(s: String): String =
    graft.util.SqlSplit.blankLiterals(s)

  /** First occurrence of the keyword sequence `words` at parenthesis
    * depth 0 of the TOKEN stream, at/after `from` — the single lexical
    * layer's replacement for hand-rolled depth walks: a keyword inside
    * a literal is a Str token, one inside a comment never reaches the
    * walk, a backticked `group` is a QUOTED identifier, and parens
    * inside either cannot desync the depth count. Returns (start, end)
    * character offsets of the matched keyword span. */
  private def topLevelKw(s: String, words: Seq[String],
      from: Int = 0): Option[(Int, Int)] = {
    import graft.util.SqlTokens
    val toks = SqlTokens.structural(SqlTokens.tokenize(s))
    var depth = 0
    var i = 0
    var res: Option[(Int, Int)] = None
    while (res.isEmpty && i < toks.length) {
      toks(i).kind match {
        case SqlTokens.Kind.LParen => depth += 1
        case SqlTokens.Kind.RParen => depth -= 1
        case SqlTokens.Kind.Ident if depth == 0 && toks(i).start >= from &&
            s.charAt(toks(i).start) != '`' =>
          val ok = words.indices.forall(j => i + j < toks.length &&
            toks(i + j).kind == SqlTokens.Kind.Ident &&
            s.charAt(toks(i + j).start) != '`' &&
            toks(i + j).word(s) == words(j))
          if (ok) res = Some((toks(i).start, toks(i + words.length - 1).end))
        case _ => ()
      }
      i += 1
    }
    res
  }

  /** Replace every whole-word `name` OUTSIDE literals/comments with
    * `repl`: finds run on the blanked text, splices take the original,
    * so a quoted 'window_start' in a select item survives the streaming
    * rewrite verbatim. */
  private def replaceWord(text: String, name: String, repl: String): String = {
    val re = ("""(?i)\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
    val b = blanked(text)
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(b).foreach { m =>
      sb.append(text.substring(last, m.start)).append(repl)
      last = m.end
    }
    sb.append(text.substring(last)).toString
  }

  def matches(sql: String): Boolean = {
    val b = blanked(sql)
    FindRe.findFirstIn(b).isDefined || LegacyRe.findFirstIn(b).isDefined
  }

  /** Rewrite every window-TVF call to an expanded view (and every legacy
    * grouped-window call to its `window()`/`session_window()` form), then
    * re-dispatch the spliced statement through the engine's SQL entry. */
  def sql(spark: SparkSession, query: String): DataFrame = {
    var q = query
    val madeViews = Seq.newBuilder[String]
    var b = blanked(q)
    var m = FindRe.findFirstMatchIn(b)
    while (m.isDefined) {
      val mm = m.get
      val fn = mm.group(1).toUpperCase
      // walk balanced parens (on the BLANKED text, so literal content is
      // inert) from TABLE's '(' to find the full span
      val openTable = b.indexOf('(', mm.start)
      val closeTable = SqlSplit.matchParenOrFail(b, openTable)
      val openFn = b.indexOf('(', b.indexOf(mm.group(1), openTable))
      val closeFn = SqlSplit.matchParenOrFail(b, openFn)
      val args = q.substring(openFn + 1, closeFn)
      // top-level GROUP BY (depth 0 of the token stream) = the
      // aggregated shape; per-row TVF annotation with no aggregate is
      // streaming-legal and keeps the expand path
      val hasTopGroupBy = topLevelKw(q, Seq("GROUP", "BY")).isDefined
      val streaming = isStreamingTable(spark, fn, args)
      if (fn == "CUMULATE" && hasTopGroupBy && streaming) {
        // grouped streaming CUMULATE has no native grouping expression
        // (a row belongs to MULTIPLE open slices): lower the whole
        // statement onto the dedicated stateful slice operator. finally,
        // not post-hoc: a reject inside the lowering must not leak the
        // expansion views made for earlier TVFs in this statement
        try return lowerStreamingCumulate(spark, q, mm.start, closeTable, args)
        finally madeViews.result().foreach(v => spark.catalog.dropTempView(v): Unit)
      }
      if (!hasTopGroupBy && streaming) {
        // WINDOW RANK detection (StreamExecWindowRank: ROW_NUMBER over
        // (window_start, window_end [, keys]) inside a derived table,
        // outer filter on the rank) — lowered whole onto the bounded
        // windowTopN operator; the per-row expand path cannot carry a
        // streaming ROW_NUMBER
        val qr = q.substring(0, mm.start) + "__graft_rank_src__" +
          q.substring(closeTable + 1)
        if (rankShapeMatch(blanked(qr)).isDefined) {
          require(fn == "TUMBLE",
            s"streaming window rank over $fn: only TUMBLE windows lower " +
              "onto the bounded top-N operator (HOP/CUMULATE would rank " +
              "each slice independently — run those in batch, or " +
              "aggregate instead)")
          try return lowerStreamingWindowRank(spark, qr, args)
          finally madeViews.result()
            .foreach(v => spark.catalog.dropTempView(v): Unit)
        }
      }
      if (streaming && (fn == "SESSION" || hasTopGroupBy)) {
        // A streaming TVF cannot aggregate per-row annotated window
        // columns (the event-time marker doesn't survive the struct
        // projection, and SESSION's gaps-and-islands form needs the
        // whole session): rewrite the WHOLE statement onto the native
        // grouping expression — window()/session_window() in the GROUP
        // BY, Spark's watermark-driven streaming window aggregation
        // (the StreamExecWindowAggregate role). CUMULATE in the grouped
        // streaming shape has no native form and rejects loudly inside
        // the rewrite; per-row annotation (no GROUP BY) stays on the
        // expand path, which is streaming-legal without aggregation.
        q = rewriteStreamingWindow(q, mm.start, closeTable, fn, args)
      } else {
        val view = s"__graft_window_tvf_${viewCounter.incrementAndGet()}"
        expand(spark, fn, args).createOrReplaceTempView(view)
        madeViews += view
        q = q.substring(0, mm.start) + view + q.substring(closeTable + 1)
      }
      b = blanked(q)
      m = FindRe.findFirstMatchIn(b)
    }
    if (LegacyRe.findFirstIn(b).isDefined) q = rewriteLegacy(q)
    // generated expansion views are statement-scoped: drop them once the
    // re-dispatched statement's DataFrame exists (plan already captured)
    try Engine.sql(spark, q)
    finally madeViews.result().foreach(v => spark.catalog.dropTempView(v): Unit)
  }

  // ------------------------------------------- legacy grouped windows

  /** Rewrite the legacy grouped-window surface onto Spark's native
    * grouping expressions:
    * {{{
    *   GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)   -> GROUP BY window(ts, '5 minutes')
    *   TUMBLE_START(...)/TUMBLE_END(...)          -> window.start / window.end
    *   HOP(ts, slide, size)                       -> window(ts, 'size', 'slide')
    *   SESSION(ts, gap)                           -> session_window(ts, 'gap')
    *   *_ROWTIME(...)                             -> <end> - INTERVAL 1 millisecond
    * }}}
    * The auxiliaries drop their arguments (they name the grouped window,
    * which Spark exposes as the `window`/`session_window` struct) — same
    * resolution rule as the reference's WindowPropertiesRule. */
  private[graft] def rewriteLegacy(query: String): String = {
    var q = query
    // longest names first so TUMBLE_START is not eaten by TUMBLE
    val aux = Seq(
      ("TUMBLE_START", "window.start"), ("TUMBLE_END", "window.end"),
      ("TUMBLE_ROWTIME", "window.end - INTERVAL 1 MILLISECOND"),
      ("HOP_START", "window.start"), ("HOP_END", "window.end"),
      ("HOP_ROWTIME", "window.end - INTERVAL 1 MILLISECOND"),
      ("SESSION_START", "session_window.start"), ("SESSION_END", "session_window.end"),
      ("SESSION_ROWTIME", "session_window.end - INTERVAL 1 MILLISECOND")
    ).sortBy(-_._1.length)
    for ((name, repl) <- aux) q = replaceCalls(q, name, _ => s"($repl)")
    q = replaceCalls(q, "TUMBLE", { args =>
      require(args.length == 2, "TUMBLE(timecol, INTERVAL size)")
      s"window(${args(0)}, '${durOf(args(1))}')"
    })
    q = replaceCalls(q, "HOP", { args =>
      require(args.length == 3, "HOP(timecol, INTERVAL slide, INTERVAL size)")
      s"window(${args(0)}, '${durOf(args(2))}', '${durOf(args(1))}')"
    })
    q = replaceCalls(q, "SESSION", { args =>
      require(args.length == 2, "SESSION(timecol, INTERVAL gap)")
      s"session_window(${args(0)}, '${durOf(args(1))}')"
    })
    q
  }

  private def durOf(arg: String): String = arg.trim match {
    case IntervalRe(n, unit) => s"$n ${unit.toLowerCase}s"
    case other => throw new IllegalArgumentException(
      s"grouped window: expected INTERVAL '<n>' <unit>, got '$other'")
  }

  /** Replace every `name(args)` call (word-boundary, case-insensitive)
    * with `repl(topLevelArgs)`, walking balanced parens — finds and paren
    * walks run on the literal-blanked text so quoted strings are inert. */
  private def replaceCalls(query: String, name: String,
      repl: Seq[String] => String): String = {
    val re = ("""(?i)\b""" + name + """\s*\(""").r
    var q = query
    var b = blanked(q)
    var m = re.findFirstMatchIn(b)
    while (m.isDefined) {
      val open = b.indexOf('(', m.get.start)
      val close = SqlSplit.matchParenOrFail(b, open)
      val args = SqlSplit.splitTopLevel(q.substring(open + 1, close)).map(_.trim)
      q = q.substring(0, m.get.start) + repl(args) + q.substring(close + 1)
      b = blanked(q)
      m = re.findFirstMatchIn(b)
    }
    q
  }

  private val TableRe = """(?is)\s*TABLE\s+(\w+)(?:\s+PARTITION\s+BY\s+(.+?))?\s*""".r
  private val DescRe = """(?is)\s*DESCRIPTOR\s*\(\s*(\w+)\s*\)\s*""".r
  private val IntervalRe = """(?is)\s*INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)S?\s*""".r

  /** Parsed TVF argument list: (table, partitionKeys, tsCol, intervals). */
  private def parseTvfArgs(fn: String, argText: String)
      : (String, Seq[String], String, Seq[(Long, String)]) = {
    val args = SqlSplit.splitTopLevel(argText)
    require(args.nonEmpty, s"window TVF $fn: no arguments")

    // DESCRIPTOR is the table-spec/interval boundary: PARTITION BY a, b
    // splits at its top-level comma, so everything BEFORE the descriptor
    // is rejoined as the table spec and everything after must be an
    // interval — no argument can be silently dropped
    val descIdx = args.indexWhere(a => DescRe.matches(a))
    require(descIdx >= 0,
      s"window TVF $fn: missing DESCRIPTOR(<timecol>)")
    require(descIdx > 0,
      s"window TVF $fn: first argument must be TABLE <name>")
    val tableSpec = args.take(descIdx).mkString(", ")
    val (table, partitionKeys) = tableSpec match {
      case TableRe(t, pb) =>
        val keys = Option(pb).map(_.trim)
          .map(p => if (p.startsWith("(") && p.endsWith(")")) p.substring(1, p.length - 1) else p)
          .map(SqlSplit.splitTopLevel(_).map(_.trim)).getOrElse(Seq.empty)
        (t, keys)
      case other =>
        throw new IllegalArgumentException(s"window TVF $fn: first argument must be TABLE <name>, got '$other'")
    }
    require(partitionKeys.isEmpty || fn == "SESSION",
      s"window TVF $fn: PARTITION BY is only valid for SESSION")
    val tsCol = args(descIdx) match { case DescRe(c) => c }
    val intervals = args.drop(descIdx + 1).map {
      case IntervalRe(n, unit) => (n.toLong, unit.toUpperCase)
      case other => throw new IllegalArgumentException(
        s"window TVF $fn: expected INTERVAL '<n>' <unit> after DESCRIPTOR, got '$other'")
    }
    (table, partitionKeys, tsCol, intervals)
  }

  private def durText(i: (Long, String)): String = s"${i._1} ${i._2.toLowerCase}s"

  // ------------------------------------- streaming CUMULATE lowering

  private def intervalUs(i: (Long, String)): Long = i._1 * (i._2 match {
    case "SECOND" => 1000000L
    case "MINUTE" => 60000000L
    case "HOUR" => 3600000000L
    case "DAY" => 86400000000L
  })

  private val CumSelRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+__graft_cumulate_src__\s*""" +
      """(?:WHERE\s+(.+?))?\s*GROUP\s+BY\s+(.+?)\s*;?\s*$""").r
  private val CumAggRe =
    """(?is)^(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(.+?|\*)\s*\)\s*(?:AS\s+`?(\w+)`?)?$""".r
  private val CumPlainRe = """(?is)^`?(\w+)`?\s*(?:AS\s+`?(\w+)`?)?$""".r

  // ------------------------------------- streaming window rank lowering

  private val RankShapeRe = (
    """(?is)^\s*SELECT\s+(.+?)\s+FROM\s*\(\s*SELECT\s+\*\s*,\s*""" +
    """ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(\s*PARTITION\s+BY\s+(.+?)\s+""" +
    """ORDER\s+BY\s+`?(\w+)`?\s*(ASC|DESC)?\s*\)\s+AS\s+`?(\w+)`?\s+""" +
    """FROM\s+__graft_rank_src__\s*\)\s*(?:AS\s+`?\w+`?\s*)?""" +
    """WHERE\s+`?(\w+)`?\s*(<=|=)\s*(\d+)\s*;?\s*$""").r

  /** The rank-shape match, valid only when the outer WHERE filters the
    * RANK alias itself — `WHERE qty <= 3` over the same text is an
    * ordinary row filter, not a rank cut, and must take the normal
    * paths. */
  private def rankShapeMatch(blankedQr: String)
      : Option[scala.util.matching.Regex.Match] =
    RankShapeRe.findFirstMatchIn(blankedQr)
      .filter(m => m.group(6).equalsIgnoreCase(m.group(5)))

  /** True when the WHOLE statement is the window-rank shape (ROW_NUMBER
    * over window columns inside a derived table over a window TVF on a
    * BARE table name, outer filter on the rank alias). The composer must
    * NOT lift the derived table out of such a statement — the rank only
    * lowers (streaming) or plans (batch) with the filter still attached.
    * A TVF over `TABLE (SELECT ...)` is NOT claimed: the composer lifts
    * that inner derived table first, and the redispatched statement
    * (now over a bare view name) is claimed on the next pass. */
  private[graft] def matchesWindowRank(stmt: String): Boolean = {
    val b = blanked(stmt)
    FindRe.findFirstMatchIn(b).exists { mm =>
      val openTable = b.indexOf('(', mm.start)
      val closeTable =
        try SqlSplit.matchParenOrFail(b, openTable) catch { case _: Exception => -1 }
      closeTable > 0 && {
        val openFn = b.indexOf('(', b.indexOf(mm.group(1), openTable))
        val closeFn = SqlSplit.matchParenOrFail(b, openFn)
        val bareTableArgs = scala.util.Try(
          parseTvfArgs(mm.group(1).toUpperCase,
            stmt.substring(openFn + 1, closeFn))).isSuccess
        bareTableArgs && {
          val qr = stmt.substring(0, mm.start) + "__graft_rank_src__" +
            stmt.substring(closeTable + 1)
          rankShapeMatch(blanked(qr)).isDefined
        }
      }
    }
  }

  /** Lower a streaming WINDOW TOP-N statement (the reference's
    * StreamExecWindowRank SQL shape, `window-topn` doc page):
    * {{{
    * SELECT <items> FROM (
    *   SELECT *, ROW_NUMBER() OVER (
    *     PARTITION BY window_start, window_end [, keys]
    *     ORDER BY <numeric-or-timestamp col> [ASC|DESC]) AS rn
    *   FROM TABLE(TUMBLE(TABLE src, DESCRIPTOR(ts), size [, offset])))
    * WHERE rn <= N   -- or rn = 1 (window deduplication)
    * }}}
    * onto [[graft.streaming.StatefulOps.windowTopN]]: the bounded
    * per-(key, window) buffer that append-emits ranked rows exactly once
    * on watermark passage. The full source row rides the operator as a
    * JSON payload and is re-projected afterwards, so <items> may name
    * any source column plus window_start/window_end/window_time and the
    * rank alias. Ties on the ORDER BY value break on the serialized row
    * (deterministic; batch ROW_NUMBER leaves tie order undefined).
    * NULL ORDER BY values rank like Spark's batch default (NULLS FIRST
    * ascending, NULLS LAST descending — they ride a ±Infinity score, so
    * genuine infinite data would tie with them); NULL-rowtime rows drop,
    * the reference's null-rowtime contract. Integer/decimal ORDER BY
    * values rank through a DOUBLE — exact to 2^53, the standard
    * float-rank caveat (beyond it, near-equal values become payload-
    * order ties). */
  private def lowerStreamingWindowRank(spark: SparkSession, q0: String,
      argText: String): DataFrame = {
    import graft.streaming.StatefulOps
    import spark.implicits._
    val (table, _, tsCol, intervals) = parseTvfArgs("TUMBLE", argText)
    require(intervals.length == 1 || intervals.length == 2,
      "TUMBLE(TABLE t, DESCRIPTOR(ts), size [, offset])")
    val sizeUs = intervalUs(intervals(0))
    val offUs = if (intervals.length == 2) intervalUs(intervals(1)) else 0L
    val b = blanked(q0)
    val m = RankShapeRe.findFirstMatchIn(b).get
    // groups sliced from the ORIGINAL text by blanked positions, so
    // literals inside <items> survive
    def grp(i: Int): String =
      if (m.start(i) < 0) null else q0.substring(m.start(i), m.end(i))
    val (itemsText, pText, oCol, dirOpt, rnAs, rnWhere, cmpOp, nText) =
      (grp(1), grp(2), grp(3), Option(grp(4)), grp(5), grp(6), grp(7), grp(8))
    require(rnWhere.equalsIgnoreCase(rnAs),
      s"window rank: WHERE filters '$rnWhere' but the rank is aliased '$rnAs'")
    val n = nText.toInt
    require(n >= 1 && (cmpOp == "<=" || n == 1),
      s"window rank: WHERE $rnAs $cmpOp $n — use $rnAs <= N, or $rnAs = 1")
    val winNames = Set("window_start", "window_end", "window_time")
    val pCols = SqlSplit.splitTopLevel(pText).map(_.trim.stripPrefix("`").stripSuffix("`"))
    require(pCols.exists(_.equalsIgnoreCase("window_start")) &&
        pCols.exists(_.equalsIgnoreCase("window_end")),
      "window rank: PARTITION BY must list window_start AND window_end " +
        s"(the reference's WindowRank requirement); got: $pText")
    val keys = pCols.filterNot(c => winNames.contains(c.toLowerCase))

    val src = spark.table(table)
    def srcField(c: String) = src.schema.find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(
        s"window rank: '$c' is not a column of $table"))
    keys.foreach(srcField)
    val oType = srcField(oCol).dataType
    val rawScore = oType match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(col(oCol)).cast("double")
      case _: org.apache.spark.sql.types.NumericType => col(oCol).cast("double")
      case other => throw new IllegalArgumentException(
        s"window rank: ORDER BY $oCol has type $other — rank on a " +
          "numeric or timestamp column")
    }
    val asc = !dirOpt.exists(_.equalsIgnoreCase("DESC"))
    // NULL scores take Spark's batch ordering — null is the SMALLEST
    // value in both directions (ASC NULLS FIRST / DESC NULLS LAST), so
    // the sentinel is -Infinity regardless of direction; the encoder's
    // primitive Double field cannot carry NULL
    val score = when(col(oCol).isNull, lit(Double.NegativeInfinity))
      .otherwise(rawScore)

    val keyCol = if (keys.isEmpty) lit("{}") else to_json(struct(keys.map(col): _*))
    val typed = src
      .where(col(tsCol).isNotNull) // null rowtime cannot be windowed
      .select(keyCol.as("_1"), col(tsCol).as("_2"), score.as("_3"),
        to_json(struct(src.columns.map(col).toIndexedSeq: _*)).as("_4"))
      .as[(String, java.sql.Timestamp, Double, String)]
    val ranked = StatefulOps.windowTopN(typed, sizeUs, n, asc, offUs)
      .toDF("k", "ws", "we", "rn", "score", "payload")
      .withColumn("__row", from_json(col("payload"), src.schema))

    val ItemRe = """(?is)^\s*(?:`?(\w+)`?|\*)\s*(?:AS\s+`?(\w+)`?)?\s*$""".r
    val items = SqlSplit.splitTopLevel(itemsText).map(_.trim)
    val projected = items.flatMap {
      case "*" =>
        // the TVF output order: source columns, then the window columns,
        // then the rank
        src.columns.map(c => col("__row").getField(c).as(c)).toSeq ++ Seq(
          timestamp_micros(col("ws")).as("window_start"),
          timestamp_micros(col("we")).as("window_end"),
          timestamp_micros(col("we") - 1000L).as("window_time"),
          col("rn").as(rnAs))
      case ItemRe(c, al) if c != null =>
        val alias = Option(al).getOrElse(c)
        Seq(c.toLowerCase match {
          case "window_start" => timestamp_micros(col("ws")).as(alias)
          case "window_end" => timestamp_micros(col("we")).as(alias)
          case "window_time" => timestamp_micros(col("we") - 1000L).as(alias)
          // INT like batch ROW_NUMBER, so stream and batch schemas agree
          case _ if c.equalsIgnoreCase(rnAs) => col("rn").cast("int").as(alias)
          case _ => col("__row").getField(srcField(c).name).as(alias)
        })
      case other => throw new IllegalArgumentException(
        "window rank select items must be plain columns, window_start/" +
          s"window_end/window_time, the rank alias, or *; got '$other'")
    }
    ranked.select(projected: _*)
  }

  /** Lower a grouped streaming CUMULATE statement onto
    * [[graft.streaming.StatefulOps.cumulateWindow]] — the Flink
    * cumulative slice assigner's role. Spark's window()/session_window()
    * cannot express it (a row belongs to MULTIPLE open slices), so the
    * statement lowers whole: SELECT items over the operator's output,
    * WHERE onto the SOURCE (pre-window — a predicate on window columns
    * fails loudly as unresolved), GROUP BY must list window_start/
    * window_end plus plain key columns. HAVING/ORDER BY/LIMIT are not
    * supported on the streaming form (they don't finalize in append
    * mode) and reject loudly. Aggregates: SUM/COUNT/AVG/MIN/MAX with the
    * NaN-sentinel NULL semantics of the streaming OVER family; integral
    * SUM/MIN/MAX read back as BIGINT (batch parity). */
  private def lowerStreamingCumulate(spark: SparkSession, q0: String,
      spanStart: Int, spanEnd: Int, argText: String): DataFrame = {
    import graft.streaming.StatefulOps
    import graft.streaming.StatefulOps.SlotOp
    import spark.implicits._
    val (table, _, tsCol, intervals) = parseTvfArgs("CUMULATE", argText)
    require(intervals.length == 2 || intervals.length == 3,
      "CUMULATE(TABLE t, DESCRIPTOR(ts), step, maxSize [, offset])")
    val (stepUs, sizeUs) = (intervalUs(intervals(0)), intervalUs(intervals(1)))
    val offUs = if (intervals.length == 3) intervalUs(intervals(2)) else 0L
    require(stepUs > 0 && sizeUs % stepUs == 0,
      "CUMULATE: maxSize must be a positive multiple of step")
    val q = q0.substring(0, spanStart) + "__graft_cumulate_src__" +
      q0.substring(spanEnd + 1)
    Seq(Seq("HAVING"), Seq("ORDER", "BY"), Seq("LIMIT")).foreach(kw =>
      topLevelKw(q, kw).foreach(_ =>
        throw new IllegalArgumentException(
          s"streaming CUMULATE does not support ${kw.mkString(" ")} " +
            "(append mode emits each slice exactly once on watermark " +
            "passage; run the statement in batch for post-aggregate " +
            "shaping)")))
    // clause skeleton matched on the BLANKED text (keywords inside
    // literals/comments are inert), slices taken from the ORIGINAL so
    // literal contents survive into items/WHERE
    val (itemsText, whereOpt, grpText) =
      CumSelRe.findFirstMatchIn(blanked(q)) match {
        case Some(m) =>
          def grp(i: Int): Option[String] =
            if (m.start(i) < 0) None else Some(q.substring(m.start(i), m.end(i)))
          (grp(1).get, grp(2), grp(3).get)
        case None => throw new IllegalArgumentException(
          "streaming CUMULATE supports SELECT <items> FROM TABLE(CUMULATE(...)) " +
            s"[WHERE ...] GROUP BY window_start, window_end[, keys]; got: $q0")
      }
    val winNames = Set("window_start", "window_end", "window_time")
    val grpItems = SqlSplit.splitTopLevel(grpText).map(_.trim)
    require(grpItems.exists(g => winNames.contains(g.toLowerCase)),
      "streaming CUMULATE: GROUP BY must include window_start/window_end " +
        "(an unwindowed per-key aggregate is update-mode semantics this " +
        s"engine does not run); got GROUP BY $grpText")
    val keys = grpItems.filterNot(g => winNames.contains(g.toLowerCase))
      .map {
        case CumPlainRe(c, null) => c
        case other => throw new IllegalArgumentException(
          s"streaming CUMULATE: GROUP BY keys must be plain columns, got '$other'")
      }

    val src0 = spark.table(table)
    val src = whereOpt.map(src0.where).getOrElse(src0)

    // slot assembly — the StreamOverSql NaN-sentinel family: NULL inputs
    // ride NaN (skipped by every combine op), genuine NaN data rejects
    // eagerly
    def sentinel(ve: Column): Column = coalesce(
      when(isnan(ve), raise_error(lit(
        "NaN input to a streaming CUMULATE aggregate: the NaN-sentinel " +
          "NULL encoding cannot represent it. Filter NaNs out"))
        .cast("double")).otherwise(ve),
      lit(Double.NaN))
    def norm(s: String): String = s.toLowerCase.replaceAll("[\\s`]+", "")
    val slotCols = Vector.newBuilder[Column]
    val slotOps = Vector.newBuilder[SlotOp]
    var nSlots = 0
    val slotCache = scala.collection.mutable.Map.empty[(String, String), Int]
    def slotOf(kind: String, txt: String, op: SlotOp)(c: => Column): Int =
      slotCache.getOrElseUpdate((kind, txt),
        { slotCols += c; slotOps += op; nSlots += 1; nSlots - 1 })

    def integral(text: String): Boolean = {
      import org.apache.spark.sql.types._
      src.select(expr(text)).schema.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    // deferred agg outputs: resolve slot indices now, build columns after
    // the operator output frame exists
    val items = SqlSplit.splitTopLevel(itemsText).map(_.trim)
    val planned: Seq[(String, () => Column)] = items.map {
      case CumAggRe(fn0, v, al) =>
        val fn = fn0.toUpperCase
        val vt = v.trim
        val alias = Option(al).getOrElse(s"${fn.toLowerCase}(${norm(vt)})")
        require(fn == "COUNT" || vt != "*", s"$fn(*) is not SQL")
        fn match {
          case "COUNT" if vt == "*" =>
            (alias, () => col("cnt"))
          case "COUNT" =>
            val s = slotOf("ind", norm(vt), SlotOp.Sum)(
              when(expr(vt).isNotNull, 1.0).otherwise(0.0))
            (alias, () => col("vals").getItem(s).cast("long"))
          case "AVG" =>
            val s = slotOf("val", norm(vt), SlotOp.Sum)(
              sentinel(expr(vt).cast("double")))
            val c = slotOf("ind", norm(vt), SlotOp.Sum)(
              when(expr(vt).isNotNull, 1.0).otherwise(0.0))
            (alias, () => when(col("vals").getItem(c) === 0.0,
              lit(null).cast("double"))
              .otherwise(col("vals").getItem(s) / col("vals").getItem(c)))
          case _ =>
            val op = fn match {
              case "MIN" => SlotOp.Min
              case "MAX" => SlotOp.Max
              case _ => SlotOp.Sum
            }
            val s = slotOf(fn.toLowerCase, norm(vt), op)(
              sentinel(expr(vt).cast("double")))
            val isInt = integral(vt)
            (alias, () => {
              val raw = when(isnan(col("vals").getItem(s)),
                lit(null).cast("double")).otherwise(col("vals").getItem(s))
              if (isInt) raw.cast("long") else raw
            })
        }
      case CumPlainRe(c, al) if winNames.contains(c.toLowerCase) =>
        val alias = Option(al).getOrElse(c.toLowerCase)
        c.toLowerCase match {
          case "window_start" => (alias, () => timestamp_micros(col("ws")))
          case "window_end" => (alias, () => timestamp_micros(col("we")))
          case _ => (alias, () => timestamp_micros(col("we") - 1000L))
        }
      case CumPlainRe(c, al) if keys.exists(_.equalsIgnoreCase(c)) =>
        (Option(al).getOrElse(c), () => col("__ks").getField(c))
      case other => throw new IllegalArgumentException(
        "streaming CUMULATE select items must be window_start/window_end/" +
          "window_time, a GROUP BY key, or SUM/COUNT/AVG/MIN/MAX(expr) " +
          s"[AS alias]; got '$other'")
    }

    val keyCol =
      if (keys.isEmpty) lit("{}")
      else to_json(struct(keys.map(col): _*))
    val typed = src.select(keyCol.as("k"), col(tsCol).as("t"),
        array(slotCols.result(): _*).as("v"))
      .as[(String, java.sql.Timestamp, Seq[Double])]
    val ran = StatefulOps.cumulateWindow(typed, stepUs, sizeUs, slotOps.result(), offUs)
      .toDF("k", "ws", "we", "vals", "cnt")
    val keySchema = org.apache.spark.sql.types.StructType(
      keys.map(kc => src.schema.find(_.name.equalsIgnoreCase(kc)).getOrElse(
        throw new IllegalArgumentException(
          s"streaming CUMULATE: GROUP BY key '$kc' is not a column of $table"))))
    val withKeys =
      if (keys.isEmpty) ran.withColumn("__ks", lit(null))
      else ran.withColumn("__ks", from_json(col("k"), keySchema))
    withKeys.select(planned.map { case (alias, c) => c().as(alias) }: _*)
  }

  private def isStreamingTable(spark: SparkSession, fn: String,
      argText: String): Boolean =
    scala.util.Try {
      val (table, _, _, _) = parseTvfArgs(fn, argText)
      spark.table(table).isStreaming
    }.getOrElse(false)

  /** Rewrite a streaming window-TVF statement onto Spark's NATIVE
    * grouping expression — `window(ts, size[, slide[, offset]])` for
    * TUMBLE/HOP, `session_window(ts, gap)` for SESSION: the TVF span
    * becomes the bare source table, `window_start` / `window_end` /
    * `window_time` in GROUP BY are dropped in favor of the grouping
    * expression (streaming append-mode aggregation requires grouping by
    * the time-window expression itself — a per-row-annotated
    * window_start column loses the event-time marker), and the same
    * names elsewhere resolve to the window struct (bare top-level select
    * items keep their TVF output names via aliases). PARTITION BY keys
    * need no translation — the aggregated shape already lists them in
    * GROUP BY, exactly Flink's streaming TVF requirement
    * (StreamExecWindowAggregate). */
  private[graft] def rewriteStreamingWindow(
      q0: String, spanStart: Int, spanEnd: Int, fn: String,
      argText: String): String = {
    val (table, _, tsCol, intervals) = parseTvfArgs(fn, argText)
    val (sw, struct) = fn match {
      case "SESSION" =>
        require(intervals.length == 1,
          "SESSION(TABLE t [PARTITION BY k], DESCRIPTOR(ts), gap)")
        (s"session_window($tsCol, '${durText(intervals.head)}')",
          "session_window")
      case "TUMBLE" =>
        require(intervals.length == 1 || intervals.length == 2,
          "TUMBLE(TABLE t, DESCRIPTOR(ts), size [, offset])")
        val size = durText(intervals(0))
        val offset = if (intervals.length == 2)
          s", '$size', '${durText(intervals(1))}'" else ""
        (s"window($tsCol, '$size'$offset)", "window")
      case "HOP" =>
        require(intervals.length == 2 || intervals.length == 3,
          "HOP(TABLE t, DESCRIPTOR(ts), slide, size [, offset])")
        val (slide, size) = (durText(intervals(0)), durText(intervals(1)))
        val offset = if (intervals.length == 3)
          s", '${durText(intervals(2))}'" else ""
        (s"window($tsCol, '$size', '$slide'$offset)", "window")
      case other => throw new IllegalArgumentException(
        s"streaming $other TVF has no native grouping form (CUMULATE " +
          "routes through lowerStreamingCumulate before this rewrite — " +
          "reaching here is a dispatch bug)")
    }
    var q = q0.substring(0, spanStart) + table + q0.substring(spanEnd + 1)

    // ---- GROUP BY surgery: drop the window columns, lead with the
    // session_window expression (streaming requires grouping by the
    // expression itself, not by its output fields). Anchors come from
    // the TOKEN walk (topLevelKw) — a derived table's GROUP BY, or a
    // LIMIT inside a subquery, sits at paren depth > 0 and never
    // captures the cut; keywords in literals/comments never tokenize as
    // identifiers at all.
    val gb = topLevelKw(q, Seq("GROUP", "BY")).getOrElse(
      throw new IllegalArgumentException(
        s"streaming $fn TVF requires an aggregated shape: " +
          "GROUP BY window_start, window_end[, keys...]"))
    val gbEnd = Seq(Seq("HAVING"), Seq("ORDER", "BY"), Seq("LIMIT"))
      .flatMap(kw => topLevelKw(q, kw, gb._2).map(_._1))
      .minOption.getOrElse(q.length)
    val items = SqlSplit.splitTopLevel(q.substring(gb._2, gbEnd)).map(_.trim)
    val winNames = Set("window_start", "window_end", "window_time")
    // A GROUP BY with no window column at all is a REGULAR per-key
    // aggregate over the TVF scan (valid update-mode SQL in the
    // reference) — silently re-scoping it onto the window expression
    // would change results. Append mode cannot finalize an unwindowed
    // aggregate, so reject loudly instead.
    require(items.exists(i => winNames.contains(i.toLowerCase)),
      s"streaming $fn TVF: GROUP BY must include window_start/window_end " +
        "(the windowed aggregate Spark's append mode can finalize); an " +
        "unwindowed per-key aggregate over a streaming TVF scan is " +
        "update-mode semantics this engine does not run — got GROUP BY " +
        items.mkString(", "))
    val kept = items.filterNot(i => winNames.contains(i.toLowerCase))
    q = q.substring(0, gb._2) + " " + (sw +: kept).mkString(", ") +
      (if (gbEnd < q.length) " " + q.substring(gbEnd) else "")

    // ---- SELECT list: bare window columns keep their TVF output names
    val sel = topLevelKw(q, Seq("SELECT")).getOrElse(
      throw new IllegalArgumentException(s"streaming $fn TVF: no SELECT"))
    val fromIdx = topLevelKw(q, Seq("FROM"), sel._2).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"streaming $fn TVF: no FROM clause"))
    // whole-word window-column substitution OUTSIDE literals/comments —
    // a quoted 'window_start' in an item or a predicate survives
    def subst(s: String): String =
      replaceWord(replaceWord(replaceWord(s,
        "window_time", s"($struct.end - INTERVAL 1 MILLISECOND)"),
        "window_start", s"$struct.start"),
        "window_end", s"$struct.end")
    val selItems = SqlSplit.splitTopLevel(q.substring(sel._2, fromIdx)).map(_.trim)
      .map { item =>
        item.toLowerCase match {
          case "window_start" => s"$struct.start AS window_start"
          case "window_end" => s"$struct.end AS window_end"
          case "window_time" =>
            s"($struct.end - INTERVAL 1 MILLISECOND) AS window_time"
          case _ => subst(item)
        }
      }
    q.substring(0, sel._2) + " " + selItems.mkString(", ") + " " +
      subst(q.substring(fromIdx))
  }

  private def expand(spark: SparkSession, fn: String, argText: String): DataFrame = {
    val (table, partitionKeys, tsCol, intervals) = parseTvfArgs(fn, argText)

    val src = spark.table(table)
    val withTime = (df: DataFrame) => df.withColumn("window_time",
      timestamp_micros(unix_micros(col("window_end")) - 1000L))

    fn match {
      case "TUMBLE" =>
        // optional trailing OFFSET interval (SqlWindowTableFunction's
        // fourth operand) maps onto window()'s startTime parameter
        require(intervals.length == 1 || intervals.length == 2,
          "TUMBLE(TABLE t, DESCRIPTOR(ts), size [, offset])")
        val size = durText(intervals(0))
        val w = if (intervals.length == 2)
          window(col(tsCol), size, size, durText(intervals(1)))
        else window(col(tsCol), size)
        withTime(src
          .withColumn("__w", w)
          .withColumn("window_start", col("__w.start"))
          .withColumn("window_end", col("__w.end"))
          .drop("__w"))

      case "HOP" =>
        require(intervals.length == 2 || intervals.length == 3,
          "HOP(TABLE t, DESCRIPTOR(ts), slide, size [, offset])")
        val (slide, size) = (intervals(0), intervals(1))
        val w = if (intervals.length == 3)
          window(col(tsCol), durText(size), durText(slide), durText(intervals(2)))
        else window(col(tsCol), durText(size), durText(slide))
        withTime(src
          .withColumn("__w", w)
          .withColumn("window_start", col("__w.start"))
          .withColumn("window_end", col("__w.end"))
          .drop("__w"))

      case "CUMULATE" =>
        require(intervals.length == 2 || intervals.length == 3,
          "CUMULATE(TABLE t, DESCRIPTOR(ts), step, maxSize [, offset])")
        val (stepUs, maxUs) = (intervalUs(intervals(0)), intervalUs(intervals(1)))
        require(stepUs > 0 && maxUs % stepUs == 0,
          "CUMULATE: maxSize must be a positive multiple of step")
        // optional offset shifts the max-window alignment grid — the
        // CumulativeSliceAssigner.withOffset / getWindowStartWithOffset
        // contract (TimeWindow.java:222: negative-safe remainder), which
        // pmod reproduces directly
        val offUs = if (intervals.length == 3) intervalUs(intervals(2)) else 0L
        // each row joins every cumulative slice whose end lies after it —
        // slice ends are aligned to the (offset-shifted) maxSize boundary
        // (q24's algorithm)
        withTime(src
          .withColumn("__us", unix_micros(col(tsCol)))
          .withColumn("__ws", col("__us") - pmod(col("__us") - offUs, lit(maxUs)))
          .withColumn("__we", explode(sequence(
            col("__ws") + stepUs, col("__ws") + maxUs, lit(stepUs))))
          .filter(col("__us") < col("__we"))
          .withColumn("window_start", timestamp_micros(col("__ws")))
          .withColumn("window_end", timestamp_micros(col("__we")))
          .drop("__us", "__ws", "__we"))

      case "SESSION" =>
        require(intervals.length == 1, "SESSION(TABLE t [PARTITION BY k], DESCRIPTOR(ts), gap)")
        // streaming sources never reach this batch lowering — sql()
        // diverts them to rewriteStreamingWindow (session_window form)
        require(!src.isStreaming,
          "SESSION TVF over a streaming table must go through " +
            "WindowTvfSql.sql, which rewrites it onto session_window")
        val gapUs = intervalUs(intervals(0))
        // gaps-and-islands (the batch form of the session assigner, same
        // [start, last+gap) half-open contract as q23's oracle)
        val keys: Seq[Column] =
          if (partitionKeys.nonEmpty) partitionKeys.map(col) else Seq(lit(1))
        val order = Window.partitionBy(keys: _*).orderBy(col("__us"))
        val session = Window.partitionBy(keys :+ col("__sid"): _*)
        withTime(src
          .withColumn("__us", unix_micros(col(tsCol)))
          .withColumn("__new",
            when(col("__us") - lag(col("__us"), 1).over(order) < gapUs, 0L).otherwise(1L))
          .withColumn("__sid", sum(col("__new")).over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("window_start", timestamp_micros(min(col("__us")).over(session)))
          .withColumn("window_end", timestamp_micros(max(col("__us")).over(session) + gapUs))
          .drop("__us", "__new", "__sid"))
    }
  }
}
