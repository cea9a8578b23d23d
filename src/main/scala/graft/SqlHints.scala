package graft

import java.util.concurrent.atomic.AtomicLong

import graft.util.SqlTokens
import graft.util.SqlTokens.{Kind, Tok}
import org.apache.spark.sql.SparkSession

/** SQL planner hints — the front-door analog of the reference's hint
  * package (flink-table-planner hint/FlinkHints.java, JoinStrategy.java,
  * LookupJoinHintOptions.java; parser: Calcite's `&#47;*+ ... *&#47;` hint
  * syntax).
  *
  * Three hint families, exactly the reference's surface:
  *
  *  - '''Dynamic table options''' (`FROM t &#47;*+ OPTIONS('k'='v') *&#47;`,
  *    FlinkHints.HINT_NAME_OPTIONS): per-statement overrides of a
  *    connector table's WITH-clause options, merged hint-wins
  *    (FlinkHints.mergeTableOptions) and gated by the
  *    `table.dynamic-table-options.enabled` session conf (default true,
  *    TableConfigOptions.java:73). Spark mapping: the hinted relation is
  *    re-read through `WatermarkDdl.read` with the merged option map and
  *    spliced in as a lifted temp view (alias preserved, or the bare
  *    table name re-bound so column references keep resolving).
  *
  *  - '''Join strategy hints''' (`SELECT &#47;*+ BROADCAST(t) *&#47; ...`,
  *    JoinStrategy.java): BROADCAST / SHUFFLE_HASH / SHUFFLE_MERGE /
  *    NEST_LOOP translate onto Spark's native hint names (BROADCAST,
  *    SHUFFLE_HASH, MERGE, SHUFFLE_REPLICATE_NL) and ride Catalyst's own
  *    hint resolution — the strategy choice is the optimizer's job on
  *    both engines. Arguments must name a relation or alias visible in
  *    the statement; unlike Spark's silent warn-and-ignore, an unknown
  *    name rejects loudly (the reference validates hint args in
  *    FlinkHintStrategies).
  *
  *  - '''LOOKUP hint''' (`SELECT &#47;*+ LOOKUP('table'='d', 'async'='true',
  *    ...) *&#47;`, LookupJoinHintOptions.java): key-value options
  *    validated against the reference's exact option set ('table'
  *    required; async / output-mode / capacity / timeout; retry-predicate
  *    'lookup_miss' with fixed_delay strategy). The hint is stripped from
  *    the text and handed to [[TemporalSql.sqlLookup]], which executes
  *    the statement's FOR SYSTEM_TIME AS OF join as a real per-row
  *    lookup join (JDBC probes, optionally async ordered/unordered with
  *    capacity+timeout, retry-on-miss) instead of the as-of lowering.
  *
  * Unknown hint names reject loudly — a misspelled hint silently parsed
  * as a comment is the silent-wrongness class this front door bans.
  */
object SqlHints {

  /** A statement after hint processing. `lifted` temp views (OPTIONS
    * rewrites) are the caller's to drop once the DataFrame is built. */
  final case class Hinted(
      query: String,
      lookup: Option[Map[String, String]],
      lifted: Seq[String],
      joinHints: Boolean)

  private val viewCounter = new AtomicLong

  private val JoinHintNames = Map(
    // the reference's names (JoinStrategy.java) onto Spark's
    "BROADCAST" -> "BROADCAST",
    "SHUFFLE_HASH" -> "SHUFFLE_HASH",
    "SHUFFLE_MERGE" -> "MERGE",
    "NEST_LOOP" -> "SHUFFLE_REPLICATE_NL",
    // Spark's own join-hint spellings stay valid (identity): the front
    // door must not reject statements Spark itself accepts
    "MERGE" -> "MERGE",
    "MERGEJOIN" -> "MERGEJOIN",
    "BROADCASTJOIN" -> "BROADCASTJOIN",
    "MAPJOIN" -> "MAPJOIN",
    "SHUFFLE_REPLICATE_NL" -> "SHUFFLE_REPLICATE_NL")

  /** Spark partitioning hints pass through verbatim (their args are
    * numbers/columns, not relations — nothing for us to validate). */
  private val SparkPassThrough = Set(
    "REPARTITION", "REPARTITION_BY_RANGE", "COALESCE", "REBALANCE")

  private val LookupKeys = Set(
    "table", "async", "output-mode", "capacity", "timeout",
    "retry-predicate", "retry-strategy", "fixed-delay", "max-attempts")

  // ---------------------------------------------------------- parsing

  private final case class RawHint(name: String, idents: Seq[String],
      kv: Seq[(String, String)])

  private def unquote(lit: String): String = {
    val q = lit.head
    val body = lit.substring(1, lit.length - 1)
    body.replace(s"$q$q", q.toString).replace(s"\\$q", q.toString)
  }

  /** Parse the inside of one hint block: NAME[(args)] [, NAME[(args)]]*,
    * args either bare identifiers or 'k'='v' pairs. */
  private def parseBlock(inner: String): Seq[RawHint] = {
    val toks = SqlTokens.structural(SqlTokens.tokenize(inner))
    val out = Seq.newBuilder[RawHint]
    var i = 0
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"malformed hint block '/*+ $inner */': $msg")
    while (i < toks.length) {
      if (toks(i).kind != Kind.Ident) fail(s"expected a hint name")
      val name = toks(i).word(inner)
      i += 1
      var idents = Vector.empty[String]
      var kv = Vector.empty[(String, String)]
      if (i < toks.length && toks(i).kind == Kind.LParen) {
        val close = SqlTokens.matchParen(toks, i)
        if (close < 0) fail("unbalanced parens")
        var j = i + 1
        while (j < close) {
          toks(j).kind match {
            case Kind.Comma => j += 1
            case Kind.Ident | Kind.Num =>
              idents :+= toks(j).text(inner).replace("`", ""); j += 1
            case Kind.Str =>
              // 'k' = 'v'
              if (j + 2 >= close || toks(j + 1).text(inner) != "=" ||
                  toks(j + 2).kind != Kind.Str)
                fail("key-value hint options must be 'key'='value'")
              kv :+= (unquote(toks(j).text(inner)) ->
                unquote(toks(j + 2).text(inner)))
              j += 3
            case _ => fail(s"unexpected token '${toks(j).text(inner)}'")
          }
        }
        i = close + 1
      }
      out += RawHint(name, idents, kv)
      if (i < toks.length) {
        if (toks(i).kind != Kind.Comma) fail("hints must be comma-separated")
        i += 1
      }
    }
    out.result()
  }

  // ------------------------------------------- statement-shape helpers

  private val AliasStopWords = Set(
    "ON", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS", "NATURAL", "SEMI", "ANTI", "UNION",
    "EXCEPT", "INTERSECT", "MINUS", "LATERAL", "MATCH_RECOGNIZE", "FOR",
    "USING", "WINDOW", "QUALIFY", "DISTRIBUTE", "CLUSTER", "SORT",
    "TABLESAMPLE", "PIVOT", "UNPIVOT", "VALUES", "SELECT", "SET", "WITH")

  /** Relation last-names and aliases visible in the statement (lowercase)
    * — the namespace join-strategy hint arguments must resolve in. */
  private[graft] def relationNames(query: String): Set[String] = {
    val toks = SqlTokens.structural(SqlTokens.tokenize(query))
    val out = Set.newBuilder[String]
    var i = 0
    def word(k: Int) = toks(k).word(query)
    while (i < toks.length) {
      if (toks(i).kind == Kind.Ident &&
          (word(i) == "FROM" || word(i) == "JOIN")) {
        var j = i + 1
        var continue = true
        while (continue && j < toks.length) {
          continue = false
          if (j < toks.length && toks(j).kind == Kind.LParen) {
            val close = SqlTokens.matchParen(toks, j)
            j = if (close < 0) toks.length else close + 1
          } else if (j < toks.length && toks(j).kind == Kind.Ident) {
            // dotted chain: keep the LAST part
            var last = word(j)
            j += 1
            while (j + 1 < toks.length && toks(j).kind == Kind.Op &&
                toks(j).text(query) == "." && toks(j + 1).kind == Kind.Ident) {
              last = word(j + 1)
              j += 2
            }
            out += last.toLowerCase
          }
          // optional alias: AS x | bare non-keyword ident
          if (j < toks.length && toks(j).kind == Kind.Ident) {
            if (word(j) == "AS") {
              if (j + 1 < toks.length && toks(j + 1).kind == Kind.Ident) {
                out += word(j + 1).toLowerCase
                j += 2
              }
            } else if (!AliasStopWords.contains(word(j))) {
              out += word(j).toLowerCase
              j += 1
            }
          }
          // FROM-list comma: another relation follows
          if (j < toks.length && toks(j).kind == Kind.Comma) {
            j += 1
            continue = true
          }
        }
        i = j
      } else i += 1
    }
    out.result()
  }

  // ---------------------------------------------------------- rewrite

  /** Process every hint block in `query`. Creates temp views for OPTIONS
    * hints (returned in `lifted` for the caller to drop). */
  def apply(spark: SparkSession, query: String): Hinted = {
    val toks = SqlTokens.tokenize(query)
    val hintToks = toks.zipWithIndex.filter { case (t, _) =>
      t.kind == Kind.Comment && t.text(query).startsWith("/*+")
    }
    if (hintToks.isEmpty) return Hinted(query, None, Nil, joinHints = false)

    val structuralIdx = toks.zipWithIndex
      .filter(_._1.kind != Kind.Comment).map(_._2)
    def prevStructural(tokIdx: Int): Int =
      structuralIdx.takeWhile(_ < tokIdx).lastOption.getOrElse(-1)
    def nextStructural(tokIdx: Int): Int =
      structuralIdx.find(_ > tokIdx).getOrElse(-1)

    lazy val relNames = relationNames(query)

    // (start, end, replacement) splices into the ORIGINAL text
    val splices = Seq.newBuilder[(Int, Int, String)]
    val lifted = Seq.newBuilder[String]
    var lookup: Option[Map[String, String]] = None
    var joinHints = false

    hintToks.foreach { case (tok, tokIdx) =>
      require(tok.closed, s"unterminated hint block: ${tok.text(query)}")
      val inner = query.substring(tok.start + 3, tok.end - 2).trim
      val hints = parseBlock(inner)
      require(hints.nonEmpty, s"empty hint block: ${tok.text(query)}")

      val prevIdx = prevStructural(tokIdx)
      val prevTok = if (prevIdx >= 0) Some(toks(prevIdx)) else None
      val afterSelect =
        prevTok.exists(t => t.kind == Kind.Ident && t.word(query) == "SELECT")

      if (afterSelect) {
        // ---- query-level hints: join strategies and/or LOOKUP
        val kept = Seq.newBuilder[String]
        hints.foreach {
          case RawHint("OPTIONS", _, _) =>
            throw new IllegalArgumentException(
              "OPTIONS is a table hint — write it after the table " +
                "reference: FROM t /*+ OPTIONS('k'='v') */")
          case RawHint("LOOKUP", idents, kv) =>
            require(idents.isEmpty,
              "LOOKUP hint accepts only key-value options " +
                "(LookupJoinHintOptions)")
            require(lookup.isEmpty, "at most one LOOKUP hint per statement")
            lookup = Some(validateLookup(kv))
          case RawHint(name, idents, kv) if JoinHintNames.contains(name) =>
            require(kv.isEmpty && idents.nonEmpty,
              s"join strategy hint $name needs a table/alias argument list")
            idents.foreach { id =>
              require(relNames.contains(id.toLowerCase),
                s"join hint $name($id): '$id' is not a relation or alias " +
                  s"of this statement (visible: ${relNames.toSeq.sorted.mkString(", ")})")
            }
            joinHints = true
            kept += s"${JoinHintNames(name)}(${idents.mkString(", ")})"
          case RawHint(name, idents, kv) if SparkPassThrough.contains(name) =>
            require(kv.isEmpty,
              s"partitioning hint $name takes columns/numbers, not options")
            kept += (if (idents.isEmpty) name
                     else s"$name(${idents.mkString(", ")})")
          case RawHint(name, _, _) =>
            throw new IllegalArgumentException(
              s"unknown query hint $name — supported: " +
                s"${JoinHintNames.keys.toSeq.sorted.mkString(", ")}, " +
                s"${SparkPassThrough.toSeq.sorted.mkString(", ")}, LOOKUP " +
                "(after SELECT), OPTIONS (after a table reference)")
        }
        val k = kept.result()
        val replacement = if (k.isEmpty) "" else s"/*+ ${k.mkString(", ")} */"
        splices += ((tok.start, tok.end, replacement))
      } else {
        // ---- table-level hint: OPTIONS after a relation reference
        hints.foreach { h =>
          require(h.name == "OPTIONS",
            s"hint ${h.name} is a query hint — write it right after " +
              "SELECT; only OPTIONS attaches to a table reference")
        }
        require(hints.size == 1, "one OPTIONS hint per table reference")
        val kv = hints.head.kv
        require(kv.nonEmpty && hints.head.idents.isEmpty,
          "OPTIONS hint takes 'key'='value' pairs")
        require(
          spark.conf.get("table.dynamic-table-options.enabled", "true").toBoolean,
          "the OPTIONS hint is allowed only when " +
            "'table.dynamic-table-options.enabled' is set to true " +
            "(TableConfigOptions)")

        // the hinted relation: walk the dotted ident chain ending at prev
        require(prevTok.exists(_.kind == Kind.Ident),
          "OPTIONS hint must directly follow a table reference")
        var first = prevIdx
        var k = structuralIdx.indexOf(prevIdx)
        while (k >= 2 && toks(structuralIdx(k - 1)).kind == Kind.Op &&
            toks(structuralIdx(k - 1)).text(query) == "." &&
            toks(structuralIdx(k - 2)).kind == Kind.Ident) {
          first = structuralIdx(k - 2)
          k -= 2
        }
        val beforeRel =
          if (k >= 1) toks(structuralIdx(k - 1)).word(query) else ""
        require(beforeRel == "FROM" || beforeRel == "JOIN" || beforeRel == ",",
          "OPTIONS hint must follow a table reference in FROM/JOIN " +
            s"position, found it after '${prevTok.get.text(query)}'")
        val table = query.substring(toks(first).start, prevTok.get.end)
          .replace("`", "")

        // temp views throw on property reads — that's just "no options"
        val props = scala.util.Try(WatermarkDdl.tableOptions(spark, table))
          .getOrElse(Map.empty[String, String])
        require(props.contains("connector"),
          s"OPTIONS hint on '$table': dynamic table options apply to " +
            "connector tables (CREATE TABLE ... WITH ('connector'=...)); " +
            s"'$table' declares no connector")
        val view = s"__graft_opts_${viewCounter.incrementAndGet()}"
        // hint options override statics (FlinkHints.mergeTableOptions)
        WatermarkDdl.read(spark, table, kv.toMap)
          .createOrReplaceTempView(view)
        lifted += view

        // alias transparency: keep an explicit alias; otherwise re-bind
        // the bare table name so qualified column references resolve
        val nxt = nextStructural(tokIdx)
        val hasAlias = nxt >= 0 && toks(nxt).kind == Kind.Ident && {
          val w = toks(nxt).word(query)
          w == "AS" || !AliasStopWords.contains(w)
        }
        val bare = table.split('.').last
        val replacement = if (hasAlias) view else s"$view AS $bare"
        splices += ((toks(first).start, tok.end, replacement))
      }
    }

    // apply splices back-to-front so offsets stay valid
    var out = query
    splices.result().sortBy(-_._1).foreach { case (s, e, r) =>
      out = out.substring(0, s) + r + out.substring(e)
    }
    Hinted(out, lookup, lifted.result(), joinHints)
  }

  // ------------------------------------------------- LOOKUP validation

  /** Millisecond parse of the reference's duration literals — shared
    * with the connector DDL's cache options. */
  private[graft] def parseDurationMs(s: String): Long =
    graft.operators.LookupCache.parseDurationMs(s)

  /** Validate LOOKUP hint options against the reference's exact contract
    * (LookupJoinHintOptions.java: supported keys, required 'table',
    * retry-predicate 'lookup_miss' + 'fixed_delay' strategy). */
  private[graft] def validateLookup(kv: Seq[(String, String)]): Map[String, String] = {
    val opts = kv.toMap
    require(opts.size == kv.size, "duplicate LOOKUP hint option key")
    val unknown = opts.keySet -- LookupKeys
    require(unknown.isEmpty,
      s"unknown LOOKUP hint option(s) ${unknown.toSeq.sorted.mkString(", ")} " +
        s"— supported: ${LookupKeys.toSeq.sorted.mkString(", ")}")
    require(opts.contains("table"),
      "LOOKUP hint requires the 'table' option naming the lookup table " +
        "or its alias (LookupJoinHintOptions.LOOKUP_TABLE)")
    opts.get("async").foreach(v => require(
      v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
      s"LOOKUP 'async' must be true|false, got '$v'"))
    opts.get("output-mode").foreach(v => require(
      v.equalsIgnoreCase("ordered") || v.equalsIgnoreCase("allow_unordered"),
      s"LOOKUP 'output-mode' must be ordered|allow_unordered, got '$v'"))
    opts.get("capacity").foreach(v => require(
      scala.util.Try(v.trim.toInt).toOption.exists(_ > 0),
      s"LOOKUP 'capacity' must be a positive integer, got '$v'"))
    opts.get("timeout").foreach(parseDurationMs)
    opts.get("retry-predicate").foreach { v =>
      require(v.equalsIgnoreCase("lookup_miss"),
        s"LOOKUP 'retry-predicate' supports only 'lookup_miss', got '$v'")
      require(opts.get("retry-strategy").exists(_.equalsIgnoreCase("fixed_delay")),
        "LOOKUP retry needs 'retry-strategy'='fixed_delay'")
      require(opts.contains("fixed-delay") && opts.contains("max-attempts"),
        "LOOKUP fixed_delay retry needs 'fixed-delay' and 'max-attempts'")
    }
    opts.get("fixed-delay").foreach(parseDurationMs)
    opts.get("max-attempts").foreach(v => require(
      scala.util.Try(v.trim.toInt).toOption.exists(_ > 0),
      s"LOOKUP 'max-attempts' must be a positive integer, got '$v'"))
    opts
  }
}
