package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** Changelog-mode SQL entry — the front door's analog of Flink's
  * changelog-inference pass (FlinkChangelogModeInferenceProgram, wired
  * at FlinkStreamProgram.scala:298): when a plain GROUP-BY aggregate
  * statement reads a relation that IS a changelog — by the engine's
  * convention, a frame carrying the `row_kind` column the CDC decoders
  * emit (+I/-U/+U/-D, `Cdc.decodeDebezium` et al.) — the aggregates
  * must CONSUME retractions instead of counting every change row as
  * data. Flink infers this from the source's declared changelog mode
  * and swaps in retractable aggregate functions; here the inference
  * signal is the schema (row_kind present) and the lowering is a
  * two-stage batch plan:
  *
  *  1. LIVE MULTISET: group the changelog by the REFERENCED payload
  *     columns (row_kind and the decoder's `cdc_ts` metadata column
  *     excluded — a -U retraction carries its +I's payload but the
  *     UPDATE envelope's timestamp, so netting must ignore metadata;
  *     columns the statement never reads are projected away first —
  *     netting commutes with projection on a well-formed changelog, so
  *     the exchange never pays for unreferenced payload bytes) and net
  *     the signs: `__net = Σ(+1 for +I/+U, -1 for -U/-D)`. Rows whose
  *     net is 0 are FILTERED — a fully-retracted row is absent from the
  *     live multiset, so a fully-retracted group is absent from the
  *     result (Flink's GroupAggFunction deletes a group when its count
  *     drops to 0, GroupAggFunction.java:43);
  *  2. AGGREGATE REWRITE over the live multiset:
  *     COUNT(*)  -> COALESCE(SUM(__net), 0)
  *     COUNT(e)  -> COALESCE(SUM(CASE WHEN (e) IS NOT NULL THEN __net ELSE 0 END), 0)
  *     SUM(e)    -> SUM((e) * __net)
  *     AVG(e)    -> SUM((e) * __net) / SUM(__net over non-null e)
  *     MIN(e)    -> MIN(CASE WHEN __net > 0 THEN (e) END)
  *     MAX(e)    -> MAX(CASE WHEN __net > 0 THEN (e) END)
  *     (MIN/MAX need the live filter, not the sign algebra — exactly
  *     why Flink's MinWithRetractAggFunction keeps full value state.)
  *     A registered RETRACTABLE user-defined aggregate
  *     (StatefulOps.RetractableOverAgg via StreamOverSql
  *     .registerAggregate — the ImperativeAggregateFunction.retract
  *     surface) lowers too: FN(e) -> a weighted UDAF that accumulates
  *     on +1 weights and retracts on -1 (or folds the netted weight),
  *     merging partial accumulators map-side.
  *
  * The statement's function calls are checked against an ALLOWLIST, not
  * a blacklist: over a row_kind relation, every call in the
  * aggregate-carrying clauses must be one of the five supported
  * aggregates, a registered retractable aggregate, or a call that
  * RESOLVES in the session's function registry to a non-aggregate
  * expression. Anything else — an aggregate with no rewrite (MAX_BY,
  * COUNT_IF, STDDEV, ...), a non-retractable registered aggregate, or a
  * call the registry cannot classify — rejects LOUDLY: a silent
  * plain-SQL fall-through would aggregate retraction rows as data, the
  * exact silent-wrongness this front door bans. Statements over
  * row_kind relations that reference row_kind/cdc_ts themselves, use
  * window functions, or carry subqueries are deliberate raw-changelog
  * reads and fall through untouched.
  *
  * JOINS: Flink propagates changelog mode through the whole tree
  * (FlinkChangelogModeInferenceProgram; joins consume and produce
  * retractions, StreamingJoinOperator.java:36). In batch that
  * propagation is pure algebra — a retraction carries its insert's
  * payload and joins to exactly the same rows — so [[lowerJoin]]
  * rewrites linear join chains: one changelog joined to static
  * relations (INNER/CROSS freely; LEFT/RIGHT with the changelog on the
  * preserved side), and multiple changelogs under INNER/CROSS with
  * pairwise weight PRODUCTS. Inadmissible shapes — a changelog on a
  * null-padded side (its dead pairs would still match, so a
  * fully-retracted key would never null-pad), FULL joins, subqueries,
  * set operations — reject loudly with materialize-first guidance, as
  * do aggregates reaching a changelog through DDL bodies or WITH-led
  * statements (SqlComposer.composedBody routes the supported ones).
  *
  * WHERE applies BEFORE netting: predicates read payload columns only,
  * so a retraction passes the filter iff the row it retracts did.
  *
  * UPSERT MODE: a relation DECLARED upsert (`graft.upsert.keys` catalog
  * property — the encoding [[streamInsert]] writes to its own sinks and
  * Flink's upsert-kafka tables carry: +U/-D keyed by those columns, no
  * -U) normalizes BEFORE any read ([[normalizeUpsertRels]], the
  * StreamExecChangelogNormalize role): keep-last per key by the commit
  * sequence (falling back to cdc_ts), keys whose latest change is -D
  * dropped, encoding columns stripped. Two +U rows for one key are one
  * logical row — the retract netting above would double-count them, so
  * upsert relations never enter it; the normalized state is a plain
  * relation and the statement executes directly. Statements referencing
  * the encoding columns are deliberate raw reads and skip
  * normalization. The STREAM form of the same operator is
  * [[streaming.StatefulOps.normalizeUpsert]] (+I / -U,+U / -D
  * transition emission from keyed state).
  */
object ChangelogSql {

  private val counter = new AtomicInteger(0)

  private def blank(s: String) = graft.util.SqlSplit.blankLiterals(s)

  /** Top-level clause offsets (paren depth 0 of the blanked text). */
  private case class Clauses(selectList: String, relation: String,
      where: Option[String], groupBy: Option[String],
      having: Option[String], orderBy: Option[String],
      limit: Option[String])

  private def parse(stmt0: String): Option[Clauses] = {
    import graft.util.SqlTokens
    // trailing semicolon would make the relation token unparseable and
    // silently fall a changelog aggregate through to plain SQL
    val stmt = stmt0.trim.replaceAll(";\\s*$", "")
    // clause boundaries walk the TOKEN stream (SqlTokens.structural —
    // the single lexical layer): a keyword inside a string literal is a
    // Str token, one inside a comment never reaches the walk, a
    // backtick-quoted `from` is a QUOTED identifier and never a clause
    // keyword, and a paren inside either can't desync the depth count —
    // the bug classes the old blanked-regex slicing had to handle one
    // by one are impossible by construction here
    val toks = SqlTokens.structural(SqlTokens.tokenize(stmt))
    def word(i: Int): String =
      if (i < toks.length && toks(i).kind == SqlTokens.Kind.Ident &&
          stmt.charAt(toks(i).start) != '`') toks(i).word(stmt)
      else ""
    if (word(0) != "SELECT") return None
    // first DEPTH-0 occurrence of each clause keyword; depth-0 means a
    // window's OVER(... ORDER BY) or a subquery's clauses never split
    // the outer statement. Two-word clauses pair with the NEXT
    // structural token, so comments between GROUP and BY are fine.
    val found = scala.collection.mutable.Map.empty[String, (Int, Int)]
    var depth = 0
    var i = 1
    while (i < toks.length) {
      toks(i).kind match {
        case SqlTokens.Kind.LParen => depth += 1
        case SqlTokens.Kind.RParen => depth -= 1
        case SqlTokens.Kind.Ident if depth == 0 =>
          word(i) match {
            case "FROM" | "WHERE" | "HAVING" | "LIMIT" =>
              val k = word(i)
              if (!found.contains(k))
                found(k) = (toks(i).start, toks(i).end)
            case "GROUP" | "ORDER" if word(i + 1) == "BY" =>
              val k = word(i) + " BY"
              if (!found.contains(k))
                found(k) = (toks(i).start, toks(i + 1).end)
            case _ => ()
          }
        case _ => ()
      }
      i += 1
    }
    val from = found.get("FROM").getOrElse(return None)
    val where = found.get("WHERE")
    val group = found.get("GROUP BY")
    val havingKw = found.get("HAVING")
    val order = found.get("ORDER BY")
    val limit = found.get("LIMIT")
    val boundaries =
      (Seq(from) ++ where ++ group ++ havingKw ++ order ++ limit)
        .map(_._1).sorted
    // slices come from a COMMENT-BLANKED copy (comments are whitespace
    // to SQL — leaving them in would, e.g., make a relation slice
    // `t /* c */` fail the bare-relation shape); literal contents stay
    val src = {
      val arr = stmt.toCharArray
      SqlTokens.tokenize(stmt).foreach { t =>
        if (t.kind == SqlTokens.Kind.Comment) {
          var j = t.start
          while (j < t.end) { arr(j) = ' '; j += 1 }
        }
      }
      new String(arr)
    }
    def sliceAfter(kwEnd: Int): String = {
      val next = boundaries.filter(_ > kwEnd)
      val stop = if (next.isEmpty) stmt.length else next.head
      src.substring(kwEnd, stop).trim
    }
    Some(Clauses(
      src.substring(toks(0).end, from._1).trim,
      sliceAfter(from._2),
      where.map(w => sliceAfter(w._2)),
      group.map(g => sliceAfter(g._2)),
      havingKw.map(h => sliceAfter(h._2)),
      order.map(o => sliceAfter(o._2)),
      limit.map(l => sliceAfter(l._2))))
  }

  /** Single bare (possibly qualified) relation with an optional alias —
    * the shape the two-stage lowering rewrites. Anything else in FROM
    * (joins, subqueries, comma lists, set operations spilling into the
    * relation slice) takes the composite guard instead. */
  private val RelRe =
    """(?is)^`?([\w.]+)`?(?:\s+(?:AS\s+)?`?([A-Za-z_]\w*)`?)?$""".r

  /** Every `ident (` call site in blanked text. */
  private val FnRe = """(?i)\b([A-Za-z_]\w*)\s*\(""".r

  private val Supported = Set("COUNT", "SUM", "AVG", "MIN", "MAX")

  /** Call-LIKE syntax that is not a catalog function: CAST targets and
    * parameterized type names, plus EXTRACT-style keyword forms the
    * registry does not describe. */
  private val SyntacticForms = Set(
    "CAST", "TRY_CAST", "DECIMAL", "DEC", "NUMERIC", "VARCHAR", "CHAR",
    "CHARACTER", "INTERVAL")

  /** SQL keywords that can precede '(' in expression position without
    * being calls (`x IN (...)`, `CASE WHEN (...)`, `a AND (b OR c)`). */
  private val KeywordForms = Set(
    "AND", "OR", "NOT", "IN", "WHEN", "THEN", "ELSE", "CASE", "END",
    "LIKE", "ILIKE", "RLIKE", "REGEXP", "BETWEEN", "IS", "EXISTS", "ALL",
    "ANY", "SOME", "ASC", "DESC", "DIV", "ON", "USING", "AS", "BY",
    "DISTINCT", "ESCAPE", "SELECT", "FROM", "WHERE", "HAVING", "GROUP",
    "ORDER", "LIMIT", "OFFSET", "UNION", "EXCEPT", "INTERSECT", "OVER")

  private def callNames(blanked: String): Seq[String] =
    FnRe.findAllMatchIn(blanked).map(_.group(1).toUpperCase)
      .filterNot(KeywordForms).toSeq.distinct

  /** Registered retractable UDA for `fn`, if any. */
  private def retractableUda(
      fn: String): Option[streaming.StatefulOps.RetractableOverAgg] =
    StreamOverSql.customAgg(fn).collect {
      case r: streaming.StatefulOps.RetractableOverAgg => r
    }

  /** Classify `name` through the session's function registry
    * (FunctionRegistry is the engine's ground truth for what a name
    * means — the allowlist's "known scalar" test): Some(true) =
    * aggregate function, Some(false) = non-aggregate expression,
    * None = unresolvable / unclassifiable. */
  private def isAggregateFn(spark: SparkSession, name: String): Option[Boolean] =
    scala.util.Try {
      val info = spark.sessionState.catalog.lookupFunctionInfo(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name.toLowerCase))
      val cn = info.getClassName
      // builder-registered aggregates (TRY_SUM -> TrySumExpressionBuilder)
      // are not AggregateFunction subclasses but live in the aggregate
      // package — the package IS the classification for those
      cn.startsWith("org.apache.spark.sql.catalyst.expressions.aggregate.") || {
        val cls = Class.forName(cn, false,
          Thread.currentThread().getContextClassLoader)
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction]
          .isAssignableFrom(cls)
      }
    }.toOption

  private def rejectAgg(fn: String, rel: String, why: String): Nothing =
    throw new IllegalArgumentException(
      s"aggregate-carrying clause over changelog relation $rel: $fn $why " +
        "— it has no retraction-consuming rewrite (supported: " +
        "COUNT/SUM/AVG/MIN/MAX and registered RETRACTABLE aggregates); " +
        "materialize the final state first (Cdc.upsertMaterialize) and " +
        "aggregate that")

  /** ALLOWLIST check over the aggregate-carrying clauses: every call
    * must be a supported aggregate, a registered retractable UDA, or a
    * registry-classified non-aggregate. Returns the UDA names in use. */
  private def checkAllowlist(
      spark: SparkSession, rel: String, aggClauses: String): Seq[String] = {
    val calls = callNames(aggClauses)
    calls.foreach { n =>
      if (!Supported(n) && !SyntacticForms(n)) {
        StreamOverSql.customAgg(n) match {
          case Some(_: streaming.StatefulOps.RetractableOverAgg) => ()
          case Some(_) => rejectAgg(n, rel,
            "is a registered aggregate WITHOUT a retract method " +
              "(StatefulOps.RetractableOverAgg)")
          case None => isAggregateFn(spark, n) match {
            case Some(false) => () // known scalar/window expression
            case Some(true)  => rejectAgg(n, rel, "is an aggregate function")
            case None        => rejectAgg(n, rel,
              "cannot be classified in the session's function registry " +
                "(an unclassifiable call could be an aggregate)")
          }
        }
      }
    }
    calls.filter(n => retractableUda(n).isDefined)
  }

  private def matchParen(b: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < b.length) {
      b(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"unbalanced parentheses in SQL statement at offset $open")
  }

  /** Rewrite every supported-aggregate / retractable-UDA call in `list`
    * into its retraction-consuming form. `weight` is `__net` (live
    * multiset, netting path) or `__sign` (±1 per change row, the
    * SINGLE-EXCHANGE path: COUNT/SUM/AVG and retractable UDAs
    * distribute over the change signs — Σ over live rows == Σ x·sign
    * over change rows — so no netting shuffle is needed; MIN/MAX
    * callers never reach the sign path) — or a PRODUCT of per-side
    * weights for multi-changelog joins (Σ over live pairs == Σ
    * f·s₁·s₂). `liveCond` is the MIN/MAX live filter matching the
    * weight (e.g. `__net > 0`, or a conjunction over the sides);
    * None = sign path, where MIN/MAX must not appear. */
  private def rewriteWith(list: String, weight: String, grouped: Boolean,
      streamMinMax: Boolean = false,
      liveCond: Option[String] = None): String = {
    val b = blank(list)
    val sb = new StringBuilder
    var last = 0
    FnRe.findAllMatchIn(b).foreach { m =>
      val fn = m.group(1).toUpperCase
      if (m.start >= last && (Supported(fn) || retractableUda(fn).isDefined)) {
        val open = b.indexOf('(', m.start)
        val close = matchParen(b, open)
        val arg = list.substring(open + 1, close).trim
        require(!arg.toUpperCase.startsWith("DISTINCT"),
          s"changelog aggregate $fn(DISTINCT ...) is not supported; " +
            "aggregate the materialized state instead")
        // COALESCE on GLOBAL counts only: a fully-retracted input nets to
        // EMPTY, and COUNT over empty input is 0, not NULL. Grouped
        // statements never need it — the phantom-group guard drops empty
        // groups, and any surviving group has >= 1 row, so the SUM is
        // non-null — and skipping it matters: a non-trivial aggregate
        // expression in the select list combined with HAVING + an
        // aggregate ORDER BY trips an analyzer resolution corner.
        def zeroSafe(e: String) = if (grouped) e else s"COALESCE($e, 0)"
        val repl = fn match {
          case "COUNT" if arg == "*" => zeroSafe(s"SUM($weight)")
          case "COUNT" =>
            zeroSafe(s"SUM(CASE WHEN ($arg) IS NOT NULL THEN $weight ELSE 0 END)")
          case "SUM" => s"SUM(($arg) * $weight)"
          // denominator = live NON-NULL count (plain AVG ignores nulls)
          case "AVG" => s"(SUM(($arg) * $weight) / " +
            s"SUM(CASE WHEN ($arg) IS NOT NULL THEN $weight ELSE 0 END))"
          // the STREAMING path keeps per-value net counts in a UDAF
          // accumulator instead of a netting exchange (Spark supports
          // only ONE streaming aggregation per query) — Flink's
          // MinWithRetractAggFunction state, value -> live count
          case "MIN" if streamMinMax =>
            s"$MinRetName(CAST(($arg) AS DOUBLE), CAST($weight AS BIGINT))"
          case "MAX" if streamMinMax =>
            s"$MaxRetName(CAST(($arg) AS DOUBLE), CAST($weight AS BIGINT))"
          case "MIN" =>
            require(liveCond.isDefined,
              "MIN has no sign-algebra form") // callers pre-check
            s"MIN(CASE WHEN ${liveCond.get} THEN ($arg) END)"
          case "MAX" =>
            require(liveCond.isDefined, "MAX has no sign-algebra form")
            s"MAX(CASE WHEN ${liveCond.get} THEN ($arg) END)"
          case uda => // registered retractable UDA: weighted-fold UDAF
            s"${udafName(uda)}(CAST(($arg) AS DOUBLE), CAST($weight AS BIGINT))"
        }
        sb.append(list.substring(last, m.start)).append(repl)
        last = close + 1
      }
    }
    sb.append(list.substring(last)).toString
  }

  // ---- retractable user-defined aggregates ---------------------------

  private def udafName(fn: String): String = s"__graft_cl_${fn.toLowerCase}"

  /** Weighted fold of a retractable UDA: weight > 0 accumulates that
    * many times, weight < 0 retracts (the ±1 sign algebra, or the
    * netted multiplicity on the netting path). NULL inputs are skipped
    * (SQL NULL-ignoring aggregates); a no-input accumulator finishes to
    * NaN, read back as SQL NULL. `merge` is the UDA's own partial
    * combine — map-side partial aggregation stays enabled. */
  private case class WeightedUda(
      agg: streaming.StatefulOps.RetractableOverAgg)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Option[Double], Long), Array[Double], java.lang.Double] {
    def zero: Array[Double] = agg.zero.clone()
    def reduce(b: Array[Double], in: (Option[Double], Long)): Array[Double] = {
      // reduceWeighted: O(1) for linear UDAs that override it, the
      // replay loop otherwise — the multiplicity can be large on the
      // netting path (one netted row carries a key's whole live count)
      in._1.foreach(x => agg.reduceWeighted(b, x, in._2))
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      agg.merge(a, b); a
    }
    def finish(b: Array[Double]): java.lang.Double = {
      val r = agg.finish(b)
      if (r.isNaN) null else java.lang.Double.valueOf(r)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: org.apache.spark.sql.Encoder[java.lang.Double] =
      org.apache.spark.sql.Encoders.DOUBLE
  }

  private def registerUdafs(spark: SparkSession, udas: Seq[String]): Unit =
    udas.foreach { n =>
      val agg = retractableUda(n).getOrElse(
        throw new IllegalStateException(s"UDA $n vanished from the registry"))
      spark.udf.register(udafName(n), udaf(WeightedUda(agg),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(Option[Double], Long)]()))
    }

  /** The relation's column names via a CATALOG lookup — cheap enough
    * for the hot plain-SQL path (every single-table SELECT passes this
    * gate); full `spark.table` analysis happens only once the relation
    * is known to carry row_kind. Falls back to `spark.table` for
    * relations the session catalog can't describe. */
  private def relationColumns(spark: SparkSession, rel: String): Option[Seq[String]] =
    scala.util.Try {
      val cat = spark.sessionState.catalog
      val id = spark.sessionState.sqlParser.parseTableIdentifier(rel)
      cat.getTempView(id.table) match {
        case Some(p) if id.database.isEmpty => p.output.map(_.name)
        case _ => cat.getTableMetadata(id).schema.fieldNames.toSeq
      }
    }.orElse(scala.util.Try(spark.table(rel).columns.toSeq)).toOption

  private def isChangelogRel(spark: SparkSession, rel: String): Boolean =
    relationColumns(spark, rel).exists(_.contains(streaming.Cdc.RowKind))

  /** Table identifiers in FROM/JOIN position anywhere in the blanked
    * statement (subqueries included) — the composite guard's reach. */
  private val FromJoinIdRe = """(?is)\b(?:FROM|JOIN)\s+`?([\w.]+)`?""".r

  /** The relation's declared UPSERT key columns, when it is an
    * UPSERT-mode changelog (row_kind ∈ {+U, -D}, keyed — the encoding
    * [[streamInsert]] writes and Flink's upsert-kafka tables carry).
    * Mode is declared where Flink declares it — on the TABLE: the
    * `graft.upsert.keys` catalog property (streamInsert records it on
    * its sinks automatically). Resolution is BASE-AWARE: a DDL-declared
    * connector table persists its properties on `__<rel>_base` (the
    * user-facing name is a props-less catalog view), so the lookup goes
    * through [[WatermarkDdl.tableOptions]] — which checks the base
    * first — and falls back to the direct table metadata for plain
    * tables carrying the property in their own TBLPROPERTIES. */
  private[graft] def upsertKeysOf(
      spark: SparkSession, rel: String): Option[Seq[String]] =
    tablePropOf(spark, rel, "graft.upsert.keys")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  /** Base-aware table property lookup (the resolution chain of
    * [[upsertKeysOf]], factored): DDL-declared connector tables persist
    * properties on `__<rel>_base`, plain tables carry them in their own
    * TBLPROPERTIES. */
  private[graft] def tablePropOf(
      spark: SparkSession, rel: String, key: String): Option[String] =
    scala.util.Try(WatermarkDdl.tableOptions(spark, rel))
      .toOption.flatMap(_.get(key))
      .orElse(scala.util.Try {
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(rel))
          .properties.get(key)
      }.toOption.flatten)

  /** Columns of `rel` DECLARED monotonically non-decreasing per upsert
    * key (`graft.monotone.cols` — recorded by [[streamInsert]] on its
    * sink when the aggregate provably preserves monotonicity: COUNT/MAX
    * items over an insert-only input with no HAVING). The reference
    * derives the same fact in the planner as RelModifiedMonotonicity
    * (RankProcessStrategy.java picks UpdateFastStrategy from it). */
  private[graft] def monotoneColsOf(
      spark: SparkSession, rel: String): Seq[String] =
    tablePropOf(spark, rel, "graft.monotone.cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Is `rel` DECLARED an insert-only changelog
    * (`'graft.changelog.mode' = 'insert-only'` — the role of the
    * reference's per-connector changelog-mode declaration, e.g. a plain
    * kafka or filesystem source producing only INSERT rows)? The
    * declaration is a contract: consumers that rely on it (monotone
    * aggregates feeding FastTop1) fail loudly at runtime if a
    * retraction shows up anyway. */
  private[graft] def isInsertOnlyRel(
      spark: SparkSession, rel: String): Boolean =
    tablePropOf(spark, rel, "graft.changelog.mode")
      .exists(_.trim.equalsIgnoreCase("insert-only"))

  /** ChangelogNormalize for batch (StreamExecChangelogNormalize /
    * upsert-source materialization): every statement relation that is a
    * DECLARED upsert changelog is shadowed by its normalized CURRENT
    * state — keep-last per key (ordered by the stream's commit sequence,
    * falling back to cdc_ts), keys whose latest change is -D dropped,
    * encoding columns stripped. An upsert changelog MUST normalize
    * before any read: two +U rows for one key are one logical row, so
    * the retract-mode netting (and plain SQL even more so) would
    * double-count. Statements referencing the encoding columns
    * themselves are deliberate raw reads and skip normalization.
    * Returns (shadowed names, prior temp-view frames to restore). */
  private def normalizeUpsertRels(
      spark: SparkSession, stmt: String): Seq[(String, Option[DataFrame])] = {
    val b = blank(stmt)
    val rawRead = Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol).exists(m =>
      ("(?i)\\b" + java.util.regex.Pattern.quote(m) + "\\b").r
        .findFirstIn(b).isDefined)
    if (rawRead) return Nil
    FromJoinIdRe.findAllMatchIn(b).map(_.group(1)).toSeq.distinct.flatMap { rel =>
      upsertKeysOf(spark, rel) match {
        case Some(keys) if isChangelogRel(spark, rel) =>
          val cols = relationColumns(spark, rel).getOrElse(Seq.empty)
          val orderCol =
            if (cols.contains(SeqCol)) SeqCol
            else if (cols.contains("cdc_ts")) "cdc_ts"
            else throw new IllegalArgumentException(
              s"upsert changelog '$rel' declares keys but carries no " +
                s"order column ($SeqCol or cdc_ts) — keep-last is undefined")
          require(keys.forall(cols.contains),
            s"upsert changelog '$rel': declared key(s) " +
              s"${keys.filterNot(cols.contains).mkString(",")} not in schema")
          require(!rel.contains("."),
            s"upsert changelog '$rel': qualified reads cannot be " +
              "normalized in place — reference the table by its bare " +
              "name (or read the raw encoding via its row_kind column)")
          val bare = rel
          val prior = spark.sessionState.catalog.getTempView(bare)
            .map(_ => spark.table(bare))
          streaming.Cdc.upsertMaterialize(
            spark.table(rel), keys, orderCol, orderCol,
            insertAfterDelete = false)
            .drop(streaming.Cdc.RowKind, orderCol)
            .createOrReplaceTempView(bare)
          Seq(bare -> prior)
        case _ => Nil
      }
    }
  }

  /** `FINAL_STATE(<changelog table>)` in relation position — the SQL
    * spelling of this module's materialize-first guidance: the
    * changelog's CURRENT live multiset as a plain relation, so shapes
    * with no retraction-consuming rewrite (window functions, ranks,
    * composite joins) run CORRECTLY over the final state instead of
    * rejecting. Exactly what the reference's BATCH mode does with a
    * bounded changelog source: materialize at the source, then plan the
    * statement insert-only (SinkUpsertMaterializer / bounded
    * ChangelogNormalize role). An UPSERT-declared relation materializes
    * keep-last per key ([[streaming.Cdc.upsertMaterialize]]); a RETRACT
    * relation nets every distinct payload row's sign sum and replicates
    * rows by their live multiplicity — one exchange over the payload
    * columns, the cost any final-state read must pay once. */
  private val FinalStateRe =
    """(?i)\bFINAL_STATE\s*\(\s*`?([\w.]+)`?\s*\)""".r

  /** Rewrite every `FINAL_STATE(t)` in `stmt` to a statement-scoped view
    * of t's materialized live state. Returns (rewritten statement, view
    * names to drop after execution); (stmt, Nil) when absent. */
  def bindFinalState(spark: SparkSession, stmt: String): (String, Seq[String]) = {
    val b = blank(stmt)
    val ms = FinalStateRe.findAllMatchIn(b).toSeq
    if (ms.isEmpty) return (stmt, Nil)
    val views = scala.collection.mutable.Map.empty[String, String]
    // NOTE: callers drop the returned views after execution; a FAILURE
    // partway through binding must not leak the ones already created
    def viewOf(rel: String): String = views.getOrElseUpdate(rel, {
      require(isChangelogRel(spark, rel),
        s"FINAL_STATE($rel): not a changelog relation (no row_kind " +
          "column) — read the table directly")
      val df = spark.table(rel)
      val state = upsertKeysOf(spark, rel) match {
        case Some(keys) =>
          val orderCol = Seq(SeqCol, "cdc_ts").find(df.columns.contains)
            .getOrElse(throw new IllegalArgumentException(
              s"FINAL_STATE($rel): upsert relation carries no order column"))
          streaming.Cdc.upsertMaterialize(df, keys, orderCol, orderCol,
            insertAfterDelete = false)
            .drop(streaming.Cdc.RowKind, SeqCol, "cdc_ts")
        case None =>
          // retract netting: live multiplicity per distinct payload row,
          // rows replicated by their net count
          val payloadCols = df.columns.toSeq.filterNot(c =>
            c == streaming.Cdc.RowKind || c == "cdc_ts" || c == SeqCol)
          val sign = when(col(streaming.Cdc.RowKind)
            .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), 1L)
            .otherwise(-1L)
          df.groupBy(payloadCols.map(col): _*)
            .agg(sum(sign).as("__net")).filter(col("__net") > 0)
            .withColumn("__dup", explode(sequence(lit(1L), col("__net"))))
            .drop("__net", "__dup")
      }
      val v = s"__graft_final_${counter.incrementAndGet()}"
      state.createOrReplaceTempView(v)
      v
    })
    try {
      val sb = new StringBuilder
      var last = 0
      ms.foreach { m =>
        sb.append(stmt.substring(last, m.start)).append(viewOf(m.group(1)))
        last = m.end
      }
      sb.append(stmt.substring(last))
      (sb.toString, views.values.toSeq)
    } catch {
      case t: Throwable =>
        views.values.foreach(v => spark.catalog.dropTempView(v): Unit)
        throw t
    }
  }

  /** `EXPLAIN CHANGELOG_MODE <statement>` — Flink's ExplainDetail
    * .CHANGELOG_MODE (SqlRichExplain + ExecNode changelog annotations):
    * per-relation changelog modes and the lowering this entry selects,
    * above the lowered Spark plan. The mode vocabulary is the
    * reference's: insert-only [+I], retract [+I,-U,+U,-D], upsert
    * [+U,-D] with its key. */
  def explainChangelog(spark: SparkSession, stmt: String): DataFrame = {
    import spark.implicits._
    val b = blank(stmt)
    val rels = FromJoinIdRe.findAllMatchIn(b).map(_.group(1)).toSeq.distinct
    def upsertOf(r: String) =
      upsertKeysOf(spark, r).filter(_ => isChangelogRel(spark, r))
    val modeLines = rels.map { r =>
      val mode = upsertOf(r) match {
        case Some(keys) => s"upsert [+U, -D] keyed by (${keys.mkString(", ")})"
        case None if isChangelogRel(spark, r) => "retract [+I, -U, +U, -D]"
        case None => "insert-only [+I]"
      }
      s"  $r: $mode"
    }
    val rawRead = Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol).exists(m =>
      ("(?i)\\b" + java.util.regex.Pattern.quote(m) + "\\b").r
        .findFirstIn(b).isDefined)
    val upsertRels = rels.filter(r => upsertOf(r).isDefined)
    val retractRels = rels.filter(r =>
      upsertOf(r).isEmpty && isChangelogRel(spark, r))
    val route: Seq[String] =
      if (upsertRels.isEmpty && retractRels.isEmpty) Nil
      else if (rawRead)
        Seq("  route: RAW changelog read (encoding columns referenced) — " +
          "no rewrite")
      else {
        val norm =
          if (upsertRels.isEmpty) Nil
          else Seq("  route: ChangelogNormalize (keep-last per key) " +
            s"applied to: ${upsertRels.mkString(", ")}")
        val agg =
          if (retractRels.isEmpty) Nil
          else parse(stmt) match {
            case Some(c) =>
              val aggClauses = blank(c.selectList) + " " +
                c.having.map(blank).getOrElse("") + " " +
                c.orderBy.map(blank).getOrElse("")
              val isDistinct =
                """(?is)^\s*DISTINCT\b""".r.findFirstIn(c.selectList).isDefined
              val hasAgg = callNames(aggClauses).exists(Supported)
              val needsNet = isDistinct ||
                """(?i)\b(MIN|MAX)\s*\(""".r.findFirstIn(aggClauses).isDefined
              // a JOIN chain reports the join lowering's chosen
              // per-side weight columns + admissibility (the weights
              // lowerJoin will bind, by its ordinal naming)
              val joinChain = parseJoinChain(c.relation).filter(_.size > 1)
              joinChain match {
                case Some(chain) if hasAgg || c.groupBy.isDefined || isDistinct =>
                  val clIdxs = chain.zipWithIndex.collect {
                    case (r, i) if isChangelogRel(spark, r.name) => i
                  }
                  val wName = (j: Int) =>
                    if (needsNet) s"__net_$j" else s"__sign_$j"
                  val sides = clIdxs.zipWithIndex.map { case (idx, j) =>
                    s"${chain(idx).name} -> ${wName(j)}"
                  }
                  val joint = clIdxs.indices.map(wName).mkString(" * ")
                  val inadmissible = chain.zipWithIndex.drop(1).collectFirst {
                    case (r, i) if !(r.joinType.contains("INNER") ||
                        r.joinType.contains("CROSS") ||
                        (clIdxs.size == 1 &&
                          ((r.joinType.contains("LEFT") && clIdxs.head < i) ||
                           (r.joinType.contains("RIGHT") && clIdxs.head == i)))) =>
                      s"  route: INADMISSIBLE join shape — changelog on " +
                        s"the padded side of a ${r.joinType.getOrElse("?")} " +
                        "JOIN (the statement will reject loudly)"
                  }
                  inadmissible.map(Seq(_)).getOrElse(Seq(
                    "  route: changelog join lowering — per-side weight " +
                      s"columns: ${sides.mkString(", ")}; joint weight = " +
                      joint + (if (needsNet)
                        " (netted multiplicities; live = all nets > 0)"
                      else " (±1 sign products, zero extra exchange)")))
                case Some(_) =>
                  Seq("  route: raw changelog join read — no rewrite")
                case None =>
                  if (!hasAgg && c.groupBy.isEmpty && !isDistinct)
                    Seq("  route: raw changelog projection — no rewrite")
                  else if (needsNet)
                    Seq("  route: retraction-consuming aggregate — NETTED " +
                      "live multiset (net<>0 filter; MIN/MAX or DISTINCT " +
                      "need surviving rows)")
                  else
                    Seq("  route: retraction-consuming aggregate — " +
                      "single-exchange ±1 sign algebra (COUNT/SUM/AVG " +
                      "distribute over change signs)")
              }
            case None =>
              Seq("  route: composite statement — see this module's " +
                "admissible-shape guards")
          }
        norm ++ agg
      }
    val plan = scala.util.Try(
      Engine.sql(spark, stmt).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple")))
      .getOrElse("<statement does not lower to a single batch plan>")
    Seq("== Changelog Modes ==\n" + (modeLines ++ route).mkString("\n") +
      "\n\n== Physical Plan ==\n" + plan).toDF("plan")
  }

  /** Lower `stmt` if it is a supported aggregate over a changelog
    * relation; None = not this entry's statement (plain fall-through).
    * The changelog signal is the RESOLVED schema, never text. Throws
    * for aggregate statements that read a changelog in a shape with no
    * retraction-consuming rewrite (composite FROM, unsupported or
    * unclassifiable aggregate calls). UPSERT-mode relations (declared
    * `graft.upsert.keys`) are normalized FIRST (ChangelogNormalize) —
    * and since the normalized state is a plain relation, the statement
    * over it executes directly. */
  def sql(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val shadows = normalizeUpsertRels(spark, stmt)
    if (shadows.isEmpty) sqlInner(spark, stmt)
    // with shadows active the statement must still execute THROUGH the
    // extended dispatch (WatermarkDdl owns INSERT-into-connector routing
    // and the healing CREATE path) — the shadow views stay bound for the
    // duration, so the normalized state is what resolves; a raw
    // spark.sql here would lose that routing (e.g. INSERT INTO
    // <connector table> SELECT ... FROM <upsert table> would try to
    // write the catalog view and fail)
    else try sqlInner(spark, stmt).orElse(Some(WatermarkDdl.sql(spark, stmt)))
    finally shadows.foreach {
      case (name, Some(prior)) => prior.createOrReplaceTempView(name)
      case (name, None)        => spark.catalog.dropTempView(name): Unit
    }
  }

  private def sqlInner(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val c = parse(stmt).getOrElse {
      // WITH-led (and otherwise clause-unparseable) SELECT forms still
      // cross the composite guard: a CTE statement aggregating a
      // changelog has no rewrite, and plain SQL would count change rows
      val b = blank(stmt)
      if ("""(?is)^\s*(WITH|SELECT)\b""".r.findFirstIn(b).isDefined) {
        val refsMeta = Seq(streaming.Cdc.RowKind, "cdc_ts").exists(m =>
          ("(?i)\\b" + m + "\\b").r.findFirstIn(b).isDefined)
        compositeGuard(spark, stmt,
          groupByDefined = """(?is)\bGROUP\s+BY\b""".r.findFirstIn(b).isDefined,
          refsMeta = refsMeta)
      }
      return None
    }
    val bl = blank(c.selectList)
    // the three AGGREGATE-CARRYING clauses share one scan: an aggregate
    // hiding in HAVING or ORDER BY needs the same rewrite (or the same
    // loud reject) as one in the select list
    val aggClauses = bl + " " + c.having.map(blank).getOrElse("") + " " +
      c.orderBy.map(blank).getOrElse("")
    val allClauses = aggClauses + " " + c.where.map(blank).getOrElse("") +
      " " + c.groupBy.map(blank).getOrElse("")
    val refsMeta = Seq(streaming.Cdc.RowKind, "cdc_ts").exists(m =>
      ("(?i)\\b" + m + "\\b").r.findFirstIn(allClauses).isDefined)
    c.relation match {
      case RelRe(name, alias) if isChangelogRel(spark, name) =>
        lowerBare(spark, c, name, Option(alias), aggClauses, allClauses, refsMeta)
      case RelRe(_, _) => None // single non-changelog relation: untouched
      case _ =>
        // a linear join chain with exactly ONE changelog lowers through
        // the sign/netting algebra; every other composite shape keeps
        // the loud guard
        lowerJoin(spark, c, aggClauses, allClauses).orElse {
          compositeGuard(spark, stmt, c.groupBy.isDefined, refsMeta); None
        }
    }
  }

  // ---- join chains: changelog ⋈ static relations ----------------------

  /** One relation of a linear join chain. `joinType` (INNER/CROSS/LEFT/
    * RIGHT/FULL) is the join CONNECTING this relation to the accumulated
    * left part — None for the first relation; `on` its ON text. */
  private case class ChainRel(name: String, alias: Option[String],
      joinType: Option[String], on: Option[String])

  private val JoinHeads = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS")

  /** Parse a linear `rel [AS a] [<type> JOIN rel [AS a] ON ...]*` chain
    * on the token stream; None for anything else (subqueries, commas,
    * USING, NATURAL, LATERAL — those keep the composite guard). */
  private def parseJoinChain(fromText: String): Option[Seq[ChainRel]] = {
    import graft.util.SqlTokens
    import graft.util.SqlTokens.Kind
    val b = blank(fromText)
    val t = SqlTokens.structural(SqlTokens.tokenize(b))
    var i = 0
    def word(j: Int): String =
      if (j < t.length && t(j).kind == Kind.Ident) t(j).word(b) else ""
    // a (possibly dot-qualified, possibly backticked) identifier
    def relName(): Option[String] = {
      if (i >= t.length || t(i).kind != Kind.Ident || JoinHeads(word(i))) return None
      val sb = new StringBuilder(t(i).text(b).replace("`", ""))
      i += 1
      while (i + 1 < t.length && t(i).kind == Kind.Op && t(i).text(b) == "." &&
        t(i + 1).kind == Kind.Ident) {
        sb.append(".").append(t(i + 1).text(b).replace("`", ""))
        i += 2
      }
      Some(sb.toString)
    }
    def relWithAlias(joinType: Option[String], on: Option[String]): Option[ChainRel] = {
      val name = relName().getOrElse(return None)
      var alias: Option[String] = None
      if (word(i) == "AS") {
        i += 1
        alias = relName()
        if (alias.isEmpty) return None
      } else if (i < t.length && t(i).kind == Kind.Ident &&
        !JoinHeads(word(i)) && word(i) != "ON") {
        alias = relName()
        if (alias.isEmpty) return None
      }
      Some(ChainRel(name, alias, joinType, on))
    }
    val out = Seq.newBuilder[ChainRel]
    out += relWithAlias(None, None).getOrElse(return None)
    while (i < t.length) {
      // the join phrase
      val jt = word(i) match {
        case "JOIN"  => i += 1; "INNER"
        case "INNER" if word(i + 1) == "JOIN" => i += 2; "INNER"
        case "CROSS" if word(i + 1) == "JOIN" => i += 2; "CROSS"
        case d @ ("LEFT" | "RIGHT" | "FULL") if word(i + 1) == "JOIN" =>
          i += 2; d
        case d @ ("LEFT" | "RIGHT" | "FULL")
          if word(i + 1) == "OUTER" && word(i + 2) == "JOIN" => i += 3; d
        case _ => return None // comma list, USING, NATURAL, anything else
      }
      val name = relName().getOrElse(return None)
      var alias: Option[String] = None
      if (word(i) == "AS") { i += 1; alias = relName(); if (alias.isEmpty) return None }
      else if (i < t.length && t(i).kind == Kind.Ident &&
        !JoinHeads(word(i)) && word(i) != "ON") {
        alias = relName(); if (alias.isEmpty) return None
      }
      val on = if (jt == "CROSS") None else {
        if (word(i) != "ON") return None
        i += 1
        val start = if (i < t.length) t(i).start else b.length
        // the ON expression runs to the next DEPTH-0 join head
        var depth = 0
        var stop = fromText.length
        var j = i
        var found = false
        while (j < t.length && !found) {
          t(j).kind match {
            case Kind.LParen => depth += 1
            case Kind.RParen => depth -= 1
            case Kind.Ident if depth == 0 && JoinHeads(t(j).word(b)) =>
              stop = t(j).start; found = true
            case _ => ()
          }
          if (!found) j += 1
        }
        i = j
        Some(fromText.substring(start, stop).trim)
      }
      out += ChainRel(name, alias, Some(jt), on)
    }
    val chain = out.result()
    if (chain.size >= 2) Some(chain) else None
  }

  /** Lower an aggregate over a join chain reading changelogs — Flink
    * propagates changelog mode through joins
    * (FlinkChangelogModeInferenceProgram; StreamingJoinOperator.java:36
    * consumes retractions): in batch the propagation is pure algebra. A
    * retraction carries its insert's payload and therefore joins to
    * exactly the same rows, so per-side ±1 signs (or netted
    * multiplicities) distribute through the join and the joint weight
    * is their PRODUCT — `Σ f over live tuples == Σ f · s₁·s₂·…` over
    * change-row tuples, the batch form of two retraction streams
    * meeting in StreamingJoinOperator. Admissible shapes: ONE changelog
    * joins static relations with INNER/CROSS freely, LEFT only with the
    * changelog in the left (preserved) part, RIGHT only with the
    * changelog as the right operand; MULTIPLE changelogs join with
    * INNER/CROSS only. A changelog on a PADDED side is rejected: its
    * dead pairs would still "match" the preserved side, so a
    * fully-retracted key would never null-pad — silent wrongness
    * (FULL is both at once). Returns None when the statement is not
    * this shape at all (the composite guard then decides). */
  private def lowerJoin(spark: SparkSession, c: Clauses,
      aggClauses: String, allClauses: String): Option[DataFrame] = {
    val chain = parseJoinChain(c.relation).getOrElse(return None)
    val clIdxs = chain.zipWithIndex.collect {
      case (r, i) if isChangelogRel(spark, r.name) => i
    }
    if (clIdxs.isEmpty) return None // no changelog anywhere: untouched
    // raw intent / unsupported positions: fall back to the guard's
    // decision (ON conditions are part of the statement's references)
    val withFrom = allClauses + " " + blank(c.relation)
    if (Seq(streaming.Cdc.RowKind, "cdc_ts").exists(m =>
      ("(?i)\\b" + m + "\\b").r.findFirstIn(withFrom).isDefined)) return None
    if ("""(?i)\bOVER\s*\(""".r.findFirstIn(allClauses).isDefined) return None
    if ("""(?i)\(\s*SELECT\b""".r.findFirstIn(allClauses).isDefined) return None
    val udas = checkAllowlist(spark, chain(clIdxs.head).name, aggClauses)
    val isDistinct =
      """(?is)^\s*DISTINCT\b""".r.findFirstIn(c.selectList).isDefined
    val hasAgg = callNames(aggClauses).exists(Supported) || udas.nonEmpty
    if (!hasAgg && c.groupBy.isEmpty && !isDistinct) return None // raw join read
    // join-type admissibility (join i connects rels [0..i-1] with rel i)
    chain.zipWithIndex.drop(1).foreach { case (r, i) =>
      def bad(msg: String): Nothing = throw new IllegalArgumentException(
        s"changelog relation${if (clIdxs.size > 1) "s" else ""} " +
          s"${clIdxs.map(chain(_).name).mkString(", ")} under a " +
          s"${r.joinType.get} JOIN: $msg — a fully-retracted key " +
          "would still match and never null-pad, so no retraction-consuming " +
          "rewrite exists; materialize the final state first " +
          "(Cdc.upsertMaterialize) and join that")
      r.joinType.get match {
        case "INNER" | "CROSS" => ()
        case _ if clIdxs.size > 1 => bad(
          "multiple changelogs compose with INNER/CROSS joins only " +
            "(an outer join would need padded-side retraction semantics)")
        case "LEFT" if clIdxs.head < i => ()
        case "RIGHT" if clIdxs.head == i => ()
        case "FULL" => bad("FULL pads both sides")
        case t => bad(s"the changelog must be on the $t-preserved side")
      }
    }
    registerUdafs(spark, udas)
    val sign = when(col(streaming.Cdc.RowKind)
      .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), 1)
      .otherwise(-1)
    val needsNet = isDistinct ||
      """(?i)\b(MIN|MAX)\s*\(""".r.findFirstIn(aggClauses).isDefined
    // one stage-1 frame per changelog, each with an ORDINAL weight
    // column (the joint weight is their product)
    val refd = """[A-Za-z_]\w*""".r.findAllIn(withFrom)
      .map(_.toLowerCase).toSet
    val stages: Seq[(Int, DataFrame, String)] =
      clIdxs.zipWithIndex.map { case (idx, j) =>
        val src0 = spark.table(chain(idx).name)
        if (!needsNet) (idx, src0.withColumn(s"__sign_$j", sign), s"__sign_$j")
        else {
          // referenced columns include the ON conditions' (netting must
          // preserve the join keys)
          val dataCols = src0.columns.toSeq.filterNot(n =>
            n == streaming.Cdc.RowKind || n == "cdc_ts")
            .filter(n => refd(n.toLowerCase))
          (idx, src0.groupBy(dataCols.map(col): _*)
            .agg(sum(sign).as(s"__net_$j")).filter(col(s"__net_$j") =!= 0),
            s"__net_$j")
        }
      }
    val weight =
      if (stages.size == 1) stages.head._3
      else stages.map(_._3).mkString("(", " * ", ")")
    val liveCond = if (!needsNet) None
      else Some(stages.map(s => s"${s._3} > 0").mkString("(", " AND ", ")"))
    // extra changelogs (beyond the first, which assembleStage2 binds)
    // get their own stage-1 views, dropped once the statement's
    // DataFrame is constructed
    val extraViews = stages.drop(1).map { case (idx, df, _) =>
      val v = s"__graft_changelog_live_${counter.incrementAndGet()}"
      df.createOrReplaceTempView(v)
      idx -> v
    }.toMap
    def fromSql(view0: String): String =
      chain.zipWithIndex.map { case (r, i) =>
        val viewOf =
          if (clIdxs.headOption.contains(i)) Some(view0)
          else extraViews.get(i)
        val base = viewOf match {
          case Some(v) =>
            // re-alias the stage-1 view under the ORIGINAL name (or the
            // user's alias) so qualified references keep resolving
            s"$v AS ${r.alias.getOrElse(r.name.split('.').last)}"
          case None => s"${r.name}${r.alias.fold("")(a => s" AS $a")}"
        }
        val prefix = r.joinType match {
          case None          => ""
          case Some("INNER") => "JOIN "
          case Some("CROSS") => "CROSS JOIN "
          case Some(t)       => s"$t JOIN "
        }
        prefix + base + r.on.fold("")(o => s" ON $o")
      }.mkString(" ")
    try assembleStage2(spark, c, stages.head._2, weight, fromSql,
      whereInStage2 = true, liveCond = liveCond)
    finally extraViews.values.foreach(v => spark.catalog.dropTempView(v): Unit)
  }

  /** Composite FROM (subquery / comma list / set operation / join
    * shapes beyond [[lowerJoin]]): plain SQL is correct only when no
    * changelog is read, or when the user deliberately reads the raw
    * changelog (row_kind/cdc_ts referenced). An AGGREGATE over a
    * changelog reached through any OTHER composite FROM must reject
    * loudly — counting retraction rows as data is exactly the
    * wrongness this module bans. */
  private def compositeGuard(spark: SparkSession, stmt: String,
      groupByDefined: Boolean, refsMeta: Boolean): Unit = {
    if (refsMeta) return // deliberate raw changelog read
    val b = blank(stmt)
    val changelogRels = FromJoinIdRe.findAllMatchIn(b).map(_.group(1))
      .toSeq.distinct.filter(r => isChangelogRel(spark, r))
    if (changelogRels.isEmpty) return
    // aggregate-shaped: GROUP BY, a supported-aggregate or UDA call, or
    // any call the registry classifies as an aggregate — ANYWHERE in the
    // statement (a scalar subquery aggregating the changelog is just as
    // wrong as a top-level aggregate)
    val calls = callNames(b)
    val aggShaped = groupByDefined || calls.exists(n =>
      Supported(n) || StreamOverSql.customAgg(n).isDefined ||
        isAggregateFn(spark, n).contains(true))
    if (aggShaped) throw new IllegalArgumentException(
      s"aggregate over a composite FROM reading changelog relation" +
        s"${if (changelogRels.size > 1) "s" else ""} " +
        s"${changelogRels.mkString(", ")} has no retraction-consuming " +
        "rewrite (running it as plain SQL would aggregate retraction " +
        "rows as data); supported: ONE changelog joined to static " +
        "relations with INNER/CROSS joins (LEFT/RIGHT only with the " +
        "changelog on the preserved side). Otherwise materialize the " +
        "final state first (Cdc.upsertMaterialize) and join/aggregate " +
        "that, or reference row_kind explicitly to read the raw changelog")
  }

  private def lowerBare(
      spark: SparkSession, c: Clauses, name: String, alias: Option[String],
      aggClauses: String, allClauses: String,
      refsMeta: Boolean): Option[DataFrame] = {
    if (refsMeta) return None // raw changelog read: untouched
    // window functions (agg OVER) and subqueries are beyond this
    // entry's rewrite: the user is reading the changelog itself (OVER)
    // or mixing in other relations — both keep the documented
    // raw-fall-through semantics rather than a half-right rewrite
    if ("""(?i)\bOVER\s*\(""".r.findFirstIn(allClauses).isDefined) return None
    if ("""(?i)\(\s*SELECT\b""".r.findFirstIn(allClauses).isDefined) return None
    // ALLOWLIST over the aggregate-carrying clauses — runs even when no
    // supported aggregate is present: `SELECT MAX_BY(k, x) FROM cl` has
    // no COUNT/SUM/AVG/MIN/MAX and no GROUP BY, yet silently running it
    // raw would aggregate change rows as data
    val udas = checkAllowlist(spark, name, aggClauses)
    val isDistinct =
      """(?is)^\s*DISTINCT\b""".r.findFirstIn(c.selectList).isDefined
    val hasAgg = callNames(aggClauses).exists(Supported) || udas.nonEmpty
    // plain projection (no aggregate, no GROUP BY, no DISTINCT): a raw
    // changelog read, untouched
    if (!hasAgg && c.groupBy.isEmpty && !isDistinct) return None
    registerUdafs(spark, udas)
    val src0 = spark.table(name)
    val src = alias.fold(src0)(a => src0.as(a))
    val sign = when(col(streaming.Cdc.RowKind)
      .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), 1)
      .otherwise(-1)
    val filtered = c.where.fold(src)(w => src.filter(expr(w)))
    // SINGLE-EXCHANGE shortcut: COUNT/SUM/AVG and retractable UDAs
    // distribute over the change signs, so without MIN/MAX (which need
    // surviving VALUES) or DISTINCT (which needs live ROWS) the netting
    // shuffle — the dominant cost at scale — is skipped entirely: the
    // statement aggregates the raw changelog with a ±1 weight column
    // and pays only its own GROUP BY exchange, partial-aggregated
    // map-side.
    val needsNet = isDistinct ||
      """(?i)\b(MIN|MAX)\s*\(""".r.findFirstIn(aggClauses).isDefined
    val (stage1, weight) =
      if (!needsNet) (filtered.withColumn("__sign", sign), "__sign")
      else {
        // stage 1: live multiset — net the signs per distinct payload
        // row, projected to the REFERENCED columns (GROUP BY ∪ aggregate
        // args ∪ WHERE/HAVING/ORDER BY columns): netting commutes with
        // projection on a well-formed changelog (every retraction
        // matches a prior insertion), so unreferenced payload columns
        // never ride the exchange. Fully-retracted rows (net 0) leave
        // the live multiset.
        val refd = """[A-Za-z_]\w*""".r.findAllIn(allClauses)
          .map(_.toLowerCase).toSet
        val dataCols = src0.columns.toSeq.filterNot(n =>
          n == streaming.Cdc.RowKind || n == "cdc_ts")
          .filter(n => refd(n.toLowerCase))
        (filtered.groupBy(dataCols.map(col): _*).agg(sum(sign).as("__net"))
          .filter(col("__net") =!= 0), "__net")
      }
    assembleStage2(spark, c, stage1, weight,
      view => s"$view${alias.fold("")(a => s" AS $a")}",
      whereInStage2 = false, // the bare path filtered BEFORE netting
      liveCond = if (needsNet) Some("__net > 0") else None)
  }

  /** Stage 2 shared by the bare-relation and join lowerings: the user's
    * statement with retract-aware aggregates over the stage-1 frame,
    * bound as a temp view and spliced into the FROM text `fromSqlOf`
    * produces. `whereInStage2`: the join path must filter AFTER the
    * join (predicates may read the static sides); the bare path already
    * filtered before netting (same live multiset — the predicate is
    * deterministic on the payload — but a smaller netting exchange). */
  private def assembleStage2(spark: SparkSession, c: Clauses,
      stage1: DataFrame, weight: String,
      fromSqlOf: String => String, whereInStage2: Boolean,
      liveCond: Option[String]): Option[DataFrame] = {
    val grouped = c.groupBy.isDefined
    def rewrite(s: String) =
      rewriteWith(s, weight, grouped, liveCond = liveCond)
    // ORDER BY can carry aggregates too (ORDER BY COUNT(*)) — netted
    // like every other aggregate position. On GROUPED statements the
    // phantom-group guard puts a HAVING in play, and Spark's analyzer
    // cannot resolve an aggregate ORDER BY above a HAVING when the
    // select list holds non-trivial aggregate EXPRESSIONS (the MIN/AVG
    // rewrites are exactly that) — so aggregate order items are
    // projected as HIDDEN columns and the sort runs on the DataFrame,
    // where only resolved attributes are referenced.
    val orderItems: Seq[(String, Option[String], Option[String])] =
      c.orderBy.toSeq.flatMap(graft.util.SqlSplit.splitTopLevel(_)).map { it =>
        val OrdRe = """(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$""".r
        it.trim match {
          case OrdRe(e, dir, nulls) =>
            (e.trim, Option(dir).map(_.toUpperCase), Option(nulls).map(_.toUpperCase))
        }
      }
    def itemHasAgg(e: String): Boolean =
      callNames(blank(e)).exists(n => Supported(n) || retractableUda(n).isDefined)
    val hiddenSort = grouped && orderItems.exists(i => itemHasAgg(i._1))
    val view = s"__graft_changelog_live_${counter.incrementAndGet()}"
    stage1.createOrReplaceTempView(view)
    try {
      // stage 2: the user's statement with retract-aware aggregates
      val sqlText = new StringBuilder("SELECT ")
        .append(rewrite(c.selectList))
      val hidden = if (!hiddenSort) Seq.empty else
        orderItems.zipWithIndex.collect { case ((e, _, _), i) if itemHasAgg(e) =>
          val name = s"__graft_ord_$i"
          sqlText.append(", ").append(rewrite(e)).append(s" AS $name")
          i -> name
        }.toMap.toSeq
      val hiddenByIdx = hidden.toMap
      sqlText.append(" FROM ").append(fromSqlOf(view))
      if (whereInStage2)
        c.where.foreach(w => sqlText.append(" WHERE ").append(w))
      c.groupBy.foreach(g => sqlText.append(" GROUP BY ").append(g))
      // grouped statements guard against PHANTOM groups: a group whose
      // rows all retracted has live count 0 and must be ABSENT (Flink's
      // GroupAggFunction deletes the group when its count drops to 0) —
      // on the sign path dead rows are still present, so the guard is
      // load-bearing; on the netting path the net<>0 filter already
      // dropped them and the guard is belt and braces. Global aggregates
      // stay unguarded: one row over empty input is correct SQL.
      val guard = if (grouped) Some(s"SUM($weight) <> 0") else None
      val havingParts = c.having.map(h => s"(${rewrite(h)})").toSeq ++ guard
      if (havingParts.nonEmpty)
        sqlText.append(" HAVING ").append(havingParts.mkString(" AND "))
      if (!hiddenSort) {
        orderItems.zipWithIndex.foreach { case ((e, dir, nulls), i) =>
          sqlText.append(if (i == 0) " ORDER BY " else ", ").append(rewrite(e))
          dir.foreach(d => sqlText.append(" ").append(d))
          nulls.foreach(n => sqlText.append(" NULLS ").append(n))
        }
        c.limit.foreach(l => sqlText.append(" LIMIT ").append(l))
        Some(spark.sql(sqlText.toString))
      } else {
        val df = spark.sql(sqlText.toString)
        val userCols = df.columns.filterNot(_.startsWith("__graft_ord_"))
        val sortCols = orderItems.zipWithIndex.map { case ((e, dir, nulls), i) =>
          val base = hiddenByIdx.get(i) match {
            case Some(name) => col(name)
            // positional ORDER BY resolves against the USER select list
            // (hidden columns are appended after it)
            case None if e.matches("""\d+""") => col(userCols(e.toInt - 1))
            case None => expr(e)
          }
          (dir, nulls) match {
            case (Some("DESC"), Some("FIRST")) => base.desc_nulls_first
            case (Some("DESC"), Some("LAST"))  => base.desc_nulls_last
            case (Some("DESC"), None)          => base.desc
            case (_, Some("FIRST"))            => base.asc_nulls_first
            case (_, Some("LAST"))             => base.asc_nulls_last
            case _                             => base.asc
          }
        }
        val sorted = df.orderBy(sortCols: _*)
        val limited = c.limit.fold(sorted) { l =>
          require(l.trim.matches("""\d+"""),
            s"LIMIT over a changelog aggregate must be a literal count, got: $l")
          sorted.limit(l.trim.toInt)
        }
        Some(limited.select(userCols.map(col): _*))
      }
    } finally spark.catalog.dropTempView(view): Unit
  }

  // ==== STREAMING mode ==================================================
  // Changelog-mode SQL while the stream RUNS — the reference's actual
  // changelog-inference behavior: FlinkChangelogModeInferenceProgram
  // marks the aggregate's input as retracting and the runtime executes
  // GroupAggFunction.java:43 with retraction inputs, emitting +U per
  // refreshed group and -D when a group empties. Here the continuous
  // statement lowers onto ONE Spark streaming aggregation (update mode):
  // COUNT/SUM/AVG and retractable UDAs ride the ±1 sign algebra (the
  // running sums ARE Spark's own aggregation state, partial-aggregated
  // map-side); MIN/MAX keep a value -> live-count map in a UDAF
  // accumulator (MinWithRetractAggFunction's MapState shape — a second
  // streaming aggregation for a netting exchange is not plannable).

  private[graft] val MinRetName = "__graft_cl_minret"
  private[graft] val MaxRetName = "__graft_cl_maxret"
  private val LiveCol = "__graft_cl_live"
  private[graft] val SeqCol = "__graft_cl_seq"

  /** MIN/MAX with retraction: net count per VALUE; the result is the
    * extreme of positive-count values — Flink's
    * Min/MaxWithRetractAggFunction (flink-table-runtime
    * .../aggregate/MinWithRetractAggFunction.java: MapState value ->
    * count). State is O(distinct values per group), the honest lower
    * bound for exact retractable extremes. */
  private case class MinMaxRetract(isMin: Boolean)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Option[Double], Long), Map[Double, Long], java.lang.Double] {
    def zero: Map[Double, Long] = Map.empty
    def reduce(m: Map[Double, Long], in: (Option[Double], Long)): Map[Double, Long] =
      in._1.fold(m) { x =>
        val c = m.getOrElse(x, 0L) + in._2
        if (c == 0) m - x else m.updated(x, c)
      }
    def merge(a: Map[Double, Long], b: Map[Double, Long]): Map[Double, Long] =
      b.foldLeft(a) { case (m, (x, c0)) =>
        val c = m.getOrElse(x, 0L) + c0
        if (c == 0) m - x else m.updated(x, c)
      }
    def finish(m: Map[Double, Long]): java.lang.Double = {
      val live = m.collect { case (x, c) if c > 0 => x }
      if (live.isEmpty) null
      else java.lang.Double.valueOf(if (isMin) live.min else live.max)
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Map[Double, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Double, Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[java.lang.Double] =
      org.apache.spark.sql.Encoders.DOUBLE
  }

  private def registerStreamMinMax(spark: SparkSession): Unit = {
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Option[Double], Long)]()
    spark.udf.register(MinRetName, udaf(MinMaxRetract(isMin = true), enc))
    spark.udf.register(MaxRetName, udaf(MinMaxRetract(isMin = false), enc)): Unit
  }

  /** Unbounded read of a changelog table: the extended-table stream when
    * one exists (connector / computed columns / watermark reconstructed
    * from TBLPROPERTIES), else a native streaming table read. */
  private def changelogReadStream(spark: SparkSession, t: String): DataFrame =
    if (spark.catalog.tableExists(s"__${t}_base")) WatermarkDdl.readStream(spark, t)
    else spark.readStream.table(t)

  /** STREAMING read of changelog relation `name` as a RETRACT changelog
    * (+I/-U,+U/-D with every update carrying its -U) — what every
    * retraction-consuming streaming operator here requires. A plain
    * retract relation streams as-is; a DECLARED UPSERT relation
    * (graft.upsert.keys) chains [[streaming.StatefulOps.normalizeUpsert]]
    * in FRONT of the consumer — ChangelogNormalize feeding the
    * downstream stateful operator as ONE topology, exactly the
    * reference's StreamExecChangelogNormalize → GroupAggregate plan
    * (flatMapGroupsWithState in append mode composes with a downstream
    * streaming aggregation). The returned frame carries row_kind plus
    * the relation's payload columns; encoding columns are consumed. */
  private[graft] def retractStreamOf(spark: SparkSession, name: String): DataFrame = {
    val raw = changelogReadStream(spark, name)
    require(raw.isStreaming, s"$name did not bind as a streaming read")
    upsertKeysOf(spark, name) match {
      case None => raw
      case Some(keys) =>
        import spark.implicits._
        val cols = raw.columns.toSeq
        val orderCol = Seq(SeqCol, "cdc_ts").find(cols.contains).getOrElse(
          throw new IllegalArgumentException(
            s"upsert changelog '$name' declares keys but carries no " +
              s"order column ($SeqCol or cdc_ts) — keep-last is undefined"))
        require(keys.forall(cols.contains),
          s"upsert changelog '$name': declared key(s) " +
            s"${keys.filterNot(cols.contains).mkString(",")} not in schema")
        val payloadCols =
          cols.filterNot(c => c == streaming.Cdc.RowKind || c == orderCol)
        // TIME columns shuttle the state boundary as strings (to_json
        // has no TimeType writer; the cast round-trips exactly) and the
        // final select restores the declared type — same convention as
        // the top-N payload codec
        val timeCols = payloadCols.filter(c => raw.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.TimeType]).toSet
        val payloadSchema = org.apache.spark.sql.types.StructType(
          payloadCols.map(c =>
            if (timeCols(c)) org.apache.spark.sql.types.StructField(c,
              org.apache.spark.sql.types.StringType, nullable = true)
            else raw.schema(c)))
        val typed = raw.select(
          to_json(struct(keys.map(col): _*)).as("_1"),
          col(orderCol).cast("long").as("_2"),
          to_json(struct(payloadCols.map(c =>
            if (timeCols(c)) col(c).cast("string").as(c)
            else col(c)): _*)).as("_3"),
          (col(streaming.Cdc.RowKind) === streaming.Cdc.Delete).as("_4"))
          .as[(String, Long, String, Boolean)]
        streaming.StatefulOps.normalizeUpsert(typed)
          .toDF("__kind", "__key", "__seq", "__payload")
          .select(col("__kind").as(streaming.Cdc.RowKind),
            from_json(col("__payload"), payloadSchema).as("__r"))
          .select(col(streaming.Cdc.RowKind) +: payloadCols.map(c =>
            if (timeCols(c))
              col(s"__r.`$c`").cast(raw.schema(c).dataType).as(c)
            else col(s"__r.`$c`").as(c)): _*)
    }
  }

  /** Does `select` parse as a changelog AGGREGATE over one bare
    * row_kind-carrying relation — the statement shape [[streamInsert]]
    * owns? (Raw projections of a changelog stream keep the plain
    * append-insert path.) */
  /** The chain's single changelog relation, when `fromText` is either a
    * bare changelog relation or a linear join of exactly one changelog
    * with other relations. */
  private def changelogOfFrom(
      spark: SparkSession, fromText: String): Option[(Seq[ChainRel], Int)] =
    fromText match {
      case RelRe(name, alias) if isChangelogRel(spark, name) =>
        Some((Seq(ChainRel(name, Option(alias), None, None)), 0))
      case RelRe(_, _) => None
      case _ => parseJoinChain(fromText).flatMap { chain =>
        chain.zipWithIndex.collect {
          case (r, i) if isChangelogRel(spark, r.name) => i
        } match {
          case Seq(i) => Some((chain, i))
          case _      => None
        }
      }
    }

  private[graft] def streamMatches(spark: SparkSession, select: String): Boolean =
    parse(select).exists { c =>
      changelogOfFrom(spark, c.relation) match {
        case Some(_) =>
          val aggish = blank(c.selectList) + " " +
            c.having.map(blank).getOrElse("")
          val all = aggish + " " + c.where.map(blank).getOrElse("") + " " +
            c.groupBy.map(blank).getOrElse("") + " " + blank(c.relation)
          // a statement reading row_kind/cdc_ts itself is a raw
          // changelog passthrough — the plain append-insert path's job
          val refsMeta = Seq(streaming.Cdc.RowKind, "cdc_ts").exists(m =>
            ("(?i)\\b" + m + "\\b").r.findFirstIn(all).isDefined)
          !refsMeta && (c.groupBy.isDefined || callNames(aggish).exists(n =>
            Supported(n) || retractableUda(n).isDefined))
        case None => false
      }
    }

  /** Lower the SELECT of a continuous changelog aggregate onto one
    * update-mode streaming aggregation. Returns (df, upsert keys): df's
    * columns are the user's select list plus a hidden boolean `LiveCol`
    * — false means the group emptied (or left the HAVING set) and the
    * sink must DELETE it; keys are the GROUP BY columns' OUTPUT names
    * (the upsert key of the refreshed rows). */
  private def streamAgg(
      spark: SparkSession, select: String): (DataFrame, Seq[String], Seq[String]) = {
    val c = parse(select).getOrElse(throw new IllegalArgumentException(
      s"not a changelog aggregate statement: $select"))
    val (chain, clIdx) = changelogOfFrom(spark, c.relation).getOrElse(
      throw new IllegalArgumentException(
        "streaming changelog aggregates read ONE changelog relation, " +
          "bare or linearly joined to STATIC relations " +
          s"(subqueries/multi-changelog have no rewrite); got FROM ${c.relation}"))
    val name = chain(clIdx).name
    // the ±1 sign algebra below assumes a RETRACT changelog (every
    // update carries its -U). A declared UPSERT relation is
    // auto-normalized by [[retractStreamOf]] — ChangelogNormalize
    // chained in front of the aggregation as one topology
    // (StreamExecChangelogNormalize feeding GroupAggFunction), so one
    // front-door statement covers both encodings.
    // the static sides must BE static: the sign algebra requires a
    // retraction to join exactly the rows its insert joined — a growing
    // (streaming) side breaks that, and two changelogs need pairwise
    // sign products
    chain.zipWithIndex.foreach { case (r, i) =>
      if (i != clIdx)
        require(!scala.util.Try(spark.table(r.name).isStreaming).getOrElse(false),
          s"join side ${r.name} is a STREAM — a continuous changelog " +
            "aggregate joins static relations only (a retraction must " +
            "join exactly the rows its insert joined)")
      if (i > 0) {
        def bad(msg: String): Nothing = throw new IllegalArgumentException(
          s"changelog relation $name on the null-padded side of a " +
            s"${r.joinType.getOrElse("?")} JOIN: $msg — no " +
            "retraction-consuming rewrite exists")
        r.joinType.foreach {
          case "INNER" | "CROSS" => ()
          case "LEFT" if clIdx < i => ()
          case "RIGHT" if clIdx == i => ()
          case "FULL" => bad("FULL pads both sides")
          case t => bad(s"the changelog must be on the $t-preserved side")
        }
      }
    }
    require(c.orderBy.isEmpty && c.limit.isEmpty,
      "ORDER BY / LIMIT are not available on a CONTINUOUS changelog " +
        "aggregate (update mode has no final ordering); aggregate the " +
        "materialized sink instead")
    val bl = blank(c.selectList)
    val aggClauses = bl + " " + c.having.map(blank).getOrElse("")
    val all = aggClauses + " " + c.where.map(blank).getOrElse("") + " " +
      c.groupBy.map(blank).getOrElse("") + " " + blank(c.relation)
    require(!Seq(streaming.Cdc.RowKind, "cdc_ts").exists(m =>
      ("(?i)\\b" + m + "\\b").r.findFirstIn(all).isDefined),
      "a continuous changelog AGGREGATE cannot reference " +
        "row_kind/cdc_ts (the sign algebra consumes them); read the raw " +
        "changelog with a plain streaming SELECT instead")
    require(!"""(?is)^\s*DISTINCT\b""".r.findFirstIn(c.selectList).isDefined,
      "SELECT DISTINCT over a continuous changelog is not supported; " +
        "use GROUP BY (same live-group semantics, update-mode output)")
    val udas = checkAllowlist(spark, name, aggClauses)
    registerUdafs(spark, udas)
    registerStreamMinMax(spark)
    def rewrite(s: String) =
      rewriteWith(s, "__sign", grouped = true, streamMinMax = true)
    // upsert keys: every GROUP BY item must be a bare column that appears
    // in the select list (possibly aliased) — the sink needs a key
    val selectItems = graft.util.SqlSplit.splitTopLevel(c.selectList)
    val ItemRe = """(?is)^(.*?)(?:\s+AS\s+`?(\w+)`?)?$""".r
    val keys = c.groupBy.toSeq.flatMap(graft.util.SqlSplit.splitTopLevel(_))
      .map { g =>
        val gcol = g.trim.replace("`", "")
        require(gcol.matches("""[\w.]+"""),
          s"streaming changelog GROUP BY items must be bare columns, got: $g")
        val out = selectItems.map(_.trim).collectFirst {
          case ItemRe(e, a) if e.trim.replace("`", "")
            .equalsIgnoreCase(gcol) => Option(a).getOrElse(gcol.split('.').last)
        }
        out.getOrElse(throw new IllegalArgumentException(
          s"GROUP BY column $gcol must appear in the select list — it is " +
            "the sink's upsert key"))
      }
    // MODIFIED-MONOTONICITY derivation (the planner fact behind the
    // reference's RankProcessStrategy.UpdateFastStrategy — FlinkRelMd
    // ModifiedMonotonicity): over an INSERT-ONLY input with no HAVING
    // (a group leaving a HAVING set emits a -D, breaking monotonicity
    // downstream), COUNT and MAX outputs are monotonically
    // non-decreasing per group. Recorded on the sink so a downstream
    // top-1 statement can pick the O(1)-state fast route.
    val monotoneCols: Seq[String] =
      if (!isInsertOnlyRel(spark, name) || c.having.isDefined) Seq.empty
      else {
        val MonotoneAggRe =
          """(?is)^(?:COUNT\s*\(\s*(?:\*|(?:DISTINCT\s+)?[\w.`]+)\s*\)|MAX\s*\(\s*[\w.`]+\s*\))\s*$""".r
        selectItems.map(_.trim).collect {
          case ItemRe(e, a) if a != null &&
            MonotoneAggRe.findFirstIn(blank(e.trim)).isDefined => a
        }
      }
    val src = retractStreamOf(spark, name)
    val sign = when(col(streaming.Cdc.RowKind)
      .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), 1)
      .otherwise(-1)
    val prior = spark.sessionState.catalog.getTempView(name).isDefined
    val priorDf = if (prior) Some(spark.table(name)) else None
    val signed = src.withColumn("__sign", sign)
    try {
      // SHADOW the changelog's name with the signed streaming read and
      // keep the ORIGINAL FROM text — aliases and any static join sides
      // resolve unchanged, the changelog name now binds the stream
      // (Spark plans the stream-static join natively)
      signed.createOrReplaceTempView(name)
      // live = the group still has net rows AND (when a HAVING exists)
      // still satisfies it — a group leaving the HAVING set must emit a
      // DELETE, not silently stop updating (Flink's Calc over an update
      // stream forwards the retraction)
      val live = (Seq(s"SUM(__sign) <> 0") ++
        c.having.map(h => s"(${rewrite(h)})")).mkString(" AND ")
      val sqlText = new StringBuilder("SELECT ")
        .append(rewrite(c.selectList))
        .append(", ").append(live).append(s" AS $LiveCol")
        .append(" FROM ").append(c.relation)
      c.where.foreach(w => sqlText.append(" WHERE ").append(w))
      c.groupBy.foreach(g => sqlText.append(" GROUP BY ").append(g))
      val df = spark.sql(sqlText.toString)
      assert(df.isStreaming, "changelog aggregate lost streaming-ness")
      (df, keys, monotoneCols)
    } finally priorDf match {
      case Some(d) => d.createOrReplaceTempView(name)
      case None    => spark.catalog.dropTempView(name): Unit
    }
  }

  /** Continuous `INSERT INTO sink SELECT <agg> FROM <changelog>` — the
    * streaming statement form of this module. Each micro-batch appends
    * the REFRESHED groups to `sink` as an upsert changelog: the user's
    * columns plus `row_kind` (+U while the group lives, -D when it
    * empties) and a commit sequence column — exactly what an external
    * upsert sink (kafka-upsert, JDBC) consumes row by row; on the local
    * parquet emulation the append IS the scalable write path and
    * [[materializeUpsertSink]] is the reader's keep-last collapse
    * (SinkUpsertMaterializer role). The sink table is created by the
    * stream with this augmented schema. */
  /** STATE-PARTITION sizing for a continuous job (Flink's per-operator
    * parallelism lever, `setParallelism` / `table.exec.resource
    * .default-parallelism`): when the session sets
    * `graft.stream.statePartitions`, the query STARTS with that many
    * shuffle partitions — Spark snapshots the value into the stream's
    * checkpoint, so every stateful operator carries exactly that many
    * state stores for its whole life — and the session value is
    * restored right after. A small-state continuous job must not pay
    * one state-store open/commit per BATCH-sized shuffle partition per
    * micro-batch; a large one sizes up the same way. */
  /** Pin the RocksDB state-store provider (the TWS operators' runtime
    * requirement) plus its production I/O posture for the duration of a
    * stream start, restoring the session conf afterwards. Must run under
    * [[graft.util.StartLock]] (the caller's pin+start+restore section).
    *
    * The two perf settings are the standard large-scale RocksDB posture
    * (optimization guide §1.2 step 3 / §5 — fix the I/O shape, not the
    * algorithm): changelog checkpointing commits only the batch's point
    * writes to the checkpoint (snapshot upload moves to background
    * maintenance; measured 13.7 s → 9.5 s across q163's three commits),
    * and trackTotalNumberOfRows=false drops the get-before-put that only
    * feeds the numRowsTotal metric (450k state updates in q163's first
    * batch each paid it). Both are set only when the session has not
    * explicitly chosen a value, so a user override wins. */
  private def withRocksDbProvider[T](spark: SparkSession)(start: => T): T = {
    val provider = "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    val perf = Seq(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        -> "false")
    val prevProvider = spark.conf.getOption(provider._1)
    val perfToSet = perf.filter(kv => spark.conf.getOption(kv._1).isEmpty)
    spark.conf.set(provider._1, provider._2)
    perfToSet.foreach { case (k, v) => spark.conf.set(k, v) }
    try start
    finally {
      prevProvider match {
        case Some(v) => spark.conf.set(provider._1, v)
        case None => spark.conf.unset(provider._1)
      }
      perfToSet.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private def withStateSizing[T](spark: SparkSession)(start: => T): T =
    // under StartLock: the pin, the start (which snapshots the conf into
    // the query's cloned session synchronously), and the restore are one
    // atomic section — a gateway operation starting concurrently on the
    // same shared session can never snapshot this job's override
    graft.util.StartLock.locked {
      spark.conf.getOption("graft.stream.statePartitions") match {
        case None => start
        case Some(n) =>
          val key = "spark.sql.shuffle.partitions"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, n.trim.toInt.toString)
          try start
          finally prev match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
      }
    }

  /** Micro-batch trigger for stream starts. Default (conf unset) keeps
    * the zero-interval continuous trigger.
    *
    * `graft.stream.triggerIntervalMs`: a caller that lands ONE logical
    * commit as SEVERAL table appends (a multi-source statement whose
    * inputs commit one table at a time) sets it a bit above its append
    * latency so the poll does not fire between the appends and split the
    * commit round into one micro-batch per source — fewer, larger
    * micro-batches paying the per-batch machinery once. (A per-round
    * Trigger.AvailableNow restart was measured and rejected for the same
    * gates; see OPTIMIZATION_r16.md.)
    *
    * The final state is identical either way (the normalize/join/agg
    * operators are deterministic over the same total input and the sinks
    * materialize by key); this is purely the optimization guide's
    * "fewer, larger" rule applied to micro-batches. */
  private def withTrigger[T](spark: SparkSession,
      w: org.apache.spark.sql.streaming.DataStreamWriter[T])
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    spark.conf.getOption("graft.stream.triggerIntervalMs") match {
      case Some(ms) => w.trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(ms.trim.toLong,
          java.util.concurrent.TimeUnit.MILLISECONDS))
      case None => w
    }

  def streamInsert(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamInsert expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val (df, keys, monotoneCols) = streamAgg(spark, select)
    val write = upsertSinkWriter(spark, sink, keys, monotoneCols)
    withStateSizing(spark) {
      withTrigger(spark, df.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val log = batch
            .withColumn(streaming.Cdc.RowKind,
              when(col(LiveCol), streaming.Cdc.UpdateAfter)
                .otherwise(streaming.Cdc.Delete))
            .drop(LiveCol)
            .withColumn(SeqCol, lit(batchId))
          write(log, batchId)
        })
        .start()
    }
  }

  private val StreamInsertRe =
    """(?is)\s*INSERT\s+INTO\s+`?(\w+)`?\s+(SELECT\b.*)""".r

  /** Per-commit writer for an UPDATE stream (an upsert changelog of the
    * user's columns + row_kind + commit sequence, keyed by `keys`) into
    * `sink` — Flink's "table sink must support consuming update and
    * delete changes" contract:
    *   - a `'connector'='jdbc'` sink with a PRIMARY KEY consumes each
    *     commit through the KEYED batched writer
    *     ([[sources.JdbcConnector.upsertWrite]]: +U upserts, -D deletes
    *     by key) — the stream's key columns must map onto the declared
    *     pk, and the select list aligns positionally onto the declared
    *     schema exactly like the append connector route;
    *   - any other connector rejects loudly (filesystem/append sinks
    *     cannot consume update/delete changes — the reference's
    *     validation error);
    *   - a plain catalog table appends the ENCODED changelog rows and
    *     records the upsert keys ([[materializeUpsertSink]] is the
    *     reader's keep-last collapse). */
  private def upsertSinkWriter(spark: SparkSession, sink: String,
      keys: Seq[String],
      monotoneCols: Seq[String] = Seq.empty): (DataFrame, Long) => Unit = {
    val props = scala.util.Try(WatermarkDdl.tableOptions(spark, sink))
      .getOrElse(Map.empty[String, String])
    props.get("connector") match {
      case Some("jdbc") =>
        val pk = props.get("graft.primary.key").toSeq
          .flatMap(_.split(",").toSeq.map(_.trim)).filter(_.nonEmpty)
        require(pk.nonEmpty,
          s"continuous INSERT of an UPDATE stream into jdbc table $sink: " +
            "the sink must declare a PRIMARY KEY ... NOT ENFORCED " +
            "(a keyless sink cannot consume update and delete changes)")
        val declared = spark.table(s"__${sink}_base").schema
        val connProps = props.filterNot(p =>
          WatermarkDdl.isInternalPropName(p._1))
        (log0: DataFrame, _: Long) => {
          val userCols = log0.columns.toSeq.filterNot(c =>
            c == streaming.Cdc.RowKind || c == SeqCol)
          require(userCols.length == declared.fields.length,
            s"INSERT INTO $sink: ${declared.fields.length} columns " +
              s"declared, the stream produces ${userCols.length}")
          // positional alignment onto the declared schema (the same
          // contract as the append connector route); the stream's key
          // columns must land on the declared PRIMARY KEY positions
          val mappedKeys = keys.map { k =>
            val i = userCols.indexOf(k)
            require(i >= 0, s"stream key column $k missing from the select list")
            declared.fields(i).name
          }
          require(mappedKeys.map(_.toLowerCase).toSet ==
              pk.map(_.toLowerCase).toSet,
            s"INSERT INTO $sink: the stream's upsert key " +
              s"(${keys.mkString(",")} -> ${mappedKeys.mkString(",")}) must " +
              s"equal the sink's PRIMARY KEY (${pk.mkString(",")})")
          val aligned = log0.select(
            declared.fields.toSeq.zip(userCols).map { case (f, c) =>
              col(c).cast(f.dataType).as(f.name)
            } :+ col(streaming.Cdc.RowKind) :+ col(SeqCol): _*)
          sources.JdbcConnector.upsertWrite(aligned, connProps, mappedKeys)
        }
      case Some("upsert-kafka") =>
        // the reference's PRIMARY upsert sink: +U rows become keyed
        // kafka messages, -D rows tombstones
        // (DynamicKafkaRecordSerializationSchema). The encode half is
        // [[encodeUpsertSinkBatch]] (spec'd offline); the save needs
        // the kafka client jar + a broker — environment-blocked here,
        // same posture as every kafka e2e.
        val pk = props.get("graft.upsert.keys")
          .orElse(props.get("graft.primary.key")).toSeq
          .flatMap(_.split(",").toSeq.map(_.trim)).filter(_.nonEmpty)
        require(pk.nonEmpty,
          s"upsert-kafka sink $sink declares no key (the DDL requires " +
            "PRIMARY KEY ... NOT ENFORCED)")
        val declared = spark.table(s"__${sink}_base").schema
        val connProps = props.filterNot(p =>
          WatermarkDdl.isInternalPropName(p._1))
        (log0: DataFrame, _: Long) =>
          encodeUpsertSinkBatch(log0, declared, pk, keys, connProps)
            .write.format("kafka")
            .options(sources.KafkaConnector.sinkOptions(connProps))
            .save()
      case Some(other) =>
        throw new IllegalArgumentException(
          s"continuous INSERT of an UPDATE stream into '$other' table " +
            s"$sink: this sink cannot consume update and delete changes " +
            "(the reference's filesystem/append sinks reject the same " +
            "way); use a jdbc or upsert-kafka sink with a PRIMARY KEY, " +
            "or a plain table (the encoded upsert changelog lands there)")
      case None =>
        (log: DataFrame, batchId: Long) => {
          log.write.mode("append").saveAsTable(sink)
          // record the upsert keys once, for materializeUpsertSink
          // readers — plus the derived monotone columns, so a
          // downstream continuous top-1 can pick UpdateFastStrategy.
          // The monotone property is ALWAYS written (empty when this
          // job derives none): a reused sink table keeping a PRIOR
          // job's stale declaration would plan-route a downstream
          // top-1 onto FastTop1 whose runtime contract the new
          // aggregate cannot honor — a loud but avoidable failure.
          if (keys.nonEmpty && batchId == 0) {
            spark.sql(s"ALTER TABLE $sink SET TBLPROPERTIES " +
              s"('graft.upsert.keys' = '${keys.mkString(",")}', " +
              s"'graft.monotone.cols' = '${monotoneCols.mkString(",")}')"): Unit
          }
        }
    }
  }

  /** The testable encode half of the upsert-kafka sink route: align one
    * commit of an UPDATE stream (user columns + row_kind + [[SeqCol]],
    * keyed by `streamKeys`) positionally onto the DECLARED schema,
    * require the stream keys to land on the declared primary key, and
    * encode to (key, value) wire messages — +U rows keyed upserts, -D
    * rows tombstones ([[sources.KafkaConnector.upsertEncode]]). */
  private[graft] def encodeUpsertSinkBatch(log0: DataFrame,
      declared: org.apache.spark.sql.types.StructType, pk: Seq[String],
      streamKeys: Seq[String], opts: Map[String, String]): DataFrame = {
    val userCols = log0.columns.toSeq.filterNot(c =>
      c == streaming.Cdc.RowKind || c == SeqCol)
    require(userCols.length == declared.fields.length,
      s"upsert-kafka sink: ${declared.fields.length} columns declared, " +
        s"the stream produces ${userCols.length}")
    val mappedKeys = streamKeys.map { k =>
      val i = userCols.indexOf(k)
      require(i >= 0, s"stream key column $k missing from the select list")
      declared.fields(i).name
    }
    require(mappedKeys.map(_.toLowerCase).toSet == pk.map(_.toLowerCase).toSet,
      s"the stream's upsert key (${streamKeys.mkString(",")} -> " +
        s"${mappedKeys.mkString(",")}) must equal the sink's PRIMARY KEY " +
        s"(${pk.mkString(",")})")
    val aligned = log0.select(
      declared.fields.toSeq.zip(userCols).map { case (f, c) =>
        col(c).cast(f.dataType).as(f.name)
      } :+ col(streaming.Cdc.RowKind): _*)
    sources.KafkaConnector.upsertEncode(aligned, declared, pk, opts)
  }

  // ---- continuous retractable top-N (rank/RetractableTopNFunction) ---

  /** The reference's streaming top-N statement shape over a retract
    * input: `SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY
    * k ORDER BY item [ASC|DESC], ...) AS rn FROM changelog) WHERE
    * rn <= N`. ORDER BY items may be bare columns OR computed
    * EXPRESSIONS (Flink ranks computed fields the planner materializes
    * into the row; here they project into derived columns before the
    * state boundary). The OVER group is balanced-paren matched —
    * expression items can carry nested parens/commas/literals — and
    * expression text is sliced from the ORIGINAL statement so literals
    * survive; the clause skeleton matches on blanked text. */
  private val TopNHeadRe =
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s*\(\s*SELECT\s+\*\s*,\s*ROW_NUMBER\s*\(\s*\)\s*OVER\s*\($""".r
  private val TopNTailRe =
    ("""(?is)^\s*AS\s+`?(\w+)`?\s+FROM\s+`?(\w+)`?\s*\)""" +
      """(?:\s+(?:AS\s+)?(\w+))?\s+WHERE\s+`?[\w.]*?(\w+)`?\s*(<=|<)\s*(\d+)\s*$""").r
  private val TopNSpecRe =
    """(?is)^\s*(?:PARTITION\s+BY\s+(.*?)\s+)?ORDER\s+BY\s+(.*?)\s*$""".r

  private val OrderItemRe = """(?is)^(.*?)(?:\s+(ASC|DESC))?$""".r

  /** orderItems: (bare column name OR expression text, isDescending)
    * per ORDER BY item, in order — `isBareOrderCol` distinguishes. */
  private case class TopNShape(outer: Seq[String], parts: Seq[String],
      orderItems: Seq[(String, Boolean)], rnAlias: String, rel: String, n: Int)

  private[graft] def isBareOrderCol(text: String): Boolean =
    text.matches("""\w+""")

  /** PARTITION BY / ORDER BY item extraction from an OVER spec —
    * shared by the plain top-N parse and the composed top-N-over-
    * aggregate parse. `spec` is the ORIGINAL text (expression literals
    * survive), `specB` its blanked mirror, `bare` the alias stripper. */
  private def topNSpecItems(spec: String, specB: String,
      bare: String => String): Option[(Seq[String], Seq[(String, Boolean)])] = {
    val sm = TopNSpecRe.findFirstMatchIn(specB).getOrElse(return None)
    // no PARTITION BY = the GLOBAL top-N (Flink's parallelism-1
    // rank): one constant state key
    val partCols = Option(sm.group(1)).map(_.split(",").toSeq.map(bare)
      .filter(_.nonEmpty)).getOrElse(Seq.empty)
    if (sm.group(2) == null) return None
    // the ORDER BY item list comes from the ORIGINAL text (an
    // expression's literals must survive); offsets match because
    // blanking is length-preserving
    val orderText = spec.substring(sm.start(2), sm.end(2))
    // each item `col|expr [ASC|DESC]`; SQL's default sort direction
    // is ASCENDING — a missing keyword must NOT read DESC
    val items = graft.util.SqlSplit.splitTopLevel(orderText)
      .map(_.trim).map {
        case OrderItemRe(e, dir) =>
          val desc = Option(dir).exists(_.equalsIgnoreCase("DESC"))
          val t = e.trim
          if (t.matches("""[\w.`]+""")) (bare(t), desc) else (t, desc)
        case _ => return None
      }
    if (items.isEmpty || items.exists(_._1.isEmpty)) return None
    Some((partCols, items))
  }

  private def parseStreamTopN(
      spark: SparkSession, select: String): Option[TopNShape] = {
    val stmt = select.trim.replaceAll(";\\s*$", "")
    val b = blank(stmt)
    val om = """(?is)ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(""".r
      .findFirstMatchIn(b).getOrElse(return None)
    val open = om.end - 1
    val close = scala.util.Try(matchParen(b, open)).getOrElse(return None)
    val head = b.substring(0, om.end)
    val specB = b.substring(open + 1, close)
    val spec = stmt.substring(open + 1, close)
    val tailB = b.substring(close + 1)
    (head, tailB) match {
      case (TopNHeadRe(outer), TopNTailRe(rn, rel, alias, rnRef, op, nStr))
          if isChangelogRel(spark, rel) =>
        val aliasOpt = Option(alias)
        def bare(s: String): String = {
          val t = s.trim.replace("`", "")
          aliasOpt.filter(a => t.toLowerCase.startsWith(a.toLowerCase + "."))
            .map(a => t.drop(a.length + 1)).getOrElse(t)
        }
        if (bare(rnRef) != rn) return None
        val outerCols = graft.util.SqlSplit.splitTopLevel(outer).map(bare)
        val (partCols, items) =
          topNSpecItems(spec, specB, bare).getOrElse(return None)
        if (!(outerCols ++ partCols).forall(_.matches("""\w+"""))) return None
        val n0 = nStr.toInt
        val n = if (op == "<") n0 - 1 else n0
        if (n < 1) return None
        Some(TopNShape(outerCols, partCols, items, rn, rel, n))
      case _ => None
    }
  }

  private[graft] def streamTopNMatches(
      spark: SparkSession, select: String): Boolean =
    parseStreamTopN(spark, select).isDefined

  /** The rank process strategy [[streamTopN]] would pick for this
    * statement (the reference's RankProcessStrategy.java analysis):
    * UpdateFastStrategy when the statement is a DESC top-1 whose input
    * changelog is upsert-keyed with the partition columns inside the
    * key and whose ORDER BY column is DECLARED monotone (recorded by
    * [[streamInsert]] from a COUNT/MAX aggregate over an insert-only
    * input); RetractStrategy otherwise. Surfaced by EXPLAIN
    * CHANGELOG_MODE over the INSERT body. */
  private[graft] def streamTopNStrategy(
      spark: SparkSession, select: String): Option[String] =
    parseStreamTopN(spark, select).map { sh =>
      if (topNFastEligible(spark, sh))
        "UpdateFastStrategy (FastTop1Function: O(1) leader state)"
      else
        "RetractStrategy (RetractableTopNFunction: MapState dataState " +
          "+ sorted counts)"
    }

  private def topNFastEligible(spark: SparkSession, sh: TopNShape): Boolean =
    sh.n == 1 && (sh.orderItems match {
      case Seq((col, true)) => // single DESC item over a monotone column
        upsertKeysOf(spark, sh.rel).exists(ks => sh.parts.forall(ks.contains)) &&
          monotoneColsOf(spark, sh.rel).contains(col)
      case _ => false
    })

  /** Continuous `INSERT INTO sink SELECT ... FROM (... ROW_NUMBER() ...)
    * WHERE rn <= N` over a changelog relation — the streaming statement
    * form of RetractableTopNFunction.java:56 (sorted per-key state,
    * re-ranks and backfills when a ranked row retracts, emits deletes
    * when the top shrinks). The sink receives an upsert changelog keyed
    * by (partition columns, rank): +U refreshed ranks, -D vacated
    * ranks, commit-sequence column per micro-batch —
    * [[materializeUpsertSink]] shows exactly the current top-N. A
    * DECLARED UPSERT input chains ChangelogNormalize first
    * ([[retractStreamOf]]). */
  def streamTopN(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamTopN expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val shape = parseStreamTopN(spark, select).getOrElse(
      throw new IllegalArgumentException(
        s"not a streaming top-N statement: $select"))
    graft.functions.GraftFunctions.register(spark)
    // RankProcessStrategy analysis: a DESC top-1 over an upsert
    // changelog whose ORDER BY column is declared monotone takes the
    // O(1)-state FastTop1 route, reading the upsert stream RAW (no
    // ChangelogNormalize — the whole point of UpdateFastStrategy: the
    // leader can never be demoted, so no retraction state is needed)
    val fast = topNFastEligible(spark, shape)
    val src =
      if (fast) changelogReadStream(spark, shape.rel)
      else retractStreamOf(spark, shape.rel)
    streamTopNLowered(spark, sink, shape, src, fast, checkpointDir)
  }

  /** Lower a validated top-N shape over an arbitrary RETRACT changelog
    * stream (row_kind + payload columns) and start the continuous
    * query — shared by the plain statement (src = the changelog
    * relation, possibly normalize-chained) and the composed
    * top-N-over-aggregate statement (src = the inner aggregate's
    * retract stream). */
  private def streamTopNLowered(spark: SparkSession, sink: String,
      shape: TopNShape, src: DataFrame, fast: Boolean,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark) // graft_sort_key
    val cols = src.columns.toSeq
    val payloadCols = cols.filterNot(c =>
      c == streaming.Cdc.RowKind || c == SeqCol || c == "cdc_ts")
    shape.parts.foreach(p => require(payloadCols.contains(p),
      s"PARTITION BY column $p not a payload column of ${shape.rel}"))
    shape.orderItems.foreach { case (t, _) =>
      if (isBareOrderCol(t)) require(payloadCols.contains(t),
        s"ORDER BY column $t not a payload column of ${shape.rel}")
      else // computed ORDER BY item: payload references only — an
        // expression reading the encodings would corrupt retraction
        // matching (the -D must encode to the key its +I did)
        Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol).foreach(m => require(
          ("(?i)\\b" + java.util.regex.Pattern.quote(m) + "\\b").r
            .findFirstIn(blank(t)).isEmpty,
          s"ORDER BY expression ($t) references encoding column $m"))
    }
    shape.outer.filterNot(_ == shape.rnAlias).foreach(c =>
      require(payloadCols.contains(c),
        s"select column $c not a payload column of ${shape.rel}"))
    // the sink upsert key is (partition cols, rank): all must be selected
    (shape.parts :+ shape.rnAlias).foreach(c => require(shape.outer.contains(c),
      s"column $c is part of the sink's upsert key (partition + rank) " +
        "and must appear in the select list"))
    // TIME columns shuttle through the state boundary as STRINGS:
    // to_json has no TimeType writer (the cast round-trips exactly —
    // TIME <-> 'HH:mm:ss.SSSSSS'), and the final select restores the
    // declared type
    val timeCols = payloadCols.filter(c =>
      src.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.TimeType])
      .toSet
    val payloadSchema = org.apache.spark.sql.types.StructType(
      payloadCols.map(c =>
        if (timeCols(c)) org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType, nullable = true)
        else src.schema(c)))
    def payloadJson: org.apache.spark.sql.Column =
      to_json(struct(payloadCols.map(c =>
        if (timeCols(c)) col(c).cast("string").as(c) else col(c)): _*))
    val keyExpr =
      if (shape.parts.isEmpty) lit("") // global top-N: one state key
      else to_json(struct(shape.parts.map(col): _*))
    // the ranking state is keyed on a memcmp-ordered SORT KEY encoding
    // (SortKeyExpr / graft.util.SortKey — the generated-comparator role
    // of the reference's ComparableRecordComparator): any comparable
    // ORDER BY list ranks exactly, each item in its own direction (the
    // composite key is the concatenation of per-item FIELD encodings
    // with the direction baked in). COMPUTED items project into derived
    // columns BEFORE the state boundary — the reference planner
    // materializes computed rank fields into the row the same way.
    // NULL order values fail loudly inside the encoding with a message
    // naming the item (a NULL has no rank in a continuous top-N).
    val itemCol = (i: Int) => s"__graft_ok_$i"
    val withItems = shape.orderItems.zipWithIndex.foldLeft(src) {
      case (d, ((t, _), i)) =>
        d.withColumn(itemCol(i), if (isBareOrderCol(t)) col(t) else expr(t))
    }
    // date/timestamp pre-lower to exact integers (days / microseconds)
    // so the encoder sees a long; everything else encodes natively
    val prepped = shape.orderItems.indices.foldLeft(withItems) { (d, i) =>
      val c = col(itemCol(i))
      val pre = d.schema(itemCol(i)).dataType match {
        case org.apache.spark.sql.types.TimestampType => unix_micros(c)
        case org.apache.spark.sql.types.DateType => unix_date(c)
        // TIME casts exactly to fractional seconds-of-day (nanos kept)
        case _: org.apache.spark.sql.types.TimeType => c.cast("decimal(18,9)")
        case org.apache.spark.sql.types.BooleanType => c
        case org.apache.spark.sql.types.BinaryType => c
        case _: org.apache.spark.sql.types.NumericType => c
        case _: org.apache.spark.sql.types.StringType => c
        case other => throw new IllegalArgumentException(
          s"streaming top-N ORDER BY ${shape.orderItems(i)._1}: type " +
            s"${other.simpleString} has no order-preserving sort-key " +
            "encoding (numeric, decimal, string, boolean, binary, date, " +
            "time and timestamp are supported)")
      }
      d.withColumn(itemCol(i), pre)
    }
    // per-item field encoding; the fast route wants the RAW ascending
    // encoding of its single column (the leader is the encoded MAX)
    def sortKeyFor(descs: Seq[Boolean]): org.apache.spark.sql.Column = {
      val fields = shape.orderItems.zipWithIndex.map { case ((t, _), i) =>
        val label = t.replace("'", "''")
        expr(s"graft_sort_key(`${itemCol(i)}`, '$label', ${!descs(i)})")
      }
      if (fields.length == 1) fields.head else concat(fields: _*)
    }
    val sortKeyCol = sortKeyFor(shape.orderItems.map(_._2))
    val ranked =
      if (fast) {
        streaming.Retract.FastTop1Stats.lowered.incrementAndGet()
        val ks = upsertKeysOf(spark, shape.rel).get
        // the commit-sequence column rides into the fold: Spark's
        // shuffle gives no intra-batch ordering, so the operator sorts
        // each batch by (seq, sortKey) before applying — the
        // monotonicity contract is checked in DECLARED commit order
        // (the generic route gets the same ordering from
        // normalizeUpsert's keep-last-by-seq chain)
        val seqCol = Seq(SeqCol, "cdc_ts").find(cols.contains).getOrElse(
          throw new IllegalArgumentException(
            s"upsert changelog '${shape.rel}' carries no order column " +
              s"($SeqCol or cdc_ts) — commit order is undefined"))
        // the fast route's single item is DESC; the operator keeps the
        // encoded MAX, so it gets the RAW ascending field encoding
        val ascKey = sortKeyFor(shape.orderItems.map(_ => false))
        val typed = prepped.select(
          keyExpr.as("_1"),
          col(streaming.Cdc.RowKind).as("_2"),
          to_json(struct(ks.map(col): _*)).as("_3"),
          col(seqCol).cast("long").as("_4"),
          ascKey.as("_5"),
          payloadJson.as("_6"))
          .as[(String, String, String, Long, String, String)]
        streaming.Retract.fastTop1SortedChangelog(typed)
          .toDF("__kind", "__key", "__rank", "__sortkey", "__payload")
      } else {
        val typed = prepped.select(
          keyExpr.as("_1"),
          col(streaming.Cdc.RowKind).as("_2"),
          sortKeyCol.as("_3"),
          payloadJson.as("_4"))
          .as[(String, String, String, String)]
        // lowered onto the transformWithState point-write port: MapState
        // dataState (point read/write of the changed sort key only) +
        // the sorted-counts handle — RetractableTopNFunction.java:56's
        // dataState+treeMap pairing. The RocksDB provider is the
        // operator's runtime requirement (like Flink's state backend
        // choice, a property of the lowered plan, not of the user
        // session), so it is pinned for this query and restored after
        // start — the conf is snapshotted into the query's cloned
        // session synchronously.
        streaming.RetractTws
          .retractableTopNChangelogSorted(typed, shape.n)
          .toDF("__kind", "__key", "__rank", "__sortkey", "__payload")
      }
    val out = ranked.select(
      col("__kind").as(streaming.Cdc.RowKind),
      col("__rank").cast("long").as(shape.rnAlias),
      from_json(col("__payload"), payloadSchema).as("__r"))
      .select((col(streaming.Cdc.RowKind) +: shape.outer.map(c =>
        if (c == shape.rnAlias) col(shape.rnAlias)
        else if (timeCols(c)) // restore the declared TIME type
          col(s"__r.`$c`").cast(src.schema(c).dataType).as(c)
        else col(s"__r.`$c`").as(c))): _*)
    val keys = shape.parts :+ shape.rnAlias
    val write = upsertSinkWriter(spark, sink, keys)
    // pin + start + restore under StartLock (one atomic section — see
    // util.StartLock: a concurrent start on the shared session must
    // never snapshot this query's provider pin into ITS checkpoint)
    graft.util.StartLock.locked {
      withRocksDbProvider(spark) {
        withStateSizing(spark) {
          withTrigger(spark, out.writeStream
            .outputMode("append") // delta emission; chains after normalize
            .option("checkpointLocation", checkpointDir)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              write(batch.withColumn(SeqCol, lit(batchId)), batchId)
            })
            .start()
        }
      }
    }
  }

  // ---- continuous two-sided retraction JOIN (StreamExecJoin) ---------

  /** One side of a parsed continuous join statement. */
  private case class StreamJoinSide(rel: String, alias: Option[String],
      keyCols: Seq[String], selected: Seq[(String, String)]) // (col, outName)

  /** `orderTags`: the select list's side per item in STATEMENT order
    * (0 = left, 1 = right) — replays the user's column order across the
    * per-side splits. `whereConjs`: the WHERE clause's top-level AND
    * conjuncts (side classification happens in the lowering, where the
    * schemas are at hand). */
  private case class StreamJoinShape(
      left: StreamJoinSide, right: StreamJoinSide, joinType: String,
      orderTags: Seq[Int], whereConjs: Seq[String])

  /** Does `select` read TWO (or more) changelog relations in a linear
    * join chain — the statement shape [[streamJoin]] owns? (Everything
    * about the shape beyond this dispatch test — INNER-ness, equi-ON,
    * bare-column select — is validated LOUDLY inside the lowering:
    * a user composing two changelogs must get the join path's error,
    * not the append path's misleading watermark complaint.) */
  private[graft] def streamJoinMatches(
      spark: SparkSession, select: String): Boolean =
    parse(select).exists { c =>
      parseJoinChain(c.relation).exists(
        _.count(r => isChangelogRel(spark, r.name)) >= 2)
    }

  /** The FROM/ON/WHERE analysis shared by the plain continuous-join
    * statement and the agg-over-join statement: relation chain, join
    * type, per-side name/column resolution, equi-key pairs. */
  private case class JoinCore(
      lRel: ChainRel, rRel: ChainRel, joinType: String,
      lName: String, rName: String,
      lCols: Seq[String], rCols: Seq[String],
      pairs: Seq[(String, String)], whereConjs: Seq[String],
      resolve: String => (Int, String))

  /** Does the select list (or HAVING) call an aggregate function? */
  private def joinSelectHasAgg(spark: SparkSession, c: Clauses): Boolean =
    callNames(blank(c.selectList) + " " +
      c.having.map(blank).getOrElse("")).exists(n =>
      Supported(n) || StreamOverSql.customAgg(n).isDefined ||
        isAggregateFn(spark, n).contains(true))

  private def parseJoinCore(spark: SparkSession, c: Clauses,
      bad: String => Nothing): JoinCore = {
    val chain = parseJoinChain(c.relation).getOrElse(
      bad(s"FROM must be a linear `a JOIN b ON ...` chain, got: ${c.relation}"))
    val clCount = chain.count(r => isChangelogRel(spark, r.name))
    if (chain.size != 2 || clCount != 2) bad(
      s"exactly TWO changelog relations join continuously (got ${chain.size} " +
        s"relations, $clCount changelogs); multi-way joins chain through " +
        "intermediate sinks — INSERT each pairwise join into its own table " +
        "and join that changelog next")
    val Seq(lRel, rRel) = chain
    val jt = rRel.joinType.getOrElse("INNER")
    if (jt == "CROSS") bad(
      "CROSS JOIN of two changelogs has no key to partition state by; " +
        "give an ON equi-condition")
    val all = blank(c.selectList) + " " + blank(c.relation) + " " +
      c.where.map(blank).getOrElse("") + " " +
      c.groupBy.map(blank).getOrElse("") + " " +
      c.having.map(blank).getOrElse("")
    Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol).foreach(m =>
      if (("(?i)\\b" + java.util.regex.Pattern.quote(m) + "\\b").r
          .findFirstIn(all).isDefined)
        bad(s"the statement references encoding column $m — there is no " +
          "raw passthrough for a two-changelog join; the operator " +
          "consumes the encodings"))
    // side resolution: qualifier = alias (or bare table name), else
    // unique column membership
    def encodingCol(n: String) =
      n == streaming.Cdc.RowKind || n == "cdc_ts" || n == SeqCol
    val lName = lRel.alias.getOrElse(lRel.name.split('.').last)
    val rName = rRel.alias.getOrElse(rRel.name.split('.').last)
    if (lName.equalsIgnoreCase(rName)) bad(
      s"both sides resolve to the name '$lName' — alias one of them")
    val lCols = relationColumns(spark, lRel.name).getOrElse(
      bad(s"cannot resolve ${lRel.name}")).filterNot(encodingCol)
    val rCols = relationColumns(spark, rRel.name).getOrElse(
      bad(s"cannot resolve ${rRel.name}")).filterNot(encodingCol)
    def resolve(ref0: String): (Int, String) = {
      val ref = ref0.trim.replace("`", "")
      def canon(cols: Seq[String], n: String): String =
        cols.find(_.equalsIgnoreCase(n)).getOrElse(
          bad(s"column $n not found"))
      ref.split('.') match {
        case Array(q, n) if q.equalsIgnoreCase(lName) => (0, canon(lCols, n))
        case Array(q, n) if q.equalsIgnoreCase(rName) => (1, canon(rCols, n))
        case Array(q, _) => bad(s"unknown qualifier '$q' in $ref " +
          s"(sides: $lName, $rName)")
        case Array(n) =>
          val inL = lCols.exists(_.equalsIgnoreCase(n))
          val inR = rCols.exists(_.equalsIgnoreCase(n))
          if (inL && inR) bad(s"column $n is ambiguous (both sides carry " +
            "it) — qualify it")
          if (inL) (0, canon(lCols, n))
          else if (inR) (1, canon(rCols, n))
          else bad(s"column $n not found on either side")
        case _ => bad(s"cannot resolve column reference: $ref0")
      }
    }
    // ON: a top-level conjunction of side-crossing equalities — the
    // keyed-exchange contract (Flink hashes both inputs by the equi-key,
    // StreamExecJoin.java:132's joinSpec)
    val on = rRel.on.getOrElse(bad("CROSS JOIN of two changelogs has no " +
      "key to partition state by; give an ON equi-condition"))
    val EqRe = """(?s)^\(*\s*([\w.`]+)\s*=\s*([\w.`]+)\s*\)*$""".r
    val pairs = graft.util.SqlSplit.splitTopLevelAnd(on).map(_.trim).map {
      case EqRe(a, b) =>
        (resolve(a), resolve(b)) match {
          case ((0, la), (1, rb)) => (la, rb)
          case ((1, ra), (0, lb)) => (lb, ra)
          case _ => bad(s"ON conjunct '$a = $b' must compare one LEFT " +
            "column with one RIGHT column")
        }
      case other => bad(s"ON supports equality conjuncts only (the state " +
        s"is keyed by the equi-key), got: $other")
    }
    if (pairs.isEmpty) bad("empty ON condition")
    JoinCore(lRel, rRel, jt, lName, rName, lCols, rCols, pairs,
      c.where.map(graft.util.SqlSplit.splitTopLevelAnd(_)).getOrElse(Nil),
      resolve)
  }

  /** Validate + extract the continuous-join statement shape; throws a
    * loud, specific error for every inadmissible variant. */
  private def parseStreamJoinShape(
      spark: SparkSession, select: String): StreamJoinShape = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous two-sided retraction JOIN: $msg")
    val c = parse(select).getOrElse(bad(s"unparseable statement: $select"))
    if (c.groupBy.isDefined || c.having.isDefined || joinSelectHasAgg(spark, c))
      bad("this statement AGGREGATES the join — it belongs to the " +
        "agg-over-join route (streamJoinAgg), which the front door " +
        "dispatches first; reaching here means it was called directly")
    if (c.orderBy.isDefined || c.limit.isDefined) bad(
      "ORDER BY / LIMIT have no meaning on a continuous changelog")
    val core = parseJoinCore(spark, c, bad)
    if (callNames(blank(c.selectList)).nonEmpty) bad(
      "the select list must be bare (optionally qualified, optionally " +
        "aliased) columns — compute expressions on the materialized sink")
    // select items: (side, col, outName); output names must be distinct
    val ItemRe = """(?is)^(.*?)(?:\s+AS\s+`?(\w+)`?)?$""".r
    val items = graft.util.SqlSplit.splitTopLevel(c.selectList)
      .map(_.trim).map {
        case ItemRe(e, a) =>
          val (side, col0) = core.resolve(e)
          (side, col0, Option(a).getOrElse(col0))
      }
    val dup = items.groupBy(_._3.toLowerCase).collect {
      case (n, g) if g.size > 1 => n
    }
    if (dup.nonEmpty) bad(s"duplicate output column name(s): " +
      s"${dup.mkString(", ")} — alias them apart")
    StreamJoinShape(
      StreamJoinSide(core.lRel.name, core.lRel.alias, core.pairs.map(_._1),
        items.collect { case (0, col0, out) => (col0, out) }),
      StreamJoinSide(core.rRel.name, core.rRel.alias, core.pairs.map(_._2),
        items.collect { case (1, col0, out) => (col0, out) }),
      core.joinType, items.map(_._1), core.whereConjs)
  }

  /** Classify each WHERE conjunct onto ONE side by attempted analysis
    * against that side's (aliased) schema, and enforce outer-join
    * pushability: a deterministic payload predicate commutes with a
    * changelog (a retraction passes iff the row it retracts did), so a
    * single-side conjunct filters its side's stream BEFORE the join
    * state — exactly Catalyst's own pushdown rule — but a predicate on
    * a NULL-PADDED side would also erase pads (post-join WHERE
    * semantics differ from pushdown there), and a cross-side predicate
    * is a join condition, so both reject loudly. Returns (left
    * conjuncts, right conjuncts). */
  private def classifyJoinWhere(spark: SparkSession, sh: StreamJoinShape)
      : (Seq[String], Seq[String]) = {
    if (sh.whereConjs.isEmpty) return (Nil, Nil)
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous two-sided retraction JOIN: $msg")
    def probe(rel: String, alias: Option[String]) = {
      val name = alias.getOrElse(rel.split('.').last)
      spark.table(rel).alias(name)
    }
    val lProbe = probe(sh.left.rel, sh.left.alias)
    val rProbe = probe(sh.right.rel, sh.right.alias)
    // does the conjunct reference any COLUMN of either side? (a
    // both-sides-resolvable conjunct over a SHARED column name is
    // ambiguous — SQL errors there; only a pure constant predicate is
    // genuinely side-neutral)
    val allCols = (lProbe.columns ++ rProbe.columns).map(_.toLowerCase).toSet
    def refsAnyColumn(conj: String): Boolean = {
      val b = blank(conj)
      """[A-Za-z_]\w*""".r.findAllMatchIn(b).exists { m =>
        val isCall = b.drop(m.end).dropWhile(_.isWhitespace).startsWith("(")
        !isCall && allCols(m.group(0).toLowerCase)
      }
    }
    val (l, r) = (Seq.newBuilder[String], Seq.newBuilder[String])
    sh.whereConjs.foreach { conj =>
      val onL = scala.util.Try(lProbe.filter(expr(conj))).isSuccess
      val onR = scala.util.Try(rProbe.filter(expr(conj))).isSuccess
      val side = (onL, onR) match {
        case (true, false) => 0
        case (false, true) => 1
        case (true, true) if !refsAnyColumn(conj) => 0 // pure constant
        case (true, true) => bad(s"WHERE conjunct ($conj) is ambiguous " +
          "— it resolves against BOTH sides; qualify the column(s) " +
          "with the side's alias")
        case _ => bad(s"WHERE conjunct ($conj) must reference exactly " +
          "one side — a cross-side predicate is a join condition (put " +
          "equalities in ON) and anything else filters the materialized " +
          "sink (FINAL_STATE)")
      }
      val padded = (side == 0 && (sh.joinType == "RIGHT" || sh.joinType == "FULL")) ||
        (side == 1 && (sh.joinType == "LEFT" || sh.joinType == "FULL"))
      if (padded) bad(
        s"WHERE conjunct ($conj) filters the null-padded side of a " +
          s"${sh.joinType} join — pushing it would erase pads and " +
          "post-join WHERE over pads is a different statement; filter " +
          "the materialized sink (FINAL_STATE) instead")
      if (side == 0) l += conj else r += conj
    }
    (l.result(), r.result())
  }

  /** The route line EXPLAIN CHANGELOG_MODE prints for a continuous join
    * statement: the operator, the per-side state shape, the key, the
    * pad bookkeeping (outer types) and the pushed per-side filters. */
  // ---- continuous agg-over-join (StreamExecJoin -> StreamExecGroupAggregate)

  /** One aggregate call in an agg-over-join select list. `side`/`col`
    * are (-1, "") for COUNT(*); `srcText` is the original expression
    * text (HAVING substitution + EXPLAIN rendering). */
  private case class JoinAggCall(fn: String, distinct: Boolean,
      side: Int, col: String, out: String, srcText: String)

  /** The agg-over-join statement shape: the synthesized join shape
    * (selected = every column the aggregate stage needs, under
    * collision-free internal names), the GROUP BY items with their
    * OUTPUT names (the sink's upsert key), the aggregate calls, and the
    * select list's statement order across both kinds. */
  private case class StreamJoinAggShape(
      join: StreamJoinShape,
      groupItems: Seq[(Int, String, String)], // (side, col, outName)
      aggs: Seq[JoinAggCall],
      selectOrder: Seq[Either[Int, Int]], // Left(groupIdx) | Right(aggIdx)
      having: Option[String])

  /** Does `select` AGGREGATE a two-changelog join — the statement shape
    * [[streamJoinAgg]] owns? (Dispatched BEFORE [[streamJoinMatches]]'
    * route so an aggregate statement gets this path's errors.) */
  private[graft] def streamJoinAggMatches(
      spark: SparkSession, select: String): Boolean =
    streamJoinMatches(spark, select) && parse(select).exists(c =>
      c.groupBy.isDefined || c.having.isDefined || joinSelectHasAgg(spark, c))

  /** Internal (collision-free) name of a joined column inside the
    * agg-over-join topology. */
  private def joinAggRef(side: Int, col: String): String =
    if (side == 0) s"__jl_$col" else s"__jr_$col"

  /** Parse + validate an aggregate select list and its GROUP BY against
    * a side-aware column resolver — the walk shared by the agg-over-join
    * statement and the composed top-N's inner aggregate. Returns
    * (groupItems (side, col, out) in GROUP BY order, aggregate calls,
    * select order anchored onto those two lists). */
  private def parseAggSelect(c: Clauses,
      resolve: String => (Int, String), bad: String => Nothing)
      : (Seq[(Int, String, String)], Seq[JoinAggCall], Seq[Either[Int, Int]]) = {
    if (c.orderBy.isDefined || c.limit.isDefined) bad(
      "ORDER BY / LIMIT have no meaning on a continuous changelog")
    require(!"""(?is)^\s*DISTINCT\b""".r.findFirstIn(c.selectList).isDefined,
      "SELECT DISTINCT over a continuous changelog is not supported; " +
        "GROUP BY the columns instead (same live-group semantics)")
    val AggFns = Set("COUNT", "SUM", "AVG", "MIN", "MAX")
    val ItemRe = """(?is)^(.*?)(?:\s+AS\s+`?(\w+)`?)?$""".r
    val CallRe = """(?is)^([A-Za-z_]\w*)\s*\(\s*(DISTINCT\s+)?(.*?)\s*\)$""".r
    val BareRe = """(?s)^[\w.`]+$""".r
    val aggsB = Seq.newBuilder[JoinAggCall]
    val bareB = Seq.newBuilder[(Int, String, String)] // (side, col, out)
    var aggIdx = -1
    var bareIdx = -1
    val selectOrder = graft.util.SqlSplit.splitTopLevel(c.selectList)
      .map(_.trim).map {
        case ItemRe(e0, a) =>
          val e = e0.trim
          blank(e) match {
            case CallRe(fn0, dist, arg0) =>
              val fn = fn0.toUpperCase
              if (!AggFns(fn)) bad(s"$fn(...) in the select list: only " +
                "COUNT/SUM/AVG/MIN/MAX have a retraction-consuming " +
                "rewrite over a join; compute scalar expressions on the " +
                "materialized sink")
              if (dist != null && fn != "COUNT") bad(
                s"$fn(DISTINCT ...) needs a per-group distinct-value " +
                  "state the rewrite does not keep; only COUNT(DISTINCT " +
                  "col) is supported")
              // slice the ORIGINAL text for the arg (blanked text has
              // literals erased); CallRe groups align because blanking
              // is position-preserving
              val arg = e.substring(e.indexOf('(') + 1,
                e.lastIndexOf(')')).trim
                .replaceFirst("(?is)^DISTINCT\\s+", "").trim
              val (side, col0) =
                if (arg == "*") {
                  if (fn != "COUNT") bad(s"$fn(*) is not an aggregate")
                  (-1, "")
                } else if (BareRe.findFirstIn(arg).isDefined)
                  resolve(arg)
                else bad(s"aggregate argument ($arg) must be a bare " +
                  "column — project computed arguments into the source " +
                  "changelog relations")
              val out = Option(a).getOrElse(bad(
                s"alias the aggregate ($e) with AS <name> — it names " +
                  "the sink column"))
              aggsB += JoinAggCall(fn, dist != null, side, col0, out,
                e.replaceAll("\\s+", " "))
              aggIdx += 1
              Right(aggIdx)
            case b if BareRe.findFirstIn(b).isDefined =>
              val (side, col0) = resolve(e)
              bareB += ((side, col0, Option(a).getOrElse(col0)))
              bareIdx += 1
              Left(bareIdx)
            case _ => bad(s"select item ($e) must be a bare column or an " +
              "aggregate call; compute expressions on the materialized sink")
          }
      }
    val aggs = aggsB.result()
    val bares = bareB.result()
    if (aggs.isEmpty) bad("no aggregate in the select list; a plain " +
      "projection of the join is the join statement itself (GROUP BY " +
      "without aggregates = DISTINCT, which FINAL_STATE(sink) answers)")
    // GROUP BY items: bare columns; the bare select items must be
    // exactly the grouped columns (anything else has no single value)
    val groupRefs = c.groupBy.toSeq
      .flatMap(graft.util.SqlSplit.splitTopLevel(_)).map(_.trim).map { g =>
        if (BareRe.findFirstIn(blank(g)).isEmpty) bad(
          s"GROUP BY item ($g) must be a bare column — project computed " +
            "grouping keys into the source changelog relations")
        resolve(g)
      }
    if (groupRefs.isEmpty && bares.nonEmpty) bad(
      s"non-aggregated column ${bares.head._2} without GROUP BY")
    val groupItems = groupRefs.map { case (side, col0) =>
      bares.find(b => b._1 == side && b._2.equalsIgnoreCase(col0)) match {
        case Some((_, _, out)) => (side, col0, out)
        case None => bad(s"GROUP BY column $col0 must appear in the " +
          "select list — it is the sink's upsert key")
      }
    }
    bares.foreach { case (side, col0, _) =>
      if (!groupItems.exists(g => g._1 == side && g._2 == col0)) bad(
        s"select column $col0 is not in GROUP BY — a non-grouped column " +
          "has no aggregate value")
    }
    val dup = (groupItems.map(_._3) ++ aggs.map(_.out))
      .groupBy(_.toLowerCase).collect { case (n, g) if g.size > 1 => n }
    if (dup.nonEmpty) bad(s"duplicate output column name(s): " +
      s"${dup.mkString(", ")} — alias them apart")
    // re-anchor Left() from statement-order bare-item index to the
    // matching groupItems index (bare items == grouped columns, proven
    // above, but the two lists may order them differently)
    val anchored = selectOrder.map {
      case Left(bi) =>
        val (side, col0, _) = bares(bi)
        Left(groupItems.indexWhere(g => g._1 == side && g._2 == col0))
      case r => r
    }
    (groupItems, aggs, anchored)
  }

  private def parseStreamJoinAggShape(
      spark: SparkSession, select: String): StreamJoinAggShape = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous aggregate over a two-changelog JOIN: $msg")
    val c = parse(select).getOrElse(bad(s"unparseable statement: $select"))
    val core = parseJoinCore(spark, c, bad)
    val (groupItems, aggs, anchored) = parseAggSelect(c, core.resolve, bad)
    // synthesize the join shape: each side carries exactly the columns
    // the aggregate stage reads, under internal names
    val needed = (groupItems.map(g => (g._1, g._2)) ++
      aggs.filter(_.side >= 0).map(a => (a.side, a.col))).distinct
    def sideSel(side: Int) = needed.collect {
      case (s0, col0) if s0 == side => (col0, joinAggRef(side, col0))
    }
    val (lSel, rSel) = (sideSel(0), sideSel(1))
    val join = StreamJoinShape(
      StreamJoinSide(core.lRel.name, core.lRel.alias,
        core.pairs.map(_._1), lSel),
      StreamJoinSide(core.rRel.name, core.rRel.alias,
        core.pairs.map(_._2), rSel),
      core.joinType,
      Seq.fill(lSel.size)(0) ++ Seq.fill(rSel.size)(1),
      core.whereConjs)
    StreamJoinAggShape(join, groupItems, aggs, anchored, c.having)
  }

  /** Rewrite a HAVING clause onto the aggregate stage's OUTPUT columns:
    * each aggregate call that textually matches a select-list aggregate
    * (whitespace/case/qualifier-insensitive — `qual(side)` names the
    * admissible qualifier) becomes its alias, each grouped column its
    * output name; alias references pass through. Any aggregate call
    * left after substitution rejects loudly — the state only keeps the
    * accumulators the select list declared. */
  private def rewriteAggHaving(spark: SparkSession, h: String,
      aggs: Seq[JoinAggCall], groupItems: Seq[(Int, String, String)],
      qual: Int => String, bad: String => Nothing): String = {
    import java.util.regex.Pattern
    var s = h
    aggs.foreach { a =>
      val argPat =
        if (a.col.isEmpty) "\\*"
        else s"(?:${Pattern.quote(qual(a.side))}\\s*\\.\\s*)?`?" +
          Pattern.quote(a.col) + "`?"
      val pat = s"(?i)\\b${a.fn}\\s*\\(\\s*" +
        (if (a.distinct) "DISTINCT\\s+" else "") + argPat + "\\s*\\)"
      s = s.replaceAll(pat,
        java.util.regex.Matcher.quoteReplacement("`" + a.out + "`"))
    }
    groupItems.foreach { case (side, col0, out) =>
      val pat = s"(?i)\\b(?:${Pattern.quote(qual(side))}\\s*\\.\\s*)?`?" +
        Pattern.quote(col0) + "`?\\b"
      s = s.replaceAll(pat, "`" + out + "`")
    }
    val leftoverAgg = callNames(blank(s)).find(n =>
      Supported(n) || StreamOverSql.customAgg(n).isDefined ||
        isAggregateFn(spark, n).contains(true))
    leftoverAgg.foreach(n => bad(s"HAVING aggregate $n(...) does not " +
      "match any select-list aggregate — the state only keeps the " +
      "declared accumulators; alias the aggregate in the select list " +
      "and reference it (by alias or by repeating the exact expression)"))
    s
  }

  /** The join-operator part of the route line, shared by the plain join
    * statement and the agg-over-join statement (which appends its own
    * downstream-operator tail). */
  private def joinExplainCore(spark: SparkSession, sh: StreamJoinShape)
      : String = {
    val (lW, rW) = classifyJoinWhere(spark, sh)
    val key = sh.left.keyCols.zip(sh.right.keyCols)
      .map { case (l, r) => s"$l = $r" }.mkString(" AND ")
    val pads =
      if (sh.joinType == "INNER") ""
      else "; pad bookkeeping: per-side live-total counters " +
        "(OuterJoinRecordStateView)"
    val pushed =
      if (lW.isEmpty && rW.isEmpty) ""
      else "; pushed filters: " + (
        lW.map(w => s"left($w)") ++ rW.map(w => s"right($w)")).mkString(", ")
    val fusedSides = Seq(
      if (joinSideFusable(spark, sh.left, lW)) Some("left") else None,
      if (joinSideFusable(spark, sh.right, rW)) Some("right") else None).flatten
    val fused =
      if (fusedSides.isEmpty) ""
      else s"; ChangelogNormalize FUSED into the join state on the " +
        s"${fusedSides.mkString("+")} side (upsert key = join key: one " +
        "keep-last (seq, payload, live) triple per join key, one state " +
        "boundary instead of two)"
    s"continuous two-sided retraction JOIN (${sh.joinType}, " +
      "StreamingJoinOperator) — per-side state: MapState[payload -> " +
      s"live count] per join key (left ${sh.left.rel}, right " +
      s"${sh.right.rel}; key: $key)$pads$pushed$fused"
  }

  private[graft] def streamJoinExplainText(
      spark: SparkSession, select: String): String =
    joinExplainCore(spark, parseStreamJoinShape(spark, select)) +
      " -> retract changelog sink (+I/-D)"

  /** The route line EXPLAIN CHANGELOG_MODE prints for an agg-over-join
    * statement: the join operator feeding the retraction-consuming
    * group aggregate, one topology. */
  private[graft] def streamJoinAggExplainText(
      spark: SparkSession, select: String): String = {
    val sh = parseStreamJoinAggShape(spark, select)
    val keys =
      if (sh.groupItems.isEmpty) "GLOBAL"
      else sh.groupItems.map(_._3).mkString(", ")
    val aggList = sh.aggs.map(a => a.srcText + " AS " + a.out).mkString(", ")
    joinExplainCore(spark, sh.join) +
      " -> retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
      "transformWithState; per-group scalar accumulators, counted-value " +
      "MapState for MIN/MAX/COUNT DISTINCT with the current extreme " +
      s"cached) — group key: ($keys); aggregates: $aggList" +
      sh.having.map(h => s"; HAVING $h").getOrElse("") +
      " -> upsert changelog keyed by the GROUP BY columns"
  }

  /** Continuous `INSERT INTO sink SELECT ... FROM a <type> JOIN b ON
    * ...` where BOTH relations are changelogs — the statement form of
    * StreamExecJoin.java:132 → StreamingJoinOperator.java:36: each
    * side's live rows are a counted multiset per join key
    * (JoinRecordStateViews.java:230, InputSideHasNoUniqueKey), an
    * arriving change point-writes its own side and emits the delta
    * against the OTHER side's live entries. All four join types lower:
    * LEFT/RIGHT/FULL take the pad-bookkeeping processor
    * (OuterJoinRecordStateViews.java:335 — unmatched preserved rows
    * emit NULL-padded, the pad retracts on first match and restores on
    * last retraction). DECLARED UPSERT inputs chain ChangelogNormalize
    * first ([[retractStreamOf]]), exactly like the aggregate and top-N
    * routes. WHERE pushes single-side conjuncts to their side's stream
    * BEFORE the join state ([[classifyJoinWhere]] — padded-side and
    * cross-side predicates reject loudly). The sink receives the join's
    * RETRACT changelog (+I/-D rows with multiplicity — a join output
    * has no upsert key), so the live result is `FINAL_STATE(sink)` and
    * connector sinks (which consume keyed upserts) reject loudly.
    *
    * Scale shape: ONE shuffle per micro-batch per side (groupByKey on
    * the equi-key — the same keyed exchange Flink's operator needs);
    * state access is O(changes) point writes + O(matches) other-side
    * iteration per change, probe-pinned in StreamJoinTwsSpec; NULL
    * equi-key rows filter at the source on unpreserved sides (SQL
    * equality never matches NULL) and route to side-tagged pad-only
    * state keys on preserved sides (the row appears padded, never
    * cross-matches another NULL). */
  def streamJoin(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamJoin expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val sh = parseStreamJoinShape(spark, select)
    // connector sinks consume KEYED upserts; a retract changelog has none
    val sinkProps = scala.util.Try(WatermarkDdl.tableOptions(spark, sink))
      .getOrElse(Map.empty[String, String])
    sinkProps.get("connector").foreach(conn =>
      throw new IllegalArgumentException(
        s"continuous JOIN into '$conn' table $sink: the join emits a " +
          "RETRACT changelog (+I/-D with multiplicity, no upsert key) " +
          "that keyed connector sinks cannot consume; land it in a plain " +
          "table (FINAL_STATE(sink) reads the live result) or aggregate " +
          "it with its own continuous statement"))
    val out = joinChangelogStream(spark, sh)
    graft.util.StartLock.locked {
      withRocksDbProvider(spark) {
        withStateSizing(spark) {
          withTrigger(spark, out.writeStream
            .outputMode("append") // delta emission (+I/-D changelog rows)
            .option("checkpointLocation", checkpointDir)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              batch.withColumn(SeqCol, lit(batchId))
                .write.mode("append").saveAsTable(sink)
            })
            .start()
        }
      }
    }
  }

  /** Lower a validated join shape onto the TWS join port and return the
    * join's RETRACT changelog stream: `row_kind` (+I/-D) followed by
    * the shape's output columns in statement order. Shared by the plain
    * join statement (which sinks it directly) and the agg-over-join
    * statement (which chains the group aggregate downstream). */
  /** Is this side a DECLARED UPSERT relation whose key EQUALS the join's
    * equi-key (so the normalize keep-last fold can live INSIDE the join
    * state — [[streaming.StreamJoinTws.fusedJoinChangelog]]) with no
    * pushed filters (a pre-normalize filter would change keep-last)? */
  private def joinSideFusable(spark: SparkSession, side: StreamJoinSide,
      filters: Seq[String]): Boolean =
    filters.isEmpty && upsertKeysOf(spark, side.rel).exists(ks =>
      ks.map(_.toLowerCase).toSet ==
        side.keyCols.map(_.toLowerCase).toSet)

  private def joinChangelogStream(
      spark: SparkSession, sh: StreamJoinShape): DataFrame = {
    import spark.implicits._
    val (lWhere, rWhere) = classifyJoinWhere(spark, sh)
    val fuseL = joinSideFusable(spark, sh.left, lWhere)
    val fuseR = joinSideFusable(spark, sh.right, rWhere)
    def sideStream(side: StreamJoinSide, filters: Seq[String],
        fused: Boolean): (DataFrame,
        org.apache.spark.sql.types.StructType, Set[String],
        org.apache.spark.sql.types.StructType) = {
      // a FUSED side reads the RAW upsert stream (row_kind + order col +
      // payload); normalization happens inside the join processor
      val src0 =
        if (fused) changelogReadStream(spark, side.rel)
        else retractStreamOf(spark, side.rel)
      require(src0.isStreaming, s"${side.rel} did not bind as a streaming read")
      // single-side WHERE conjuncts push BEFORE the join state (a
      // deterministic payload predicate commutes with the changelog);
      // the alias makes qualified references (l.price) resolve
      val aliased = src0.alias(side.alias.getOrElse(side.rel.split('.').last))
      val src = filters.foldLeft(aliased)((d, w) => d.filter(expr(w)))
      side.keyCols.foreach(k => require(src.columns.contains(k),
        s"join key column $k not a payload column of ${side.rel}"))
      val payloadCols = side.selected.map(_._1).distinct
      // TIME payload columns shuttle the state boundary as strings
      // (to_json has no TimeType writer; the cast round-trips exactly)
      val timeCols = payloadCols.filter(c => src.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.TimeType]).toSet
      val schema = org.apache.spark.sql.types.StructType(
        payloadCols.map(c =>
          if (timeCols(c)) org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType, nullable = true)
          else src.schema(c)))
      val origSchema = org.apache.spark.sql.types.StructType(
        payloadCols.map(c => src.schema(c)))
      (src, schema, timeCols, origSchema)
    }
    val (lSrc, lSchema, lTime, lOrig) = sideStream(sh.left, lWhere, fuseL)
    val (rSrc, rSchema, rTime, rOrig) = sideStream(sh.right, rWhere, fuseR)
    // equi-key types must agree exactly: the key rides the state
    // boundary as its JSON rendering, and 1 vs 1.0 would silently
    // never match
    sh.left.keyCols.zip(sh.right.keyCols).foreach { case (lk, rk) =>
      val (lt, rt) = (lSrc.schema(lk).dataType, rSrc.schema(rk).dataType)
      require(lt == rt,
        s"join key types differ: $lk is ${lt.simpleString}, $rk is " +
          s"${rt.simpleString} — CAST at ingest (a view over the source)")
    }
    val (padLeft, padRight) = sh.joinType match {
      case "LEFT" => (true, false)
      case "RIGHT" => (false, true)
      case "FULL" => (true, true)
      case _ => (false, false)
    }
    def typed(src: DataFrame, keyCols: Seq[String],
        payloadCols: Seq[String], timeCols: Set[String],
        preserved: Boolean, sideTag: String) = {
      val keyJson = to_json(struct(keyCols.zipWithIndex.map {
        case (k, i) => col(k).as(s"k$i")
      }: _*))
      val payloadJson =
        if (payloadCols.isEmpty) lit("{}")
        else to_json(struct(payloadCols.map(c =>
          if (timeCols(c)) col(c).cast("string").as(c) else col(c)): _*))
      val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
      // NULL equi-keys never match in SQL. On an UNPRESERVED side they
      // drop at the source; on a PRESERVED (padded) side the row must
      // still appear padded, so it routes to a SIDE-TAGGED state key
      // derived from its own payload (deterministic, so its retraction
      // re-encodes identically) that the other side can never land on —
      // the row pads forever and never cross-matches another NULL.
      val keyed =
        if (!preserved) src.filter(!anyNull)
          .withColumn("__gk", keyJson)
        else src.withColumn("__gk",
          when(anyNull, concat(lit("\u0000" + sideTag), payloadJson))
            .otherwise(keyJson))
      keyed.select(col("__gk").as("_1"),
        col(streaming.Cdc.RowKind).as("_2"), payloadJson.as("_3"))
        .as[(String, String, String)]
    }
    val lPay = sh.left.selected.map(_._1).distinct
    val rPay = sh.right.selected.map(_._1).distinct
    // fused-side input: (side, joinKey, raw kind, payload, seq) — the
    // RAW upsert rows; the join processor owns the keep-last fold. NULL
    // keys route exactly like typed(): dropped on an unpreserved side,
    // side-tagged (by the KEY rendering — deterministic per upsert
    // group, unreachable by the other side) on a preserved one.
    def typedFused(src: DataFrame, side: StreamJoinSide, sideIdx: Int,
        payloadCols: Seq[String], timeCols: Set[String], preserved: Boolean)
        : org.apache.spark.sql.Dataset[(Int, String, String, String, Long)] = {
      val cols = src.columns.toSeq
      val orderCol = Seq(SeqCol, "cdc_ts").find(cols.contains).getOrElse(
        throw new IllegalArgumentException(
          s"upsert changelog '${side.rel}' declares keys but carries no " +
            s"order column ($SeqCol or cdc_ts) — keep-last is undefined"))
      val keyJson = to_json(struct(side.keyCols.zipWithIndex.map {
        case (k, i) => col(k).as(s"k$i")
      }: _*))
      val payloadJson =
        if (payloadCols.isEmpty) lit("{}")
        else to_json(struct(payloadCols.map(c =>
          if (timeCols(c)) col(c).cast("string").as(c) else col(c)): _*))
      val anyNull = side.keyCols.map(col(_).isNull).reduce(_ || _)
      val tag = if (sideIdx == 0) " L" else " R"
      val keyed =
        if (!preserved) src.filter(!anyNull).withColumn("__gk", keyJson)
        else src.withColumn("__gk",
          when(anyNull, concat(lit(tag), keyJson)).otherwise(keyJson))
      keyed.select(lit(sideIdx).as("_1"), col("__gk").as("_2"),
        col(streaming.Cdc.RowKind).as("_3"), payloadJson.as("_4"),
        col(orderCol).cast("long").as("_5"))
        .as(streaming.StreamJoinTws.fusedInputEncoder)
    }
    val joined = (if (fuseL || fuseR) {
      implicit val eTagged: org.apache.spark.sql.Encoder[
        (Int, String, String, String, Long)] =
        streaming.StreamJoinTws.fusedInputEncoder
      def taggedSide(sideIdx: Int): org.apache.spark.sql.Dataset[(Int, String, String, String, Long)] = {
        val (side, src, pay, time, pad, fused) =
          if (sideIdx == 0) (sh.left, lSrc, lPay, lTime, padLeft, fuseL)
          else (sh.right, rSrc, rPay, rTime, padRight, fuseR)
        if (fused) typedFused(src, side, sideIdx, pay, time, pad)
        else typed(src, side.keyCols, pay, time, pad,
          if (sideIdx == 0) "L" else "R")
          .map(t => (sideIdx, t._1, t._2, t._3, 0L))
      }
      streaming.StreamJoinTws.fusedJoinChangelog(
        taggedSide(0).union(taggedSide(1)),
        padLeft, padRight, fuseL, fuseR).toDF()
    } else {
      val lTyped = typed(lSrc, sh.left.keyCols, lPay, lTime, padLeft, "L")
      val rTyped = typed(rSrc, sh.right.keyCols, rPay, rTime, padRight, "R")
      sh.joinType match {
        case "INNER" =>
          streaming.StreamJoinTws.innerJoinChangelog(lTyped, rTyped).toDF()
        case _ =>
          streaming.StreamJoinTws
            .outerJoinChangelog(lTyped, rTyped, padLeft, padRight).toDF()
      }
    }).toDF("__key", "__kind", "__l", "__r")
    def outCol(sideIdx: Int): Seq[org.apache.spark.sql.Column] = {
      val (side, orig, time, slot) =
        if (sideIdx == 0) (sh.left, lOrig, lTime, "__lr")
        else (sh.right, rOrig, rTime, "__rr")
      side.selected.map { case (c, out) =>
        val base = col(s"$slot.`$c`")
        (if (time(c)) base.cast(orig(c).dataType) else base).as(out)
      }
    }
    val withStructs = joined.select(
      col("__kind").as(streaming.Cdc.RowKind),
      (if (lPay.isEmpty) lit(null) else from_json(col("__l"), lSchema))
        .as("__lr"),
      (if (rPay.isEmpty) lit(null) else from_json(col("__r"), rSchema))
        .as("__rr"))
    // output columns in the user's select-list order (orderTags replays
    // the statement's item order across the per-side splits)
    val ordered: Seq[org.apache.spark.sql.Column] = {
      val l = outCol(0).toIndexedSeq
      val r = outCol(1).toIndexedSeq
      var (i, j) = (0, 0)
      sh.orderTags.map { t =>
        if (t == 0) { val c = l(i); i += 1; c }
        else { val c = r(j); j += 1; c }
      }
    }
    withStructs.select(col(streaming.Cdc.RowKind) +: ordered: _*)
  }

  /** Continuous `INSERT INTO sink SELECT k..., agg(...)... FROM a JOIN b
    * ON ... [WHERE ...] GROUP BY k... [HAVING ...]` over TWO changelog
    * relations — the composed topology the reference plans as
    * StreamExecJoin feeding StreamExecGroupAggregate
    * (FlinkChangelogModeInferenceProgram wires the join's retract
    * stream into GroupAggFunction.java:43): the TWS join port emits the
    * join's +I/-D delta stream, which re-keys on the GROUP BY columns
    * into the retraction-consuming TWS aggregate
    * ([[streaming.RetractAggTws]]), and the refreshed groups land in
    * the sink as an UPSERT changelog keyed by the GROUP BY outputs —
    * so keyed connector sinks (jdbc, upsert-kafka) work here, unlike
    * the raw join statement. HAVING evaluates over the refreshed
    * aggregate row ([[rewriteJoinHaving]]); a group leaving the HAVING
    * set emits a DELETE, exactly like [[streamAgg]]'s live predicate.
    *
    * Scale shape: two keyed exchanges per micro-batch (equi-key into
    * the join, group key into the aggregate — the same two shuffles
    * Flink's topology has), state access point-wise on both operators
    * (probe-pinned in their specs), emission O(touched groups). */
  def streamJoinAgg(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous aggregate over a two-changelog JOIN: $msg")
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamJoinAgg expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val sh = parseStreamJoinAggShape(spark, select)
    val joined = joinChangelogStream(spark, sh.join)
    val groupRefs = sh.groupItems.map(g => (joinAggRef(g._1, g._2), g._3))
    val aggRefs = sh.aggs.map(a =>
      (a, if (a.col.isEmpty) "" else joinAggRef(a.side, a.col)))
    val agged = loweredGroupAgg(spark, joined, groupRefs, aggRefs,
      sh.selectOrder, retractMode = false, bad)
    val havingPred = sh.having.map { h =>
      val sideName = (side: Int) =>
        if (side == 0)
          sh.join.left.alias.getOrElse(sh.join.left.rel.split('.').last)
        else sh.join.right.alias.getOrElse(sh.join.right.rel.split('.').last)
      val rewritten = rewriteAggHaving(spark, h, sh.aggs,
        sh.groupItems, sideName, bad)
      try expr(rewritten)
      catch { case e: Exception => bad(s"HAVING ($h) did not resolve " +
        s"against the aggregate outputs (rewritten: $rewritten): " +
        e.getMessage) }
    }
    startGroupAggUpsert(spark, sink, agged, havingPred,
      sh.groupItems.map(_._3), checkpointDir)
  }

  /** Shared tail of the upsert-emitting aggregate statements: HAVING as
    * the live predicate (a group leaving the set emits a DELETE), the
    * keyed upsert sink writer, and the pinned-provider start. */
  private def startGroupAggUpsert(spark: SparkSession, sink: String,
      agged: DataFrame, havingPred: Option[org.apache.spark.sql.Column],
      keys: Seq[String], checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val base = agged.withColumn("__live",
      col(streaming.Cdc.RowKind) =!= streaming.Cdc.Delete)
      .drop(streaming.Cdc.RowKind)
    val liveCol = havingPred match {
      case None => col("__live")
      case Some(p) => col("__live") && coalesce(p, lit(false))
    }
    val df = base.withColumn(LiveCol, coalesce(liveCol, lit(false)))
      .drop("__live")
    val write = upsertSinkWriter(spark, sink, keys, Seq.empty)
    graft.util.StartLock.locked {
      withRocksDbProvider(spark) {
        withStateSizing(spark) {
          withTrigger(spark, df.writeStream
            .outputMode("append") // TWS chain: refreshed-group delta rows
            .option("checkpointLocation", checkpointDir)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              val log = batch
                .withColumn(streaming.Cdc.RowKind,
                  when(col(LiveCol), streaming.Cdc.UpdateAfter)
                    .otherwise(streaming.Cdc.Delete))
                .drop(LiveCol)
                .withColumn(SeqCol, lit(batchId))
              write(log, batchId)
            })
            .start()
        }
      }
    }
  }

  /** Does `select` aggregate ONE bare changelog relation with a
    * COUNT(DISTINCT ...) — the one aggregate the sign-algebra route
    * cannot express (Spark bans distinct aggregation on a streaming
    * DataFrame)? Such statements lower onto the TWS aggregate instead
    * (counted-value MapState per group — the same distinct-value data
    * view Flink's planner splits out). */
  private[graft] def streamRelAggDistinctMatches(
      spark: SparkSession, select: String): Boolean =
    parse(select).exists { c =>
      c.relation.trim match {
        case RelRe(n, _) if isChangelogRel(spark, n) =>
          """(?is)\bCOUNT\s*\(\s*DISTINCT\b""".r
            .findFirstIn(blank(c.selectList)).isDefined
        case _ => false
      }
    }

  /** Continuous aggregate over ONE changelog relation with
    * COUNT(DISTINCT) — the TWS-aggregate statement form (the
    * sign-algebra route's one inexpressible aggregate). Same sink
    * contract as [[streamInsert]]: upsert changelog keyed by the GROUP
    * BY outputs. */
  def streamRelAgg(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous aggregate over a changelog: $msg")
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamRelAgg expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val rsh = parseRelAggShape(spark, select)
    val src0 = retractStreamOf(spark, rsh.rel).alias(rsh.aliasName)
    val filtered = rsh.whereConjs.foldLeft(src0)((d, w) => d.filter(expr(w)))
    val agged = loweredGroupAgg(spark, filtered, rsh.groupItems,
      rsh.aggs.map(a => (a, a.col)), rsh.selectOrder,
      retractMode = false, bad)
    val havingPred = rsh.having.map { h =>
      val rewritten = rewriteAggHaving(spark, h, rsh.aggs,
        rsh.groupItems.map { case (c0, out) => (0, c0, out) },
        _ => rsh.aliasName, bad)
      try expr(rewritten)
      catch { case e: Exception => bad(s"HAVING ($h) did not resolve " +
        s"against the aggregate outputs (rewritten: $rewritten): " +
        e.getMessage) }
    }
    startGroupAggUpsert(spark, sink, agged, havingPred,
      rsh.groupItems.map(_._2), checkpointDir)
  }

  /** Lower a group aggregate over an arbitrary RETRACT changelog stream
    * `src` (row_kind + payload columns) onto the TWS aggregate
    * processor; returns the aggregate's changelog — row_kind followed
    * by the outputs in select order. `retractMode` selects the emission
    * encoding (the reference's generateUpdateBefore flag): false = one
    * +U/-D refreshed row per touched group (what an upsert sink
    * consumes), true = exact +I/-U/+U/-D pairs (what a DOWNSTREAM
    * retraction-consuming operator — the composed top-N — requires).
    * Shared by [[streamJoinAgg]] and [[streamTopNAgg]]. */
  private def loweredGroupAgg(spark: SparkSession, src: DataFrame,
      groupRefs: Seq[(String, String)], // (src column, output name)
      aggRefs: Seq[(JoinAggCall, String)], // (call, src column; "" = COUNT(*))
      selectOrder: Seq[Either[Int, Int]],
      retractMode: Boolean, bad: String => Nothing): DataFrame = {
    import org.apache.spark.sql.types._
    graft.functions.GraftFunctions.register(spark) // graft_sort_key
    val schema = src.schema
    def typeOf(c: String): DataType = schema(c).dataType
    // runtime aggregate kind + output type from the SQL function and
    // the argument's type (the planner's type derivation)
    val kinds: Seq[(String, DataType)] = aggRefs.map { case (a, rc) =>
      if (rc.isEmpty) ("count_star", LongType)
      else {
        val dt = typeOf(rc)
        a.fn match {
          case "COUNT" =>
            (if (a.distinct) "count_distinct" else "count", LongType)
          case "SUM" => dt match {
            case ByteType | ShortType | IntegerType | LongType =>
              ("sum_long", LongType)
            case d: DecimalType => ("sum_dec", DecimalType(38, d.scale))
            case FloatType | DoubleType => ("sum_double", DoubleType)
            case o => bad(s"SUM(${a.col}): no sum over ${o.simpleString}")
          }
          case "AVG" => dt match {
            case ByteType | ShortType | IntegerType | LongType =>
              ("avg_long", DoubleType)
            case _: DecimalType => ("avg_dec", DoubleType)
            case FloatType | DoubleType => ("avg_double", DoubleType)
            case o => bad(s"AVG(${a.col}): no average over ${o.simpleString}")
          }
          case "MIN" | "MAX" => (a.fn.toLowerCase, dt)
        }
      }
    }
    // MIN/MAX ride the state boundary twice: a RAW rendering (the
    // output value — base64 for binary, plain cast otherwise) and a
    // memcmp-ASC sort-key FIELD encoding (the ordering the counted
    // value map and the cached extreme compare by). Date/time/timestamp
    // pre-lower to exact integers like the top-N route.
    def rawCol(rc: String): org.apache.spark.sql.Column =
      if (rc.isEmpty) lit(null).cast("string")
      else typeOf(rc) match {
        case BinaryType => base64(col(rc))
        case _ => col(rc).cast("string")
      }
    val sortSrc = (i: Int) => s"__ga_sk_$i"
    val prepped = aggRefs.zipWithIndex.foldLeft(src) {
      case (d, ((a, rc), i)) if a.fn == "MIN" || a.fn == "MAX" =>
        val c0 = col(rc)
        val pre = typeOf(rc) match {
          case TimestampType => unix_micros(c0)
          case DateType => unix_date(c0)
          case _: TimeType => c0.cast("decimal(18,9)")
          case BooleanType | BinaryType | StringType => c0
          case _: NumericType => c0
          case other => bad(s"${a.fn}(${a.col}): type ${other.simpleString} " +
            "has no order-preserving sort-key encoding")
        }
        d.withColumn(sortSrc(i), pre)
      case (d, _) => d
    }
    def sortCol(a: JoinAggCall, i: Int): org.apache.spark.sql.Column =
      if (a.fn == "MIN" || a.fn == "MAX") {
        val label = s"${a.fn}(${a.col})".replace("'", "''")
        when(col(sortSrc(i)).isNotNull,
          expr(s"graft_sort_key(`${sortSrc(i)}`, '$label', true)"))
      } else lit(null).cast("string")
    val sign = when(col(streaming.Cdc.RowKind)
      .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), lit(1))
      .otherwise(lit(-1))
    val keyCol =
      if (groupRefs.isEmpty) lit("")
      else to_json(struct(groupRefs.zipWithIndex.map {
        case ((rc, _), i) => col(rc).as(s"g$i")
      }: _*))
    val aggInput = prepped.select(keyCol.as("_1"), sign.as("_2"),
      array(aggRefs.map(ar => rawCol(ar._2)): _*).as("_3"),
      array(aggRefs.zipWithIndex.map { case ((a, _), i) => sortCol(a, i) }: _*)
        .as("_4"))
      .as(org.apache.spark.sql.Encoders.product[
        (String, Int, Seq[Option[String]], Seq[Option[String]])])
    val aggOut = streaming.RetractAggTws.groupAggChangelog(aggInput,
        kinds.map(k => streaming.RetractAggTws.AggSpec(k._1)),
        emitRetracts = retractMode)
      .toDF("__gk", "__kind", "__vals")
    val keySchema = StructType(groupRefs.zipWithIndex.map {
      case ((rc, _), i) => StructField(s"g$i", typeOf(rc), nullable = true)
    })
    val withKey =
      if (groupRefs.isEmpty) aggOut
      else aggOut.withColumn("__gr", from_json(col("__gk"), keySchema))
    // outputs in the user's select-list order: grouped columns decode
    // from the state key, aggregates re-type from their renderings
    val ordered = selectOrder.map {
      case Left(gi) =>
        col(s"__gr.g$gi").as(groupRefs(gi)._2)
      case Right(ai) =>
        val raw = element_at(col("__vals"), ai + 1)
        (kinds(ai)._2 match {
          case BinaryType => unbase64(raw)
          case t => raw.cast(t)
        }).as(aggRefs(ai)._1.out)
    }
    withKey.select(col("__kind").as(streaming.Cdc.RowKind) +: ordered: _*)
  }

  // ---- composed top-N over an aggregate (StreamExecGroupAggregate ->
  //      StreamExecRank) ----------------------------------------------

  /** The composed top-N's INNER aggregate over ONE changelog relation.
    * (The STANDALONE single-relation aggregate statement keeps the
    * richer sign-algebra route — UDAs, static join sides; this parser
    * covers the TWS-lowerable COUNT/SUM/AVG/MIN/MAX shape the composed
    * topology needs, because only the TWS aggregate can emit the
    * retract pairs a downstream rank consumes in append mode.) */
  private case class RelAggShape(rel: String, aliasName: String,
      groupItems: Seq[(String, String)],   // (col, out)
      aggs: Seq[JoinAggCall],
      selectOrder: Seq[Either[Int, Int]],
      having: Option[String], whereConjs: Seq[String])

  private def parseRelAggShape(
      spark: SparkSession, select: String): RelAggShape = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous aggregate over a changelog: $msg")
    val c = parse(select).getOrElse(
      bad(s"unparseable inner statement: $select"))
    val (rel, alias) = c.relation.trim match {
      case RelRe(n, a) if isChangelogRel(spark, n) => (n, Option(a))
      case other => bad("the inner FROM must be ONE changelog relation " +
        s"or a two-changelog JOIN, got: $other")
    }
    def encodingCol(n: String) =
      n == streaming.Cdc.RowKind || n == "cdc_ts" || n == SeqCol
    val all = blank(c.selectList) + " " +
      c.where.map(blank).getOrElse("") + " " +
      c.groupBy.map(blank).getOrElse("") + " " +
      c.having.map(blank).getOrElse("")
    Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol).foreach(m =>
      if (("(?i)\\b" + java.util.regex.Pattern.quote(m) + "\\b").r
          .findFirstIn(all).isDefined)
        bad(s"the statement references encoding column $m — the " +
          "aggregate consumes the encodings"))
    val relName = alias.getOrElse(rel.split('.').last)
    val cols = relationColumns(spark, rel).getOrElse(
      bad(s"cannot resolve $rel")).filterNot(encodingCol)
    def canon(n: String): String = cols.find(_.equalsIgnoreCase(n))
      .getOrElse(bad(s"column $n not found on $rel"))
    def resolve(ref0: String): (Int, String) = {
      val ref = ref0.trim.replace("`", "")
      ref.split('.') match {
        case Array(q, n) if q.equalsIgnoreCase(relName) => (0, canon(n))
        case Array(q, _) => bad(s"unknown qualifier '$q' in $ref")
        case Array(n) => (0, canon(n))
        case _ => bad(s"cannot resolve column reference: $ref0")
      }
    }
    val (g3, aggs, order) = parseAggSelect(c, resolve, bad)
    RelAggShape(rel, relName, g3.map(g => (g._2, g._3)), aggs, order,
      c.having,
      c.where.map(graft.util.SqlSplit.splitTopLevelAnd(_)).getOrElse(Nil))
  }

  private val TopNAsFromParenRe =
    """(?is)^\s*AS\s+`?(\w+)`?\s+FROM\s*\(""".r
  private val TopNAfterInnerRe =
    ("""(?is)^(?:\s+(?:AS\s+)?(\w+))?\s*\)\s+WHERE\s+""" +
      """`?[\w.]*?(\w+)`?\s*(<=|<)\s*(\d+)\s*$""").r

  /** Parse the composed statement `SELECT ... FROM (SELECT *,
    * ROW_NUMBER() OVER (...) AS rn FROM ( <inner aggregate> ) [x] )
    * WHERE rn <= N` — the reference's rank-over-aggregate plan shape.
    * Returns the top-N shape (partition/order/outer columns reference
    * the INNER aggregate's OUTPUTS; rel is a marker label) and the
    * inner select text. */
  private def parseStreamTopNOverAgg(
      spark: SparkSession, select: String): Option[(TopNShape, String)] = {
    val stmt = select.trim.replaceAll(";\\s*$", "")
    val b = blank(stmt)
    val om = """(?is)ROW_NUMBER\s*\(\s*\)\s*OVER\s*\(""".r
      .findFirstMatchIn(b).getOrElse(return None)
    val open = om.end - 1
    val close = scala.util.Try(matchParen(b, open)).getOrElse(return None)
    val head = b.substring(0, om.end)
    val specB = b.substring(open + 1, close)
    val spec = stmt.substring(open + 1, close)
    val am = TopNAsFromParenRe.findFirstMatchIn(b.substring(close + 1))
      .getOrElse(return None)
    val rn = am.group(1)
    val innerOpen = close + 1 + am.end - 1
    val innerClose = scala.util.Try(matchParen(b, innerOpen))
      .getOrElse(return None)
    val inner = stmt.substring(innerOpen + 1, innerClose)
    if ("""(?is)^\s*SELECT\b""".r.findFirstIn(blank(inner)).isEmpty)
      return None
    // the inner must reference a changelog relation somewhere down its
    // nesting — else this is a batch/windowed subquery shape some
    // other route owns
    if (!refsChangelogDeep(spark, inner)) return None
    val after = b.substring(innerClose + 1)
    val tm = TopNAfterInnerRe.findFirstMatchIn(after).getOrElse(return None)
    val (aliasOpt, rnRef, op, nStr) = (Option(tm.group(1)), tm.group(2),
      tm.group(3), tm.group(4))
    def bare(s0: String): String = {
      val t = s0.trim.replace("`", "")
      aliasOpt.filter(a => t.toLowerCase.startsWith(a.toLowerCase + "."))
        .map(a => t.drop(a.length + 1)).getOrElse(t)
    }
    if (bare(rnRef) != rn) return None
    val outer = head match {
      case TopNHeadRe(o) => o
      case _ => return None
    }
    val outerCols = graft.util.SqlSplit.splitTopLevel(outer).map(bare)
    val (partCols, items) =
      topNSpecItems(spec, specB, bare).getOrElse(return None)
    if (!(outerCols ++ partCols).forall(_.matches("""\w+"""))) return None
    val n0 = nStr.toInt
    val n = if (op == "<") n0 - 1 else n0
    if (n < 1) return None
    Some((TopNShape(outerCols, partCols, items, rn, "<inner aggregate>", n),
      inner))
  }

  private[graft] def streamTopNAggMatches(
      spark: SparkSession, select: String): Boolean =
    parseStreamTopNOverAgg(spark, select).isDefined

  /** Continuous top-N OVER an aggregate in ONE statement — the
    * reference's StreamExecGroupAggregate -> StreamExecRank chain:
    * the inner aggregate (ONE changelog relation, or a TWO-changelog
    * JOIN) lowers in RETRACT emission mode (+I/-U/+U/-D pairs — the
    * generateUpdateBefore flag Flink sets when a rank consumes an
    * aggregate), an inner HAVING filters the pair stream STATELESSLY
    * (a deterministic predicate commutes with a retract changelog:
    * set entry nets to an insert, set exit to a delete), and the
    * sorted top-N port ranks the aggregate's output rows. With a
    * joined inner this is FOUR chained stateful operators in one
    * query: ChangelogNormalize -> join -> aggregate -> rank. The
    * FastTop1 route never applies here (the inner's output is not a
    * DECLARED-monotone upsert table), so the rank strategy is always
    * RetractStrategy. */
  def streamTopNAgg(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous top-N over an aggregate: $msg")
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamTopNAgg expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val (shape, inner) = parseStreamTopNOverAgg(spark, select).getOrElse(
      bad(s"not a top-N-over-aggregate statement: $select"))
    val src = innerAggRetractStream(spark, inner, bad)
    streamTopNLowered(spark, sink, shape, src, fast = false, checkpointDir)
  }

  /** One aggregate LEVEL over an already-lowered retract stream,
    * emitting RETRACT pairs — the recursion step behind arbitrary-depth
    * aggregation trees: resolve this level's select/GROUP BY against
    * the deeper stream's output columns, push this level's WHERE onto
    * the pair stream (stateless — a deterministic predicate commutes
    * with a retract changelog), aggregate in retract-pair mode, filter
    * by HAVING the same stateless way. */
  private def aggLevelRetract(spark: SparkSession, c: Clauses,
      src: DataFrame, aliasOpt: Option[String],
      bad: String => Nothing): DataFrame = {
    val aliasName = aliasOpt.getOrElse("")
    val cols = src.columns.toSeq.filterNot(_ == streaming.Cdc.RowKind)
    def canon(n: String): String = cols.find(_.equalsIgnoreCase(n))
      .getOrElse(bad(s"column $n is not an output of the inner " +
        s"aggregate (outputs: ${cols.mkString(", ")})"))
    def resolve(ref0: String): (Int, String) = {
      val ref = ref0.trim.replace("`", "")
      ref.split('.') match {
        case Array(q, n) if q.equalsIgnoreCase(aliasName) => (0, canon(n))
        case Array(q, _) => bad(s"unknown qualifier '$q' in $ref")
        case Array(n) => (0, canon(n))
        case _ => bad(s"cannot resolve column reference: $ref0")
      }
    }
    val (g3, aggs, order) = parseAggSelect(c, resolve, bad)
    val aliased = if (aliasName.isEmpty) src else src.alias(aliasName)
    val filtered = c.where.map(graft.util.SqlSplit.splitTopLevelAnd(_))
      .getOrElse(Nil).foldLeft(aliased)((d, w) =>
        d.filter(coalesce(expr(w), lit(false))))
    val agged = loweredGroupAgg(spark, filtered,
      g3.map(g => (g._2, g._3)), aggs.map(a => (a, a.col)), order,
      retractMode = true, bad)
    applyInnerHaving(spark, agged, c.having, aggs, g3,
      _ => if (aliasName.isEmpty) "__none__" else aliasName, bad)
  }

  /** Lower the composed statement's inner subquery to its RETRACT
    * changelog stream (row_kind + output columns): an aggregate (bare
    * relation, two-changelog join, or — RECURSIVELY — another
    * aggregate subquery) in retract-pair emission, or a PLAIN
    * two-changelog join projection (the rank-over-join plan —
    * StreamExecJoin feeding StreamExecRank directly; the join's +I/-D
    * delta stream IS a retract changelog already). The recursion gives
    * arbitrary-depth aggregation trees: every level consumes the
    * deeper level's pairs and emits its own. */
  private def innerAggRetractStream(spark: SparkSession, inner: String,
      bad: String => Nothing): DataFrame = {
    val innerClauses = parse(inner)
    innerClauses.flatMap(ic => parenSubquery(ic.relation).map((ic, _)))
      .foreach { case (ic, (deeper, aliasOpt)) =>
        if (!(ic.groupBy.isDefined || joinSelectHasAgg(spark, ic))) bad(
          "a nested subquery level must aggregate (plain projections " +
            "fold into the level above); got: " + ic.selectList)
        return aggLevelRetract(spark, ic,
          innerAggRetractStream(spark, deeper, bad), aliasOpt, bad)
      }
    val twoChangelogs = innerClauses.exists(ic =>
      parseJoinChain(ic.relation).exists(
        _.count(r => isChangelogRel(spark, r.name)) >= 2))
    if (twoChangelogs && innerClauses.exists(ic =>
        ic.groupBy.isEmpty && ic.having.isEmpty &&
          !joinSelectHasAgg(spark, ic))) {
      // rank over a PLAIN join: no aggregate stage — the join port's
      // delta stream feeds the rank state directly
      return joinChangelogStream(spark, parseStreamJoinShape(spark, inner))
    }
    if (twoChangelogs) {
      val jsh = parseStreamJoinAggShape(spark, inner)
      val joined = joinChangelogStream(spark, jsh.join)
      val groupRefs = jsh.groupItems.map(g => (joinAggRef(g._1, g._2), g._3))
      val aggRefs = jsh.aggs.map(a =>
        (a, if (a.col.isEmpty) "" else joinAggRef(a.side, a.col)))
      val agged = loweredGroupAgg(spark, joined, groupRefs, aggRefs,
        jsh.selectOrder, retractMode = true, bad)
      applyInnerHaving(spark, agged, jsh.having, jsh.aggs, jsh.groupItems,
        side => if (side == 0)
          jsh.join.left.alias.getOrElse(jsh.join.left.rel.split('.').last)
        else jsh.join.right.alias.getOrElse(
          jsh.join.right.rel.split('.').last),
        bad)
    } else {
      val rsh = parseRelAggShape(spark, inner)
      val src0 = retractStreamOf(spark, rsh.rel).alias(rsh.aliasName)
      // single-relation WHERE pushes BELOW the aggregate (a
      // deterministic payload predicate commutes with the changelog)
      val filtered = rsh.whereConjs.foldLeft(src0)((d, w) => d.filter(expr(w)))
      val aggRefs = rsh.aggs.map(a => (a, a.col))
      val agged = loweredGroupAgg(spark, filtered, rsh.groupItems, aggRefs,
        rsh.selectOrder, retractMode = true, bad)
      applyInnerHaving(spark, agged, rsh.having, rsh.aggs,
        rsh.groupItems.map { case (c0, out) => (0, c0, out) },
        _ => rsh.aliasName, bad)
    }
  }

  /** An inner HAVING filters the aggregate's RETRACT pair stream
    * statelessly: a -U/-D passes iff the row it retracts passed — the
    * predicate evaluates on the pair's own values, so set entry nets
    * to an insert and set exit to a delete with no extra state. */
  private def applyInnerHaving(spark: SparkSession, agged: DataFrame,
      having: Option[String], aggs: Seq[JoinAggCall],
      groupItems: Seq[(Int, String, String)], qual: Int => String,
      bad: String => Nothing): DataFrame =
    having match {
      case None => agged
      case Some(h) =>
        val rewritten = rewriteAggHaving(spark, h, aggs, groupItems, qual, bad)
        val pred =
          try expr(rewritten)
          catch { case e: Exception => bad(s"HAVING ($h) did not resolve " +
            s"against the aggregate outputs (rewritten: $rewritten): " +
            e.getMessage) }
        agged.filter(coalesce(pred, lit(false)))
    }

  /** Extract a parenthesized FROM-subquery: `( <inner> ) [alias]`.
    * Returns (inner text, alias or None). */
  private def parenSubquery(fromText: String): Option[(String, Option[String])] = {
    val t = fromText.trim
    if (!t.startsWith("(")) return None
    val b = blank(t)
    val close = scala.util.Try(matchParen(b, 0)).getOrElse(return None)
    val inner = t.substring(1, close)
    val rest = t.substring(close + 1).trim
    val alias =
      if (rest.isEmpty) None
      else """(?is)^(?:AS\s+)?`?(\w+)`?$""".r.findFirstMatchIn(rest)
        .map(_.group(1)).orElse(return None)
    Some((inner, alias))
  }

  /** Does this SELECT read a changelog relation anywhere down its
    * FROM-subquery nesting? (The dispatch test for composed shapes —
    * depth-recursive so a rollup-of-a-rollup still routes here.) */
  private def refsChangelogDeep(spark: SparkSession, sel: String): Boolean =
    parse(sel).exists { ic =>
      parseJoinChain(ic.relation).map(_.map(_.name))
        .getOrElse(ic.relation.trim match {
          case RelRe(n, _) => Seq(n)
          case _ => Seq.empty
        }).exists(isChangelogRel(spark, _)) ||
      parenSubquery(ic.relation).exists { case (deeper, _) =>
        refsChangelogDeep(spark, deeper)
      }
    }

  /** Does `select` AGGREGATE a parenthesized subquery that is itself a
    * continuous aggregate (or join) over changelogs — the rollup shape
    * [[streamNestedAgg]] owns (any nesting depth)? */
  private[graft] def streamNestedAggMatches(
      spark: SparkSession, select: String): Boolean =
    parse(select).exists { c =>
      (c.groupBy.isDefined || joinSelectHasAgg(spark, c)) &&
      parenSubquery(c.relation).exists { case (inner, _) =>
        refsChangelogDeep(spark, inner)
      }
    }

  /** Two-level continuous aggregation in ONE statement —
    * `SELECT k2, agg(...) FROM ( SELECT k1, k2, agg(...) FROM
    * <changelog(s)> GROUP BY k1, k2 ) GROUP BY k2` — the reference
    * plans this as StreamExecGroupAggregate feeding a SECOND
    * StreamExecGroupAggregate, the inner emitting UPDATE_BEFORE/AFTER
    * pairs (generateUpdateBefore). Here: the inner aggregate (bare
    * relation, join, or plain join projection) lowers in RETRACT pair
    * emission through [[innerAggRetractStream]], an outer WHERE
    * filters the pair stream statelessly, and the OUTER aggregate
    * consumes the pairs through the same TWS processor in upsert mode
    * — refreshed groups keyed by the outer GROUP BY land in the sink. */
  def streamNestedAgg(spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous aggregate over an aggregate: $msg")
    val (sink, select) = statement match {
      case StreamInsertRe(s, sel) => (s, sel)
      case other => throw new IllegalArgumentException(
        s"streamNestedAgg expects INSERT INTO <table> SELECT ..., got: $other")
    }
    val c = parse(select).getOrElse(bad(s"unparseable statement: $select"))
    val (inner, aliasOpt) = parenSubquery(c.relation).getOrElse(
      bad(s"FROM must be a parenthesized aggregate subquery, got: ${c.relation}"))
    val innerDf = innerAggRetractStream(spark, inner, bad)
    val aliasName = aliasOpt.getOrElse("")
    val cols = innerDf.columns.toSeq.filterNot(_ == streaming.Cdc.RowKind)
    def canon(n: String): String = cols.find(_.equalsIgnoreCase(n))
      .getOrElse(bad(s"column $n is not an output of the inner aggregate " +
        s"(outputs: ${cols.mkString(", ")})"))
    def resolve(ref0: String): (Int, String) = {
      val ref = ref0.trim.replace("`", "")
      ref.split('.') match {
        case Array(q, n) if q.equalsIgnoreCase(aliasName) => (0, canon(n))
        case Array(q, _) => bad(s"unknown qualifier '$q' in $ref")
        case Array(n) => (0, canon(n))
        case _ => bad(s"cannot resolve column reference: $ref0")
      }
    }
    val (g3, aggs, order) = parseAggSelect(c, resolve, bad)
    // outer WHERE: a deterministic predicate over the inner's outputs
    // commutes with the retract pair stream — stateless filter
    val aliased =
      if (aliasName.isEmpty) innerDf else innerDf.alias(aliasName)
    val filtered = c.where.map(graft.util.SqlSplit.splitTopLevelAnd(_))
      .getOrElse(Nil).foldLeft(aliased)((d, w) =>
        d.filter(coalesce(expr(w), lit(false))))
    val agged = loweredGroupAgg(spark, filtered,
      g3.map(g => (g._2, g._3)), aggs.map(a => (a, a.col)), order,
      retractMode = false, bad)
    val havingPred = c.having.map { h =>
      val rewritten = rewriteAggHaving(spark, h, aggs, g3,
        _ => if (aliasName.isEmpty) "__none__" else aliasName, bad)
      try expr(rewritten)
      catch { case e: Exception => bad(s"HAVING ($h) did not resolve " +
        s"against the aggregate outputs (rewritten: $rewritten): " +
        e.getMessage) }
    }
    startGroupAggUpsert(spark, sink, agged, havingPred,
      g3.map(_._3), checkpointDir)
  }

  /** The route line EXPLAIN CHANGELOG_MODE prints for a composed
    * top-N-over-aggregate statement. */
  private[graft] def streamTopNAggExplainText(
      spark: SparkSession, select: String): String = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(
      s"continuous top-N over an aggregate: $msg")
    val (shape, inner) = parseStreamTopNOverAgg(spark, select).getOrElse(
      bad(s"not a top-N-over-aggregate statement: $select"))
    val innerClauses = parse(inner)
    val twoChangelogs = innerClauses.exists(ic =>
      parseJoinChain(ic.relation).exists(
        _.count(r => isChangelogRel(spark, r.name)) >= 2))
    val plainJoin = twoChangelogs && innerClauses.exists(ic =>
      ic.groupBy.isEmpty && ic.having.isEmpty && !joinSelectHasAgg(spark, ic))
    val nestedInner = innerClauses.exists(ic =>
      parenSubquery(ic.relation).isDefined)
    val innerLine =
      if (nestedInner)
        "nested continuous aggregation tree (one GROUP AGGREGATE per " +
          "level, each in RETRACT pair emission)"
      else if (plainJoin)
        joinExplainCore(spark, parseStreamJoinShape(spark, inner)) +
          " [retract +I/-D emission]"
      else if (twoChangelogs)
        streamJoinAggExplainText(spark, inner).stripSuffix(
          " -> upsert changelog keyed by the GROUP BY columns") +
          " [RETRACT pair emission]"
      else {
        val rsh = parseRelAggShape(spark, inner)
        "retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
          s"transformWithState) over ${rsh.rel} — group key: (" +
          rsh.groupItems.map(_._2).mkString(", ") + "); aggregates: " +
          rsh.aggs.map(a => a.srcText + " AS " + a.out).mkString(", ") +
          rsh.having.map(h => s"; HAVING $h").getOrElse("") +
          " [RETRACT pair emission]"
      }
    innerLine + " -> continuous top-N, RetractStrategy " +
      "(RetractableTopNFunction: MapState dataState + sorted counts) " +
      s"over (${(shape.parts :+ shape.rnAlias).mkString(", ")}) " +
      "-> upsert changelog keyed by (partition columns, rank)"
  }

  /** Keep-last collapse of a [[streamInsert]] sink: the CURRENT
    * aggregate state per key (rows whose latest change is a -D are
    * gone) — what an external upsert sink's compacted view would show.
    * Keys default to the ones the stream recorded in TBLPROPERTIES. */
  def materializeUpsertSink(spark: SparkSession, sink: String,
      keys: Seq[String] = Seq.empty): DataFrame = {
    val ks =
      if (keys.nonEmpty) keys
      else scala.util.Try {
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(sink))
          .properties.get("graft.upsert.keys")
      }.toOption.flatten.map(_.split(",").toSeq).getOrElse(Seq.empty)
    // the stream's foreachBatch appends through its micro-batch session
    // clone, so THIS session's cached file listing of the sink is stale
    // by exactly the batches committed since the last read
    spark.catalog.refreshTable(sink)
    streaming.Cdc.upsertMaterialize(
      spark.table(sink), ks, SeqCol, SeqCol, insertAfterDelete = false)
      .drop(SeqCol, streaming.Cdc.RowKind)
  }
}
