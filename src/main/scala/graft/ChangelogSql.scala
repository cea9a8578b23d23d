package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving,
  UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Descending,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan,
  LessThanOrEqual, Literal, NullsFirst, SortOrder, SubqueryExpression,
  UnspecifiedFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner,
  LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command,
  Distinct, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Offset,
  ParsedStatement, Project, Sort, SubqueryAlias, UnresolvedHint}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.catalyst.util.quoteIdentifier
import org.apache.spark.sql.types.IntegerType

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
  * ONE READING: [[sql]] and [[explainChangelog]] parse the statement
  * ONCE with Spark's SQL parser and decide on that parsed (never
  * analyzed) plan, like the continuous [[route]] below: a SELECT is a
  * [[Block]] (select list, WHERE, GROUP BY, HAVING, DISTINCT, ORDER BY,
  * LIMIT) over a FROM chain ([[chainOf]]), its calls are the parsed
  * function nodes, and the relations it reads are the plan's census
  * ([[relationsOf]]: every relation named anywhere, subqueries and CTE
  * bodies included) — normalization, the composite guard and EXPLAIN's
  * mode lines all read that census. The rewrites splice each call's
  * replacement at its parsed position in the statement's own text. A
  * statement Spark's parser rejects reads no changelog here and falls
  * through.
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
  * property — the encoding the continuous routes write to their sinks and
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
  *
  * CONTINUOUS: `INSERT INTO sink SELECT …` over changelogs
  * (Engine.sqlStreamInsert) is the streaming form. [[route]] parses the
  * body ONCE with Spark's SQL parser and matches that parsed (never
  * analyzed) LogicalPlan — Project/Aggregate/Filter/Join/SubqueryAlias
  * over UnresolvedRelations, the relational plan Flink's changelog
  * inference also decides on — into its [[Route]]: top-N over a
  * subquery, top-N, aggregate over an aggregate, COUNT(DISTINCT)
  * aggregate, sign-algebra aggregate, aggregate over a join, join;
  * first match wins. WHERE, HAVING and computed ORDER BY items reach
  * the lowerings as the statement's own text, sliced by each parsed
  * node's position ([[Sliced]]). [[start]] lowers the route: every
  * aggregate level through [[aggLevel]], every query through
  * [[startStream]]. EXPLAIN CHANGELOG_MODE over the INSERT prints
  * [[Route.line]].
  */
object ChangelogSql {

  private val counter = new AtomicInteger(0)

  private def blank(s: String) = graft.util.SqlSplit.blankLiterals(s)

  /** An IllegalArgumentException thrower whose message names `what`. */
  private def failWith(what: String): String => Nothing =
    msg => throw new IllegalArgumentException(s"$what: $msg")

  private val Supported = Set("COUNT", "SUM", "AVG", "MIN", "MAX")

  /** Registered retractable UDA for `fn`, if any. */
  private def retractableUda(
      fn: String): Option[streaming.StatefulOps.RetractableOverAgg] =
    StreamOverSql.customAgg(fn).collect {
      case r: streaming.StatefulOps.RetractableOverAgg => r
    }

  /** Has `fn` a retraction-consuming rewrite ([[rewriteWith]])? */
  private def rewritable(fn: String): Boolean =
    Supported(fn) || retractableUda(fn).isDefined

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

  /** ALLOWLIST check over the aggregate-carrying expressions: every call
    * must be a supported aggregate, a registered retractable UDA, or a
    * registry-classified non-aggregate. Returns the UDA names in use. */
  private def checkAllowlist(
      spark: SparkSession, rel: String, es: Seq[Expression]): Seq[String] = {
    val names = calls(es)
    names.foreach { n =>
      if (!Supported(n)) {
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
    names.filter(n => retractableUda(n).isDefined)
  }

  /** `s` with every supported-aggregate / retractable-UDA call rewritten
    * into its retraction-consuming form, spliced at the call's parsed
    * position (a FILTER clause after the call stays). `weight` is
    * `__net` (live multiset, netting path) or `__sign` (±1 per change
    * row, the SINGLE-EXCHANGE path: COUNT/SUM/AVG and retractable UDAs
    * distribute over the change signs — Σ over live rows == Σ x·sign
    * over change rows — so no netting shuffle is needed; MIN/MAX
    * callers never reach the sign path) — or a PRODUCT of per-side
    * weights for multi-changelog joins (Σ over live pairs == Σ
    * f·s₁·s₂). `liveCond` is the MIN/MAX live filter matching the
    * weight (e.g. `__net > 0`, or a conjunction over the sides);
    * None = sign path, where MIN/MAX must not appear. */
  private def rewriteWith(s: Sliced, weight: String, grouped: Boolean,
      streamMinMax: Boolean = false,
      liveCond: Option[String] = None): String = {
    def subst(e: Expression): Seq[((Int, Int), String)] = e match {
      case f: UnresolvedFunction if rewritable(f.nameParts.last.toUpperCase) =>
        val fn = f.nameParts.last.toUpperCase
        val text = f.origin.sqlText.get
        val open = text.indexOf('(', span(f)._1)
        val close = graft.util.SqlSplit.matchParenOrFail(text, open)
        val arg = text.substring(open + 1, close).trim
        require(!f.isDistinct,
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
        Seq((span(f)._1, close) -> repl)
      case other => other.children.flatMap(subst)
    }
    splice(s, subst(s.e))
  }

  /** `s`'s text with each statement range [start, stop] replaced. */
  private def splice(s: Sliced, edits: Seq[((Int, Int), String)]): String =
    edits.sortBy(-_._1._1).foldLeft(s.sql) { case (t, ((a, z), r)) =>
      t.substring(0, a - s.at) + r + t.substring(z - s.at + 1)
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

  /** The relation's declared UPSERT key columns, when it is an
    * UPSERT-mode changelog (row_kind ∈ {+U, -D}, keyed — the encoding
    * the continuous routes write and Flink's upsert-kafka tables carry).
    * Mode is declared where Flink declares it — on the TABLE: the
    * `graft.upsert.keys` catalog property (the upsert sink writer
    * records it on plain sinks automatically). Resolution is BASE-AWARE:
    * a DDL-declared connector table persists its properties on `__<rel>_base` (the
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
    * key (`graft.monotone.cols` — recorded by the sign-algebra route on
    * its sink when the aggregate provably preserves monotonicity:
    * COUNT/MAX items over an insert-only input with no HAVING). The reference
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
      spark: SparkSession, plan: LogicalPlan): Seq[(String, Option[DataFrame])] = {
    if (readsEncoding(plan)) return Nil
    relationsOf(plan).flatMap { rel =>
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
    * [+U,-D] with its key. The relations are the parsed statement's
    * census ([[relationsOf]]); a statement Spark's parser rejects lists
    * none. */
  def explainChangelog(spark: SparkSession, stmt: String): DataFrame = {
    import spark.implicits._
    val parsedPlan = parsed(spark, stmt)
    val rels = parsedPlan.toSeq.flatMap(relationsOf)
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
    val upsertRels = rels.filter(r => upsertOf(r).isDefined)
    val retractRels = rels.filter(r =>
      upsertOf(r).isEmpty && isChangelogRel(spark, r))
    val route: Seq[String] =
      if (upsertRels.isEmpty && retractRels.isEmpty) Nil
      else if (parsedPlan.exists(readsEncoding(_)))
        Seq("  route: RAW changelog read (encoding columns referenced) — " +
          "no rewrite")
      else {
        val norm =
          if (upsertRels.isEmpty) Nil
          else Seq("  route: ChangelogNormalize (keep-last per key) " +
            s"applied to: ${upsertRels.mkString(", ")}")
        norm ++ Option.when(retractRels.nonEmpty)(
          "  route: " + loweringLine(spark, parsedPlan.get))
      }
    val plan = scala.util.Try(
      Engine.sql(spark, stmt).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("simple")))
      .getOrElse("<statement does not lower to a single batch plan>")
    Seq("== Changelog Modes ==\n" + (modeLines ++ route).mkString("\n") +
      "\n\n== Physical Plan ==\n" + plan).toDF("plan")
  }

  /** The lowering [[sqlInner]] picks for statement `plan`, which reads
    * a retract changelog: a join chain reports the per-side weight
    * columns [[lowerJoin]] binds (by its ordinal naming) and their
    * admissibility. */
  private def loweringLine(spark: SparkSession, plan: LogicalPlan): String =
    shapeOf(plan) match {
      case Some((b, chain)) if chain.size > 1 =>
        if (!aggregating(b)) "raw changelog join read — no rewrite"
        else {
          val clIdxs = changelogsIn(spark, chain)
          val net = needsNet(b)
          val wName = (j: Int) => if (net) s"__net_$j" else s"__sign_$j"
          paddedJoin(chain, clIdxs) match {
            case Some((r, _)) =>
              "INADMISSIBLE join shape — changelog on the padded side of a " +
                s"${r.joinType.getOrElse("?")} JOIN (the statement will " +
                "reject loudly)"
            case None =>
              "changelog join lowering — per-side weight columns: " +
                clIdxs.zipWithIndex.map { case (idx, j) =>
                  s"${chain(idx).name} -> ${wName(j)}"
                }.mkString(", ") + "; joint weight = " +
                clIdxs.indices.map(wName).mkString(" * ") + (if (net)
                  " (netted multiplicities; live = all nets > 0)"
                else " (±1 sign products, zero extra exchange)")
          }
        }
      case Some((b, _)) =>
        if (!aggregating(b)) "raw changelog projection — no rewrite"
        else if (needsNet(b))
          "retraction-consuming aggregate — NETTED live multiset (net<>0 " +
            "filter; MIN/MAX or DISTINCT need surviving rows)"
        else
          "retraction-consuming aggregate — single-exchange ±1 sign " +
            "algebra (COUNT/SUM/AVG distribute over change signs)"
      case None =>
        "composite statement — see this module's admissible-shape guards"
    }

  /** Lower `stmt` if it is a supported aggregate over a changelog
    * relation; None = not this entry's statement (plain fall-through).
    * The statement is parsed ONCE with Spark's parser; one that parser
    * rejects reads no changelog here. The changelog signal is the
    * RESOLVED schema of the relations the parsed plan names, never text.
    * Throws for aggregate statements that read a changelog in a shape
    * with no retraction-consuming rewrite (composite FROM, unsupported
    * or unclassifiable aggregate calls). UPSERT-mode relations (declared
    * `graft.upsert.keys`) are normalized FIRST (ChangelogNormalize) —
    * and since the normalized state is a plain relation, the statement
    * over it executes directly. */
  def sql(spark: SparkSession, stmt: String): Option[DataFrame] = {
    val plan = parsed(spark, stmt).getOrElse(return None)
    val shadows = normalizeUpsertRels(spark, plan)
    if (shadows.isEmpty) sqlInner(spark, plan)
    // with shadows active the statement must still execute THROUGH the
    // extended dispatch (WatermarkDdl owns INSERT-into-connector routing
    // and the healing CREATE path) — the shadow views stay bound for the
    // duration, so the normalized state is what resolves; a raw
    // spark.sql here would lose that routing (e.g. INSERT INTO
    // <connector table> SELECT ... FROM <upsert table> would try to
    // write the catalog view and fail)
    else try sqlInner(spark, plan).orElse(Some(WatermarkDdl.sql(spark, stmt)))
    finally shadows.foreach {
      case (name, Some(prior)) => prior.createOrReplaceTempView(name)
      case (name, None)        => spark.catalog.dropTempView(name): Unit
    }
  }

  /** The lowering of parsed statement `plan`: untouched when it reads
    * no changelog or names row_kind/cdc_ts (a deliberate raw changelog
    * read); a single changelog relation takes the two-stage rewrite, a
    * linear join chain [[lowerJoin]] (None from either = a raw read of
    * the FROM chain, rejected when an unlowered join aggregates), and
    * every other query reading a changelog rejects in the composite
    * guard. */
  private def sqlInner(spark: SparkSession, plan: LogicalPlan): Option[DataFrame] = {
    val changelogs = relationsOf(plan).filter(isChangelogRel(spark, _))
    if (changelogs.isEmpty ||
        readsEncoding(plan, Seq(streaming.Cdc.RowKind, "cdc_ts"))) return None
    def guarded = compositeGuard(spark, plan, changelogs)
    shapeOf(plan) match {
      // a changelog read in a subquery or a CTE
      case Some((b, _)) if readsChangelogOutside(spark, plan, b.from) => guarded
      case Some((b, Seq(r))) => lowerBare(spark, b, r.name, r.alias)
      case Some((b, chain)) => lowerJoin(spark, b, chain).orElse {
        rejectAggregate(spark, plan, changelogs); None
      }
      case None => plan match {
        case _: Command | _: ParsedStatement => None // not a query
        case _ => guarded
      }
    }
  }

  /** Does statement `p` read a changelog anywhere but as a relation of
    * its top-level FROM chain `from` (in a subquery expression or a CTE
    * body)? */
  private def readsChangelogOutside(spark: SparkSession, p: LogicalPlan,
      from: LogicalPlan): Boolean = {
    val chain = from.collect { case r: UnresolvedRelation => r }
    nodesOf(p).exists {
      case r: UnresolvedRelation => !chain.exists(_ eq r) &&
        isChangelogRel(spark, r.multipartIdentifier.mkString("."))
      case _ => false
    }
  }

  // ---- join chains: changelog ⋈ static relations ----------------------

  /** One relation of a linear join chain. `joinType` (INNER/CROSS/LEFT/
    * RIGHT/FULL) is the join CONNECTING this relation to the accumulated
    * left part — None for the first relation; `on` its ON text. */
  private[graft] case class ChainRel(name: String, alias: Option[String],
      joinType: Option[String], on: Option[String])

  /** The indexes of `chain`'s changelog relations. */
  private def changelogsIn(spark: SparkSession, chain: Seq[ChainRel]): Seq[Int] =
    chain.indices.filter(i => isChangelogRel(spark, chain(i).name))

  /** The first join of `chain` that puts a changelog (`clIdxs`) on a
    * null-padded side, and why it is inadmissible. One changelog joins
    * INNER/CROSS freely, LEFT only from the left (preserved) part and
    * RIGHT only as the right operand; several join INNER/CROSS only. */
  private def paddedJoin(chain: Seq[ChainRel],
      clIdxs: Seq[Int]): Option[(ChainRel, String)] =
    chain.zipWithIndex.drop(1).collectFirst(Function.unlift { case (r, i) =>
      r.joinType.get match {
        case "INNER" | "CROSS" => None
        case _ if clIdxs.size > 1 => Some(r -> ("multiple changelogs " +
          "compose with INNER/CROSS joins only (an outer join would need " +
          "padded-side retraction semantics)"))
        case "LEFT" if clIdxs.head < i => None
        case "RIGHT" if clIdxs.head == i => None
        case "FULL" => Some(r -> "FULL pads both sides")
        case t => Some(r -> s"the changelog must be on the $t-preserved side")
      }
    })

  /** Lower an aggregate over a join chain reading changelogs — Flink
    * propagates changelog mode through joins
    * (FlinkChangelogModeInferenceProgram; StreamingJoinOperator.java:36
    * consumes retractions): in batch the propagation is pure algebra. A
    * retraction carries its insert's payload and therefore joins to
    * exactly the same rows, so per-side ±1 signs (or netted
    * multiplicities) distribute through the join and the joint weight
    * is their PRODUCT — `Σ f over live tuples == Σ f · s₁·s₂·…` over
    * change-row tuples, the batch form of two retraction streams
    * meeting in StreamingJoinOperator. Admissible shapes: [[paddedJoin]].
    * A changelog on a PADDED side is rejected: its dead pairs would
    * still "match" the preserved side, so a fully-retracted key would
    * never null-pad — silent wrongness (FULL is both at once). Returns
    * None when the statement does not aggregate, or holds a window or a
    * subquery. */
  private def lowerJoin(spark: SparkSession, b: Block,
      chain: Seq[ChainRel]): Option[DataFrame] = {
    val clIdxs = changelogsIn(spark, chain)
    if (windowOrSubquery(b.exprs ++ b.order)) return None
    val udas = checkAllowlist(spark, chain(clIdxs.head).name, aggExprs(b))
    if (!aggregating(b)) return None // raw join read
    paddedJoin(chain, clIdxs).foreach { case (r, why) =>
      throw new IllegalArgumentException(
        s"changelog relation${if (clIdxs.size > 1) "s" else ""} " +
          s"${clIdxs.map(chain(_).name).mkString(", ")} under a " +
          s"${r.joinType.get} JOIN: $why — a fully-retracted key " +
          "would still match and never null-pad, so no retraction-consuming " +
          "rewrite exists; materialize the final state first " +
          "(Cdc.upsertMaterialize) and join that")
    }
    registerUdafs(spark, udas)
    val net = needsNet(b)
    // one stage-1 frame per changelog, each with an ORDINAL weight
    // column (the joint weight is their product); netting keeps the
    // referenced columns, the ON conditions' among them (the join keys),
    // and every payload column when a `*` item reads them all
    val refd = namesIn(b.exprs ++ b.order ++ b.on).map(_.toLowerCase).toSet
    val star = b.items.exists(_.isInstanceOf[UnresolvedStar])
    val stages: Seq[(Int, DataFrame, String)] =
      clIdxs.zipWithIndex.map { case (idx, j) =>
        val src0 = spark.table(chain(idx).name)
        if (!net) (idx, src0.withColumn(s"__sign_$j", sign), s"__sign_$j")
        else {
          val dataCols = payloadOf(src0).filter(n => star || refd(n.toLowerCase))
          (idx, src0.groupBy(dataCols.map(col): _*)
            .agg(sum(sign).as(s"__net_$j")).filter(col(s"__net_$j") =!= 0),
            s"__net_$j")
        }
      }
    val weight =
      if (stages.size == 1) stages.head._3
      else stages.map(_._3).mkString("(", " * ", ")")
    val liveCond = if (!net) None
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
    // a `*` item (or `q.*`) projects the chain's columns, qualified by
    // the names fromSql binds, never a weight
    lazy val qualified = chain.zipWithIndex.map { case (r, i) =>
      val q = r.alias.getOrElse(r.name.split('.').last)
      val cols = if (clIdxs.contains(i)) payloadOf(spark.table(r.name))
        else relationColumns(spark, r.name).getOrElse(Nil)
      q -> cols.map(c => s"${quoteIdentifier(q)}.${quoteIdentifier(c)}")
    }
    def starCols(s: UnresolvedStar): Seq[String] = s.target match {
      case None => qualified.flatMap(_._2)
      case Some(t) => qualified.filter(_._1.equalsIgnoreCase(t.last)).flatMap(_._2)
    }
    try assembleStage2(spark, b, stages.head._2, weight, fromSql,
      whereInStage2 = true, liveCond = liveCond, starCols = starCols)
    finally extraViews.values.foreach(v => spark.catalog.dropTempView(v): Unit)
  }

  /** Composite FROM (subquery / comma list / set operation / CTE) or a
    * changelog read in a subquery: plain SQL is correct only when no
    * changelog is read, or when the user deliberately reads the raw
    * changelog (row_kind/cdc_ts referenced; [[sqlInner]] lets both
    * through before this guard). Anything else rejects loudly: an
    * aggregate would count retraction rows as data, and a subquery or
    * set operation would treat a retracted row as live (`WHERE g IN
    * (SELECT g FROM changelog)` keeps a fully deleted g). `changelogs`:
    * the changelog relations the statement's census names. */
  private def compositeGuard(spark: SparkSession, plan: LogicalPlan,
      changelogs: Seq[String]): Nothing = {
    rejectAggregate(spark, plan, changelogs)
    throw new IllegalArgumentException(
      s"a subquery, CTE or composite FROM reading ${relsOf(changelogs)} would " +
        "read its change rows as live rows (a retracted row still matches); " +
        "read the live state through FINAL_STATE(<changelog>), or reference " +
        "row_kind explicitly to read the raw changelog")
  }

  /** Rejects statement `plan` when it is aggregate-shaped: GROUP BY, a
    * supported-aggregate or UDA call, or any call the registry
    * classifies as an aggregate — ANYWHERE in the statement (a scalar
    * subquery aggregating the changelog is just as wrong as a top-level
    * aggregate). */
  private def rejectAggregate(spark: SparkSession, plan: LogicalPlan,
      changelogs: Seq[String]): Unit =
    if (nodesOf(plan).exists(_.isInstanceOf[Aggregate]) ||
        calls(exprsOf(plan)).exists(isAggCall(spark, _)))
      throw new IllegalArgumentException(
        s"aggregate over a composite FROM reading ${relsOf(changelogs)} has no " +
          "retraction-consuming rewrite (running it as plain SQL would aggregate " +
          "retraction rows as data); supported: ONE changelog joined to static " +
          "relations with INNER/CROSS joins (LEFT/RIGHT only with the " +
          "changelog on the preserved side). Otherwise materialize the " +
          "final state first (Cdc.upsertMaterialize) and join/aggregate " +
          "that, or reference row_kind explicitly to read the raw changelog")

  private def relsOf(changelogs: Seq[String]): String =
    s"changelog relation${if (changelogs.size > 1) "s" else ""} ${changelogs.mkString(", ")}"

  /** The aggregate-carrying expressions: select list, HAVING, ORDER BY. */
  private def aggExprs(b: Block): Seq[Expression] =
    b.items ++ b.having.map(_.e) ++ b.order

  /** GROUP BY, DISTINCT, or a rewritable aggregate call: the block
    * consumes retractions (else it is a raw changelog projection). */
  private def aggregating(b: Block): Boolean =
    b.groupBy.isDefined || b.distinct || calls(aggExprs(b)).exists(rewritable)

  /** MIN/MAX need surviving VALUES and DISTINCT live ROWS: the netted
    * live multiset instead of the ±1 sign algebra. */
  private def needsNet(b: Block): Boolean =
    b.distinct || calls(aggExprs(b)).exists(n => n == "MIN" || n == "MAX")

  /** Does any of `es` hold a window function or a subquery? Both are
    * beyond the two-stage rewrite: the user reads the changelog itself
    * (OVER) or mixes in other relations, and keeps the documented
    * raw-fall-through semantics rather than a half-right rewrite. */
  private def windowOrSubquery(es: Seq[Expression]): Boolean =
    es.exists(_.exists {
      case _: WindowExpression | _: SubqueryExpression => true
      case _ => false
    })

  private def lowerBare(spark: SparkSession, b: Block, name: String,
      alias: Option[String]): Option[DataFrame] = {
    if (windowOrSubquery(b.exprs ++ b.order)) return None
    // ALLOWLIST over the aggregate-carrying expressions — runs even when
    // no supported aggregate is present: `SELECT MAX_BY(k, x) FROM cl`
    // has no COUNT/SUM/AVG/MIN/MAX and no GROUP BY, yet silently running
    // it raw would aggregate change rows as data
    val udas = checkAllowlist(spark, name, aggExprs(b))
    // plain projection (no aggregate, no GROUP BY, no DISTINCT): a raw
    // changelog read, untouched
    if (!aggregating(b)) return None
    registerUdafs(spark, udas)
    val src0 = spark.table(name)
    val src = alias.fold(src0)(a => src0.as(a))
    val filtered = b.where.fold(src)(w => src.filter(expr(w.sql)))
    // SINGLE-EXCHANGE shortcut: COUNT/SUM/AVG and retractable UDAs
    // distribute over the change signs, so without MIN/MAX or DISTINCT
    // ([[needsNet]]) the netting shuffle — the dominant cost at scale —
    // is skipped entirely: the statement aggregates the raw changelog
    // with a ±1 weight column and pays only its own GROUP BY exchange,
    // partial-aggregated map-side.
    val net = needsNet(b)
    val payload = payloadOf(src0)
    // a `*` item reads every payload column, and names none
    val star = b.items.exists(_.isInstanceOf[UnresolvedStar])
    val (stage1, weight) =
      if (!net) (filtered.withColumn("__sign", sign), "__sign")
      else {
        // stage 1: live multiset — net the signs per distinct payload
        // row, projected to the REFERENCED columns (the names the
        // statement's expressions read): netting commutes with
        // projection on a well-formed changelog (every retraction
        // matches a prior insertion), so unreferenced payload columns
        // never ride the exchange. Fully-retracted rows (net 0) leave
        // the live multiset.
        val refd = namesIn(b.exprs ++ b.order).map(_.toLowerCase).toSet
        val dataCols = if (star) payload else payload.filter(n => refd(n.toLowerCase))
        (filtered.groupBy(dataCols.map(col): _*).agg(sum(sign).as("__net"))
          .filter(col("__net") =!= 0), "__net")
      }
    assembleStage2(spark, b, stage1, weight,
      view => s"$view${alias.fold("")(a => s" AS $a")}",
      whereInStage2 = false, // the bare path filtered BEFORE netting
      liveCond = if (net) Some("__net > 0") else None,
      starCols = _ => payload.map(quoteIdentifier))
  }

  /** A changelog frame's payload columns: all but the encoding. */
  private def payloadOf(cl: DataFrame): Seq[String] =
    cl.columns.toSeq.filterNot(n => n == streaming.Cdc.RowKind || n == "cdc_ts")

  /** Stage 2 shared by the bare-relation and join lowerings: the user's
    * statement with retract-aware aggregates over the stage-1 frame,
    * bound as a temp view and spliced into the FROM text `fromSqlOf`
    * produces. `whereInStage2`: the join path must filter AFTER the
    * join (predicates may read the static sides); the bare path already
    * filtered before netting (same live multiset — the predicate is
    * deterministic on the payload — but a smaller netting exchange).
    * `starCols`: the column references a `*` item projects (never the
    * weight); none keeps the item as written. */
  private def assembleStage2(spark: SparkSession, b: Block,
      stage1: DataFrame, weight: String,
      fromSqlOf: String => String, whereInStage2: Boolean,
      liveCond: Option[String],
      starCols: UnresolvedStar => Seq[String] = _ => Nil): Option[DataFrame] = {
    val grouped = b.groupBy.isDefined
    def rewrite(s: Sliced) =
      rewriteWith(s, weight, grouped, liveCond = liveCond)
    // ORDER BY can carry aggregates too (ORDER BY COUNT(*)) — netted
    // like every other aggregate position. On GROUPED statements the
    // phantom-group guard puts a HAVING in play, and Spark's analyzer
    // cannot resolve an aggregate ORDER BY above a HAVING when the
    // select list holds non-trivial aggregate EXPRESSIONS (the MIN/AVG
    // rewrites are exactly that) — so aggregate order items are
    // projected as HIDDEN columns and the sort runs on the DataFrame,
    // where only resolved attributes are referenced.
    val orderItems = b.order.map(o => (sliced(o.child), o))
    def itemHasAgg(e: Expression): Boolean = calls(Seq(e)).exists(rewritable)
    val hiddenSort = grouped && orderItems.exists(i => itemHasAgg(i._1.e))
    val view = s"__graft_changelog_live_${counter.incrementAndGet()}"
    stage1.createOrReplaceTempView(view)
    try {
      // stage 2: the user's statement with retract-aware aggregates
      val sqlText = new StringBuilder("SELECT ")
        .append(if (b.distinct) "DISTINCT " else "")
        .append(selectList(b).map {
          case Sliced(s: UnresolvedStar, _, _) if starCols(s).nonEmpty =>
            starCols(s).mkString(", ")
          case item => rewrite(item)
        }.mkString(", "))
      val hidden = if (!hiddenSort) Map.empty[Int, String] else
        orderItems.zipWithIndex.collect { case ((e, _), i) if itemHasAgg(e.e) =>
          val name = s"__graft_ord_$i"
          sqlText.append(", ").append(rewrite(e)).append(s" AS $name")
          i -> name
        }.toMap
      sqlText.append(" FROM ").append(fromSqlOf(view))
      if (whereInStage2)
        b.where.foreach(w => sqlText.append(" WHERE ").append(w.sql))
      b.groupBy.foreach(g =>
        sqlText.append(" GROUP BY ").append(g.map(sqlOf).mkString(", ")))
      // grouped statements guard against PHANTOM groups: a group whose
      // rows all retracted has live count 0 and must be ABSENT (Flink's
      // GroupAggFunction deletes the group when its count drops to 0) —
      // on the sign path dead rows are still present, so the guard is
      // load-bearing; on the netting path the net<>0 filter already
      // dropped them and the guard is belt and braces. Global aggregates
      // stay unguarded: one row over empty input is correct SQL.
      val guard = if (grouped) Some(s"SUM($weight) <> 0") else None
      val havingParts = b.having.map(h => s"(${rewrite(h)})").toSeq ++ guard
      if (havingParts.nonEmpty)
        sqlText.append(" HAVING ").append(havingParts.mkString(" AND "))
      if (!hiddenSort) {
        orderItems.zipWithIndex.foreach { case ((e, o), i) =>
          sqlText.append(if (i == 0) " ORDER BY " else ", ").append(rewrite(e))
          if (o.direction == Descending) sqlText.append(" DESC")
          if (o.nullOrdering != o.direction.defaultNullOrdering)
            sqlText.append(if (o.nullOrdering == NullsFirst) " NULLS FIRST"
              else " NULLS LAST")
        }
        b.limit.foreach(l => sqlText.append(" LIMIT ").append(sqlOf(l)))
        b.offset.foreach(o => sqlText.append(" OFFSET ").append(sqlOf(o)))
        Some(spark.sql(sqlText.toString))
      } else {
        val df = spark.sql(sqlText.toString)
        val userCols = df.columns.filterNot(_.startsWith("__graft_ord_"))
        val sortCols = orderItems.zipWithIndex.map { case ((e, o), i) =>
          val base = hidden.get(i) match {
            case Some(name) => col(name)
            // positional ORDER BY resolves against the USER select list
            // (hidden columns are appended after it)
            case None => e.e match {
              case Literal(k: Int, IntegerType) => col(userCols(k - 1))
              case _ => expr(e.sql)
            }
          }
          (o.direction, o.nullOrdering) match {
            case (Descending, NullsFirst) => base.desc_nulls_first
            case (Descending, _)          => base.desc_nulls_last
            case (_, NullsFirst)          => base.asc_nulls_first
            case _                        => base.asc_nulls_last
          }
        }
        def count(e: Expression, what: String): Int = {
          val n = Some(e).collect { case Literal(k: Int, IntegerType) => k }
          require(n.isDefined, s"$what over a changelog aggregate must be " +
            s"a literal count, got: ${sqlOf(e)}")
          n.get
        }
        val sorted = df.orderBy(sortCols: _*)
        val skipped = b.offset.fold(sorted)(o => sorted.offset(count(o, "OFFSET")))
        val limited = b.limit.fold(skipped)(l => skipped.limit(count(l, "LIMIT")))
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

  /** A change row's sign: +1 for +I/+U, -1 for -U/-D. */
  private def sign = when(col(streaming.Cdc.RowKind)
    .isin(streaming.Cdc.Insert, streaming.Cdc.UpdateAfter), 1).otherwise(-1)

  /** The changelog encoding columns a continuous operator consumes. */
  private def encodingCol(n: String): Boolean =
    n == streaming.Cdc.RowKind || n == "cdc_ts" || n == SeqCol

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

  /** Lower the SELECT of a continuous changelog aggregate onto one
    * update-mode streaming aggregation. Returns (df, upsert keys): df's
    * columns are the user's select list plus a hidden boolean `LiveCol`
    * — false means the group emptied (or left the HAVING set) and the
    * sink must DELETE it; keys are the GROUP BY columns' OUTPUT names
    * (the upsert key of the refreshed rows). `chain(clIdx)` is the
    * changelog relation [[route]] found. */
  private def signAgg(spark: SparkSession, b: Block, chain: Seq[ChainRel],
      clIdx: Int): (DataFrame, Seq[String], Seq[String]) = {
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
    }
    paddedJoin(chain, Seq(clIdx)).foreach { case (r, why) =>
      throw new IllegalArgumentException(
        s"changelog relation $name on the null-padded side of a " +
          s"${r.joinType.getOrElse("?")} JOIN: $why — no " +
          "retraction-consuming rewrite exists")
    }
    require(!b.ordered,
      "ORDER BY / LIMIT are not available on a CONTINUOUS changelog " +
        "aggregate (update mode has no final ordering); aggregate the " +
        "materialized sink instead")
    // [[route]] picks this lowering only when no clause names row_kind
    // or cdc_ts (that is a raw changelog passthrough)
    require(!b.distinct,
      "SELECT DISTINCT over a continuous changelog is not supported; " +
        "use GROUP BY (same live-group semantics, update-mode output)")
    val udas = checkAllowlist(spark, name, b.items ++ b.having.map(_.e))
    registerUdafs(spark, udas)
    registerStreamMinMax(spark)
    def rewrite(s: Sliced) =
      rewriteWith(s, "__sign", grouped = true, streamMinMax = true)
    // upsert keys: every GROUP BY item must be a bare column that appears
    // in the select list (possibly aliased) — the sink needs a key
    def same(a: UnresolvedAttribute, g: UnresolvedAttribute) =
      a.nameParts.map(_.toLowerCase) == g.nameParts.map(_.toLowerCase)
    val keys = b.groupBy.toSeq.flatten.map {
      case g: UnresolvedAttribute =>
        b.items.collectFirst {
          case a: UnresolvedAttribute if same(a, g) => g.nameParts.last
          case Alias(a: UnresolvedAttribute, out) if same(a, g) => out
        }.getOrElse(throw new IllegalArgumentException(
          s"GROUP BY column ${g.nameParts.mkString(".")} must appear in " +
            "the select list — it is the sink's upsert key"))
      case g => throw new IllegalArgumentException(
        s"streaming changelog GROUP BY items must be bare columns, got: ${sqlOf(g)}")
    }
    // MODIFIED-MONOTONICITY derivation (the planner fact behind the
    // reference's RankProcessStrategy.UpdateFastStrategy — FlinkRelMd
    // ModifiedMonotonicity): over an INSERT-ONLY input with no HAVING
    // (a group leaving a HAVING set emits a -D, breaking monotonicity
    // downstream), COUNT and MAX of a column (or a constant) are
    // monotonically non-decreasing per group. Recorded on the sink so a
    // downstream top-1 statement can pick the O(1)-state fast route.
    def monotone(f: UnresolvedFunction) = f.filter.isEmpty &&
      f.orderingWithinGroup.isEmpty && (f.arguments match {
        case Seq(_: UnresolvedAttribute | _: Literal) =>
          f.nameParts.last.equalsIgnoreCase("COUNT") ||
            (f.nameParts.last.equalsIgnoreCase("MAX") && !f.isDistinct)
        case _ => false
      })
    val monotoneCols: Seq[String] =
      if (!isInsertOnlyRel(spark, name) || b.having.isDefined) Seq.empty
      else b.items.collect { case Alias(f: UnresolvedFunction, out) if monotone(f) => out }
    val src = retractStreamOf(spark, name)
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
        b.having.map(h => s"(${rewrite(h)})")).mkString(" AND ")
      val sqlText = new StringBuilder("SELECT ")
        .append(selectList(b).map(rewrite).mkString(", "))
        .append(", ").append(live).append(s" AS $LiveCol")
        .append(" FROM ").append(sqlOf(b.from))
      b.where.foreach(w => sqlText.append(" WHERE ").append(w.sql))
      b.groupBy.foreach(g =>
        sqlText.append(" GROUP BY ").append(g.map(sqlOf).mkString(", ")))
      val df = spark.sql(sqlText.toString)
      assert(df.isStreaming, "changelog aggregate lost streaming-ness")
      (df, keys, monotoneCols)
    } finally priorDf match {
      case Some(d) => d.createOrReplaceTempView(name)
      case None    => spark.catalog.dropTempView(name): Unit
    }
  }

  /** Pins for the RocksDB state-store provider (the TWS operators'
    * runtime requirement) plus its production I/O posture.
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
  private def rocksDbPins(spark: SparkSession): Seq[(String, String)] = {
    val provider = "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
    val perf = Seq(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        -> "false")
    provider +: perf.filter(kv => spark.conf.getOption(kv._1).isEmpty)
  }

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
  private def statePartitionPins(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getOption("graft.stream.statePartitions").toSeq.map(n =>
      "spark.sql.shuffle.partitions" -> n.trim.toInt.toString)

  /** Micro-batch trigger for stream starts. Default (conf unset) keeps
    * the zero-interval continuous trigger.
    *
    * `graft.stream.triggerIntervalMs`: a caller that lands ONE logical
    * commit as SEVERAL table appends (a multi-source statement whose
    * inputs commit one table at a time) sets it a bit above its append
    * latency so the poll usually does not fire between the appends and
    * split the commit round into one micro-batch per source — fewer,
    * larger micro-batches paying the per-batch machinery once. It is no
    * guarantee: a poll can still fall between two appends and split a
    * round, so the micro-batch count per round varies between runs. (A
    * per-round Trigger.AvailableNow restart was measured and rejected for
    * the same gates; see OPTIMIZATION_r16.md.)
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

  /** True when `df`'s analyzed plan runs a transformWithState operator —
    * whose runtime needs the RocksDB state-store provider. */
  private def runsTws(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])

  /** The one start of a continuous INSERT: `df` as a streaming query in
    * `outputMode` checkpointed at `checkpointDir`, `start` attaching the
    * sink (a `foreachBatch` writer or a table) and starting it. The
    * provider follows the plan: a query that runs transformWithState
    * starts on RocksDB ([[rocksDbPins]]), every other query on the
    * session's provider. The state partitions follow
    * [[statePartitionPins]] and the trigger [[withTrigger]]. Under
    * [[graft.util.StartLock]] the pins, the start (which snapshots the
    * conf into the query's cloned session synchronously) and the restore
    * are one atomic section: a gateway operation starting concurrently on
    * the same shared session can never snapshot this job's pins into ITS
    * checkpoint. */
  private[graft] def startStream(spark: SparkSession, df: DataFrame,
      outputMode: String, checkpointDir: String)(
      start: org.apache.spark.sql.streaming.DataStreamWriter[Row] =>
        org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.util.StartLock.locked {
      val pins = (if (runsTws(df)) rocksDbPins(spark) else Nil) ++
        statePartitionPins(spark)
      graft.util.Conf.scoped(spark, pins: _*) {
        start(withTrigger(spark, df.writeStream
          .outputMode(outputMode)
          .option("checkpointLocation", checkpointDir)))
      }
    }

  /** Refreshed groups as an upsert changelog: +U while [[LiveCol]] holds,
    * -D once the group empties (or leaves the HAVING set) — exactly what
    * an external upsert sink (kafka-upsert, JDBC) consumes row by row;
    * on the local parquet emulation the append IS the scalable write
    * path and [[materializeUpsertSink]] is the reader's keep-last
    * collapse (SinkUpsertMaterializer role). */
  private def upsertLog(df: DataFrame): DataFrame =
    df.withColumn(streaming.Cdc.RowKind,
      when(col(LiveCol), streaming.Cdc.UpdateAfter)
        .otherwise(streaming.Cdc.Delete))
      .drop(LiveCol)

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

  // ---- the continuous INSERT body as Spark's parsed plan --------------

  /** One SELECT block of a parsed statement (a batch SELECT or a
    * continuous INSERT body). The plan is never analyzed (registered
    * retractable aggregates are not in Spark's function registry):
    * columns resolve against the relation schemas ([[relationColumns]]).
    * `ordered`: ORDER BY, LIMIT or OFFSET. */
  private[graft] case class Block(items: Seq[Expression],
      groupBy: Option[Seq[Expression]], having: Option[Sliced],
      where: Option[Sliced], from: LogicalPlan, distinct: Boolean,
      order: Seq[SortOrder] = Nil, limit: Option[Expression] = None,
      offset: Option[Expression] = None) {
    def exprs: Seq[Expression] =
      items ++ where.map(_.e) ++ groupBy.toSeq.flatten ++ having.map(_.e)
    def ordered: Boolean = order.nonEmpty || limit.isDefined || offset.isDefined
    /** The ON conditions of the FROM's joins. */
    def on: Seq[Expression] = from.collect { case j: Join => j.condition }.flatten
  }

  /** A parsed expression and the statement text it spans from offset
    * `at`, enclosing parentheses included: the user's own text, which
    * the lowerings and the route line read. */
  private[graft] case class Sliced(e: Expression, sql: String, at: Int)

  /** [start, stop] of `n` in its statement: the hull over its subtree's
    * nodes (a Join's own origin starts at JOIN, an `IS NOT NULL`'s at
    * IS). */
  private def span(n: TreeNode[_]): (Int, Int) = {
    val os = (n match {
      case p: LogicalPlan => p.collect { case q => q.origin }
      case e: Expression => e.collect { case x => x.origin }
      case _ => Seq(n.origin)
    }).filter(o => o.startIndex.isDefined && o.stopIndex.isDefined)
    if (os.isEmpty) (-1, -1)
    else (os.map(_.startIndex.get).min, os.map(_.stopIndex.get).max)
  }

  /** The statement text `n` spans. */
  private[graft] def sqlOf(n: TreeNode[_]): String = {
    val (s, t) = span(n)
    val text = n match {
      case p: LogicalPlan =>
        p.collectFirst { case q if q.origin.sqlText.isDefined => q.origin.sqlText.get }
      case _ => n.origin.sqlText
    }
    text.filter(_ => s >= 0).fold(n.toString)(_.substring(s, t + 1))
  }

  /** `e` with its text, grown over the parentheses that enclose it
    * within [lo, hi] (`(a OR b)` keeps them); by default exactly its
    * own text. */
  private[graft] def sliced(e: Expression, lo: Int = 0, hi: Int = -1): Sliced = {
    val (s0, t0) = span(e)
    val text = e.origin.sqlText.filter(_ => s0 >= 0)
      .getOrElse(return Sliced(e, e.toString, -1))
    def next(i: Int, d: Int) = Iterator.iterate(i + d)(_ + d)
      .find(j => j < lo || j > hi || !text(j).isWhitespace).get
    var (s, t) = (s0, t0)
    while (next(s, -1) >= lo && next(t, 1) <= hi &&
        text(next(s, -1)) == '(' && text(next(t, 1)) == ')') {
      s = next(s, -1)
      t = next(t, 1)
    }
    Sliced(e, text.substring(s, t + 1), s)
  }

  /** A clause's top-level AND conjuncts. A parenthesized AND stays one
    * conjunct, as does one whose terms span its whole text (BETWEEN). */
  private def conjuncts(c: Sliced): Seq[Sliced] = c.e match {
    case And(l, r) if c.at == span(c.e)._1 =>
      val (lo, hi) = span(c.e)
      val terms = conjuncts(sliced(l, lo, hi)) ++ conjuncts(sliced(r, lo, hi))
      if (terms.exists(t => span(t.e) == span(c.e))) Seq(c) else terms
    case _ => Seq(c)
  }

  /** The SELECT block `p` is, when it is one. */
  private[graft] def block(p: LogicalPlan): Option[Block] = {
    def make(items: Seq[Expression], groupBy: Option[Seq[Expression]],
        having: Option[Sliced], child: LogicalPlan) = Some(child match {
      case f: Filter =>
        val (lo, hi) = span(f)
        Block(items, groupBy, having, Some(sliced(f.condition, lo, hi)),
          f.child, distinct = false)
      case from => Block(items, groupBy, having, None, from, distinct = false)
    })
    def grouped(a: Aggregate, having: Option[Sliced]) =
      make(a.aggregateExpressions, Option.when(a.groupingExpressions.nonEmpty)(
        a.groupingExpressions), having, a.child)
    p match {
      case s: Sort => block(s.child).map(_.copy(order = s.order))
      case l: GlobalLimit => block(l.child).map(_.copy(limit = Some(l.limitExpr)))
      case l: LocalLimit => block(l.child)
      case o: Offset => block(o.child).map(_.copy(offset = Some(o.offsetExpr)))
      case d: Distinct => block(d.child).map(_.copy(distinct = true))
      case h: UnresolvedHint => block(h.child)
      case h @ UnresolvedHaving(cond, a: Aggregate) =>
        val (lo, hi) = span(h)
        grouped(a, Some(sliced(cond, lo, hi)))
      case a: Aggregate => grouped(a, None)
      case pr: Project => make(pr.projectList, None, None, pr.child)
      case _ => None
    }
  }

  /** The select list's items, each with its text (alias included). */
  private def selectList(b: Block): Seq[Sliced] = b.items.map {
    case u: UnresolvedAlias => sliced(u.child)
    case e => sliced(e)
  }

  /** Statement `stmt` as Spark's parsed plan; None when the parser
    * rejects it. */
  private[graft] def parsed(spark: SparkSession, stmt: String): Option[LogicalPlan] =
    try Some(spark.sessionState.sqlParser.parsePlan(stmt))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Every plan node of `p`: its subtree, the plans of its subquery
    * expressions and its CTE bodies (`innerChildren`, which `collect`
    * does not visit). */
  private def nodesOf(p: LogicalPlan): Seq[LogicalPlan] =
    p +: (p.children ++ p.innerChildren.collect { case q: LogicalPlan => q } ++
      p.subqueries).flatMap(nodesOf)

  /** Every expression of the statement `p`, subqueries and CTEs included. */
  private def exprsOf(p: LogicalPlan): Seq[Expression] =
    nodesOf(p).flatMap(_.expressions)

  /** Does statement `p` name one of the `encodings` anywhere — a
    * deliberate raw changelog read? */
  private def readsEncoding(p: LogicalPlan, encodings: Seq[String] =
      Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol)): Boolean =
    encodingIn(namesIn(exprsOf(p)), encodings).isDefined

  /** The relation census of statement `p`: every relation it names,
    * subqueries and CTE bodies included, in statement order. */
  private def relationsOf(p: LogicalPlan): Seq[String] =
    nodesOf(p).collect { case r: UnresolvedRelation => r }
      .sortBy(_.origin.startIndex.getOrElse(Int.MaxValue))
      .map(_.multipartIdentifier.mkString(".")).distinct

  /** The SELECT block `p` is and its FROM chain, when it is both. */
  private def shapeOf(p: LogicalPlan): Option[(Block, Seq[ChainRel])] =
    block(p).flatMap(b => chainOf(b.from).map(b -> _))

  /** A FROM subquery's alias; None for an unaliased one. */
  private[graft] def aliasOf(id: org.apache.spark.sql.catalyst.AliasIdentifier) =
    Some(id.name).filterNot(_.startsWith(SubqueryAlias.generateSubqueryName()))

  /** A FROM of relations, each optionally aliased — one, or a linear
    * chain joined INNER/LEFT/RIGHT/FULL with ON, or CROSS; None for
    * anything else (subqueries, comma lists, USING, NATURAL). */
  private def chainOf(p: LogicalPlan): Option[Seq[ChainRel]] = p match {
    case r: UnresolvedRelation =>
      Some(Seq(ChainRel(r.multipartIdentifier.mkString("."), None, None, None)))
    case SubqueryAlias(id, r: UnresolvedRelation) => Some(Seq(ChainRel(
      r.multipartIdentifier.mkString("."), Some(id.name), None, None)))
    case j: Join =>
      val jt = (j.joinType, j.condition.isDefined) match {
        case (Cross, false) => "CROSS"
        case (Inner, true) => "INNER"
        case (LeftOuter, true) => "LEFT"
        case (RightOuter, true) => "RIGHT"
        case (FullOuter, true) => "FULL"
        case _ => return None
      }
      for (l <- chainOf(j.left); r <- chainOf(j.right) if r.size == 1)
        yield l :+ r.head.copy(joinType = Some(jt), on = j.condition.map(sqlOf))
    case _ => None
  }

  /** Every column, alias and function name the expressions mention. */
  private def namesIn(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect {
    case a: UnresolvedAttribute => a.nameParts
    case a: Alias => Seq(a.name)
    case f: UnresolvedFunction => f.nameParts
  }.flatten)

  /** The first encoding column among `names`, if any. */
  private def encodingIn(names: Seq[String],
      encodings: Seq[String] = Seq(streaming.Cdc.RowKind, "cdc_ts", SeqCol)) =
    encodings.find(m => names.exists(_.equalsIgnoreCase(m)))

  /** The upper-cased function names called in `es` (the parser builds
    * FIRST, LAST and ANY_VALUE as aggregate expressions). */
  private def calls(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect {
    case f: UnresolvedFunction => f.nameParts.last.toUpperCase
    case a: AggregateExpression => a.aggregateFunction.prettyName.toUpperCase
  }).distinct

  /** Is `fn` an aggregate: a supported or registered one, or one the
    * session's registry classifies so? */
  private def isAggCall(spark: SparkSession, fn: String): Boolean =
    Supported(fn) || StreamOverSql.customAgg(fn).isDefined ||
      isAggregateFn(spark, fn).contains(true)

  /** GROUP BY, or an aggregate call in the select list or HAVING. */
  private def aggregates(spark: SparkSession, b: Block): Boolean =
    b.groupBy.isDefined ||
      calls(b.items ++ b.having.map(_.e)).exists(isAggCall(spark, _))

  /** `COUNT(*)`'s argument: the parser's literal 1 spanning the call. */
  private[graft] def isStarArg(f: UnresolvedFunction, arg: Expression): Boolean =
    arg.isInstanceOf[UnresolvedStar] ||
      (arg.isInstanceOf[Literal] && span(arg) == span(f))

  /** Does this SELECT read a changelog anywhere down its FROM-subquery
    * nesting? (Depth-recursive: a rollup of a rollup routes too.) */
  private def refsChangelogDeep(spark: SparkSession, p: LogicalPlan): Boolean =
    block(p).exists(b =>
      chainOf(b.from).exists(_.exists(r => isChangelogRel(spark, r.name))) ||
        (b.from match {
          case SubqueryAlias(_, deeper) => refsChangelogDeep(spark, deeper)
          case _ => false
        }))

  // ---- continuous retractable top-N (rank/RetractableTopNFunction) ---

  /** The reference's streaming top-N statement shape over a retract
    * input: `SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY
    * k ORDER BY item [ASC|DESC], ...) AS rn FROM changelog) WHERE
    * rn <= N`. orderItems: (bare column name OR the statement's own text
    * of a computed EXPRESSION, isDescending) per ORDER BY item —
    * `isBareOrderCol` distinguishes; computed items project into derived
    * columns before the state boundary, as Flink's planner materializes
    * computed rank fields into the row. */
  private[graft] case class TopNShape(outer: Seq[String], parts: Seq[String],
      orderItems: Seq[(String, Boolean)], rnAlias: String, rel: String, n: Int)

  private[graft] def isBareOrderCol(text: String): Boolean =
    text.nonEmpty && text.forall(c => c < 128 && (c.isLetterOrDigit || c == '_'))

  /** `SELECT <cols> FROM (SELECT *, ROW_NUMBER() OVER ([PARTITION BY
    * cols] ORDER BY items) AS rn FROM <from>) [a] WHERE rn <= N` (or
    * `rn < N`, `N >= rn`, `N > rn`): the shape, `rel` still empty, and
    * `from`. A qualifier must name the ranked or the inner subquery. */
  private def topNOf(plan: LogicalPlan): Option[(TopNShape, LogicalPlan)] = {
    def plain(b: Block) =
      b.groupBy.isEmpty && b.having.isEmpty && !b.distinct && !b.ordered
    val outer = block(plan).filter(plain).getOrElse(return None)
    val (rankAlias, ranked) = outer.from match {
      case SubqueryAlias(id, child) => (aliasOf(id), block(child)
        .filter(b => plain(b) && b.where.isEmpty).getOrElse(return None))
      case _ => return None
    }
    val (rn, spec) = ranked.items match {
      case Seq(UnresolvedStar(None), Alias(WindowExpression(
          f: UnresolvedFunction, spec: WindowSpecDefinition), rn))
          if f.nameParts.map(_.toUpperCase) == Seq("ROW_NUMBER") &&
            f.arguments.isEmpty && spec.orderSpec.nonEmpty &&
            spec.frameSpecification == UnspecifiedFrame => (rn, spec)
      case _ => return None
    }
    val aliases = rankAlias ++ (ranked.from match {
      case SubqueryAlias(id, _) => aliasOf(id)
      case _ => None
    })
    def bare(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 || (a.nameParts.size == 2 &&
          aliases.exists(_.equalsIgnoreCase(a.nameParts.head))) =>
        Some(a.nameParts.last).filter(isBareOrderCol)
      case _ => None
    }
    val isRn: Expression => Boolean = {
      case a: UnresolvedAttribute => a.nameParts.last.equalsIgnoreCase(rn)
      case _ => false
    }
    val n = outer.where.map(_.e) match {
      case Some(LessThanOrEqual(r, Literal(k: Int, IntegerType))) if isRn(r) => k
      case Some(LessThan(r, Literal(k: Int, IntegerType))) if isRn(r) => k - 1
      case Some(GreaterThanOrEqual(Literal(k: Int, IntegerType), r)) if isRn(r) => k
      case Some(GreaterThan(Literal(k: Int, IntegerType), r)) if isRn(r) => k - 1
      case _ => return None
    }
    val items = spec.orderSpec.map { o =>
      val (lo, hi) = span(o)
      (bare(o.child).getOrElse(sliced(o.child, lo, hi).sql),
        o.direction == Descending)
    }
    Option.when(n >= 1)((TopNShape(outer.items.map(bare(_).getOrElse(return None)),
      spec.partitionSpec.map(bare(_).getOrElse(return None)), items, rn, "", n),
      ranked.from))
  }

  /** Top-N over one changelog relation, or over a subquery reading
    * changelogs (an aggregate, or a plain two-changelog join). */
  private def topNRoute(spark: SparkSession, plan: LogicalPlan): Option[Route] =
    topNOf(plan).flatMap {
      case (shape, r: UnresolvedRelation) if r.multipartIdentifier.size == 1 &&
          isChangelogRel(spark, r.multipartIdentifier.head) =>
        val sh = shape.copy(rel = r.multipartIdentifier.head)
        Some(Route.TopN(sh, topNFastEligible(spark, sh)))
      case (shape, SubqueryAlias(_, inner)) if refsChangelogDeep(spark, inner) =>
        Some(Route.TopNAgg(shape.copy(rel = "<inner aggregate>"),
          subqueryRoute(spark, inner)))
      case _ => None
    }

  /** RankProcessStrategy analysis (the reference's
    * RankProcessStrategy.java): UpdateFastStrategy when the statement is
    * a DESC top-1 whose input changelog is upsert-keyed with the
    * partition columns inside the key and whose ORDER BY column is
    * DECLARED monotone (recorded by the sign-algebra route from a
    * COUNT/MAX aggregate over an insert-only input); RetractStrategy
    * otherwise. */
  private def topNFastEligible(spark: SparkSession, sh: TopNShape): Boolean =
    sh.n == 1 && (sh.orderItems match {
      case Seq((col, true)) => // single DESC item over a monotone column
        upsertKeysOf(spark, sh.rel).exists(ks => sh.parts.forall(ks.contains)) &&
          monotoneColsOf(spark, sh.rel).contains(col)
      case _ => false
    })

  /** Lower a validated top-N shape over a changelog stream `src`
    * (row_kind + payload columns) — the streaming statement form of
    * RetractableTopNFunction.java:56 (sorted per-key state, re-ranks and
    * backfills when a ranked row retracts, emits deletes when the top
    * shrinks), or with `fast` the O(1)-state FastTop1 over the RAW
    * upsert stream. `src` is the changelog relation (normalize-chained
    * when DECLARED UPSERT, [[retractStreamOf]]) or a composed
    * statement's subquery stream. Returns the sink's upsert changelog —
    * keyed by (partition columns, rank): +U refreshed ranks, -D vacated
    * ranks, so [[materializeUpsertSink]] shows exactly the current top-N
    * — and that key. */
  private def topNLog(spark: SparkSession, shape: TopNShape, src: DataFrame,
      fast: Boolean): (DataFrame, Seq[String]) = {
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
    (out, shape.parts :+ shape.rnAlias)
  }

  // ---- continuous two-sided retraction JOIN (StreamExecJoin) ---------

  /** One side of a parsed continuous join statement; `filters` are the
    * WHERE conjuncts that read this side only ([[joinSides]]). */
  private[graft] case class StreamJoinSide(rel: String, alias: Option[String],
      keyCols: Seq[String], selected: Seq[(String, String)], // (col, outName)
      filters: Seq[String])

  /** `orderTags`: the select list's side per item in STATEMENT order
    * (0 = left, 1 = right) — replays the user's column order across the
    * per-side splits. */
  private[graft] case class StreamJoinShape(
      left: StreamJoinSide, right: StreamJoinSide, joinType: String,
      orderTags: Seq[Int])

  /** The inputs a join or an aggregate level reads: input i is named
    * `names(i)` (an alias, a relation name, or "" for an unaliased
    * subquery) and carries `cols(i)`; two inputs are a join's sides.
    * `missing` words a one-input level's unknown-column error. */
  private[graft] case class Sides(names: Seq[String], cols: Seq[Seq[String]],
      missing: String => String) {
    def joined: Boolean = names.size == 2
    /** The input-stream column that carries input `side`'s `col`. */
    def ref(side: Int, col: String): String =
      if (joined) joinAggRef(side, col) else col

    /** (input, column) of a reference: a qualifier names the input, an
      * unqualified column must be on exactly one input. */
    def resolve(a: UnresolvedAttribute, bad: String => Nothing): (Int, String) = {
      def canon(i: Int, n: String, missing: => String) =
        (i, cols(i).find(_.equalsIgnoreCase(n)).getOrElse(bad(missing)))
      a.nameParts match {
        case Seq(q, n) => names.indexWhere(x => x.nonEmpty && x.equalsIgnoreCase(q)) match {
          case -1 => bad(s"unknown qualifier '$q' in ${a.name}" +
            (if (joined) s" (sides: ${names.mkString(", ")})" else ""))
          case i => canon(i, n, if (joined) s"column $n not found" else missing(n))
        }
        case Seq(n) => cols.indices.filter(i => cols(i).exists(_.equalsIgnoreCase(n))) match {
          case Seq(i) => canon(i, n, "")
          case Seq() =>
            bad(if (joined) s"column $n not found on either side" else missing(n))
          case _ => bad(s"column $n is ambiguous (both sides carry it) — qualify it")
        }
        case _ => bad(s"cannot resolve column reference: ${a.name}")
      }
    }
  }

  /** The FROM/ON analysis shared by the plain continuous-join statement
    * and the agg-over-join statement. */
  private case class JoinCore(lRel: ChainRel, rRel: ChainRel,
      joinType: String, sides: Sides, pairs: Seq[(String, String)])

  private def joinCore(spark: SparkSession, b: Block,
      bad: String => Nothing): JoinCore = {
    val chain = chainOf(b.from).getOrElse(
      bad(s"FROM must be a linear `a JOIN b ON ...` chain, got: ${sqlOf(b.from)}"))
    val clCount = chain.count(r => isChangelogRel(spark, r.name))
    if (chain.size != 2 || clCount != 2) bad(
      s"exactly TWO changelog relations join continuously (got ${chain.size} " +
        s"relations, $clCount changelogs); multi-way joins chain through " +
        "intermediate sinks — INSERT each pairwise join into its own table " +
        "and join that changelog next")
    val Seq(lRel, rRel) = chain
    val jt = rRel.joinType.getOrElse("INNER")
    def noKey = bad("CROSS JOIN of two changelogs has no key to partition " +
      "state by; give an ON equi-condition")
    if (jt == "CROSS") noKey
    encodingIn(namesIn(b.exprs ++ b.on)).foreach(m => bad(s"the statement " +
      s"references encoding column $m — there is no raw passthrough for a " +
      "two-changelog join; the operator consumes the encodings"))
    val Seq(lName, rName) = chain.map(r => r.alias.getOrElse(r.name.split('.').last))
    if (lName.equalsIgnoreCase(rName)) bad(
      s"both sides resolve to the name '$lName' — alias one of them")
    val sides = Sides(Seq(lName, rName), chain.map(r => relationColumns(spark, r.name)
      .getOrElse(bad(s"cannot resolve ${r.name}")).filterNot(encodingCol)), _ => "")
    // ON: a conjunction of side-crossing equalities — the keyed-exchange
    // contract (Flink hashes both inputs by the equi-key,
    // StreamExecJoin.java:132's joinSpec)
    val (lo, hi) = span(b.from)
    val pairs = conjuncts(sliced(b.on.headOption.getOrElse(noKey), lo, hi)).map(c =>
      c.e match {
        case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
          (sides.resolve(x, bad), sides.resolve(y, bad)) match {
            case ((0, l), (1, r)) => (l, r)
            case ((1, r), (0, l)) => (l, r)
            case _ => bad(s"ON conjunct '${sqlOf(x)} = ${sqlOf(y)}' must " +
              "compare one LEFT column with one RIGHT column")
          }
        case _ => bad("ON supports equality conjuncts only (the state is " +
          s"keyed by the equi-key), got: ${c.sql}")
      })
    JoinCore(lRel, rRel, jt, sides, pairs)
  }

  /** The join shape: each side carries `selected(side)`, and each WHERE
    * conjunct goes to ONE side by the columns it references (each side's
    * columns under its name). A deterministic payload predicate commutes
    * with a changelog (a retraction passes iff the row it retracts did),
    * so a single-side conjunct filters its side's stream BEFORE the join
    * state — exactly Catalyst's own pushdown rule — but a predicate on a
    * NULL-PADDED side would also erase pads (post-join WHERE semantics
    * differ from pushdown there), and a cross-side predicate is a join
    * condition, so both reject loudly. */
  private def joinSides(spark: SparkSession, core: JoinCore,
      where: Option[Sliced], selected: Int => Seq[(String, String)],
      orderTags: Seq[Int], bad: String => Nothing): StreamJoinShape = {
    val rels = Seq(core.lRel, core.rRel)
    val cols = rels.map(r => relationColumns(spark, r.name).getOrElse(Nil))
    def onSide(side: Int)(a: UnresolvedAttribute) = {
      def has(c: String) = cols(side).exists(_.equalsIgnoreCase(c))
      a.nameParts match {
        case Seq(c) => has(c)
        case Seq(q, c, _*) =>
          (q.equalsIgnoreCase(core.sides.names(side)) && has(c)) || has(q)
        case _ => false
      }
    }
    val filters = where.toSeq.flatMap(conjuncts).map { c =>
      val refs = c.e.collect { case a: UnresolvedAttribute => a }
      val side = (refs.forall(onSide(0)), refs.forall(onSide(1))) match {
        case (true, false) => 0
        case (false, true) => 1
        case (true, true) if refs.isEmpty => 0 // pure constant
        case (true, true) => bad(s"WHERE conjunct (${c.sql}) is ambiguous " +
          "— it resolves against BOTH sides; qualify the column(s) " +
          "with the side's alias")
        case _ => bad(s"WHERE conjunct (${c.sql}) must reference exactly " +
          "one side — a cross-side predicate is a join condition (put " +
          "equalities in ON) and anything else filters the materialized " +
          "sink (FINAL_STATE)")
      }
      if (Seq("FULL", if (side == 0) "RIGHT" else "LEFT").contains(core.joinType))
        bad(s"WHERE conjunct (${c.sql}) filters the null-padded side of a " +
          s"${core.joinType} join — pushing it would erase pads and " +
          "post-join WHERE over pads is a different statement; filter " +
          "the materialized sink (FINAL_STATE) instead")
      (side, c.sql)
    }
    val Seq(l, r) = Seq(0, 1).map(side => StreamJoinSide(rels(side).name,
      rels(side).alias, core.pairs.map(p => if (side == 0) p._1 else p._2),
      selected(side), filters.collect { case (`side`, w) => w }))
    StreamJoinShape(l, r, core.joinType, orderTags)
  }

  /** Validate + extract the continuous-join statement shape; throws a
    * loud, specific error for every inadmissible variant. */
  private def joinShape(spark: SparkSession, b: Block): StreamJoinShape = {
    val bad = failWith("continuous two-sided retraction JOIN")
    if (b.ordered) bad(
      "ORDER BY / LIMIT have no meaning on a continuous changelog")
    if (b.distinct) bad("SELECT DISTINCT has no meaning on a join's retract " +
      "changelog; GROUP BY the columns instead")
    val core = joinCore(spark, b, bad)
    // select items: (side, col, outName); output names must be distinct
    val items = b.items.map {
      case a: UnresolvedAttribute =>
        val (s, c) = core.sides.resolve(a, bad); (s, c, c)
      case Alias(a: UnresolvedAttribute, out) =>
        val (s, c) = core.sides.resolve(a, bad); (s, c, out)
      case _ => bad("the select list must be bare (optionally qualified, " +
        "optionally aliased) columns — compute expressions on the " +
        "materialized sink")
    }
    val dup = items.groupBy(_._3.toLowerCase).collect { case (n, g) if g.size > 1 => n }
    if (dup.nonEmpty) bad(s"duplicate output column name(s): " +
      s"${dup.mkString(", ")} — alias them apart")
    joinSides(spark, core, b.where,
      side => items.collect { case (`side`, c, out) => (c, out) }, items.map(_._1), bad)
  }

  // ---- continuous agg-over-join (StreamExecJoin -> StreamExecGroupAggregate)

  /** One aggregate call in an agg-over-join select list. `side`/`col`
    * are (-1, "") for COUNT(*); `srcText` is the original expression
    * text (EXPLAIN rendering). */
  private[graft] case class JoinAggCall(fn: String, distinct: Boolean,
      side: Int, col: String, out: String, srcText: String)

  /** One aggregate level of a continuous statement: its WHERE conjuncts
    * and HAVING, its inputs, and its select list parsed against them —
    * the GROUP BY items (side, col, output name; the outputs are the
    * sink's upsert key), the aggregate calls, and the select list's
    * statement order across both kinds (Left(groupIdx) | Right(aggIdx)). */
  private[graft] case class AggLevel(where: Seq[String], having: Option[Sliced],
      sides: Sides, groupItems: Seq[(Int, String, String)],
      aggs: Seq[JoinAggCall], selectOrder: Seq[Either[Int, Int]])

  /** Internal (collision-free) name of a joined column inside the
    * agg-over-join topology. */
  private def joinAggRef(side: Int, col: String): String =
    if (side == 0) s"__jl_$col" else s"__jr_$col"

  /** Validate an aggregate select list and its GROUP BY against a
    * level's inputs — the walk every aggregate level shares (bare
    * relation, two-changelog join, aggregate subquery). Group items come
    * in GROUP BY order; the select order is anchored onto them. */
  private def levelOf(b: Block, sides: Sides, bad: String => Nothing): AggLevel = {
    if (b.ordered) bad(
      "ORDER BY / LIMIT have no meaning on a continuous changelog")
    require(!b.distinct,
      "SELECT DISTINCT over a continuous changelog is not supported; " +
        "GROUP BY the columns instead (same live-group semantics)")
    // Left((side, col, out)) per bare column, Right(call) per aggregate
    val items = b.items.map { item =>
      val (e, alias) = item match {
        case Alias(c, n) => (c, Some(n))
        case u: UnresolvedAlias => (u.child, None)
        case other => (other, None)
      }
      e match {
        case f: UnresolvedFunction if f.filter.isEmpty && !f.ignoreNulls &&
            f.orderingWithinGroup.isEmpty =>
          val fn = f.nameParts.last.toUpperCase
          if (!Supported(fn)) bad(s"$fn(...) in the select list: only " +
            "COUNT/SUM/AVG/MIN/MAX have a retraction-consuming " +
            "rewrite over a join; compute scalar expressions on the " +
            "materialized sink")
          if (f.isDistinct && fn != "COUNT") bad(
            s"$fn(DISTINCT ...) needs a per-group distinct-value " +
              "state the rewrite does not keep; only COUNT(DISTINCT " +
              "col) is supported")
          val (side, col0) = f.arguments match {
            case Seq(x) if isStarArg(f, x) =>
              if (fn != "COUNT") bad(s"$fn(*) is not an aggregate")
              (-1, "")
            case Seq(x: UnresolvedAttribute) => sides.resolve(x, bad)
            case args => bad(s"aggregate argument (${args.map(sqlOf)
              .mkString(", ")}) must be a bare column — project computed " +
              "arguments into the source changelog relations")
          }
          Right(JoinAggCall(fn, f.isDistinct, side, col0, alias.getOrElse(bad(
            s"alias the aggregate (${sqlOf(e)}) with AS <name> — it names " +
              "the sink column")), sqlOf(e).split(Array(' ', '\t', '\n', '\r'))
            .filter(_.nonEmpty).mkString(" ")))
        case a: UnresolvedAttribute =>
          val (side, col0) = sides.resolve(a, bad)
          Left((side, col0, alias.getOrElse(col0)))
        case _ => bad(s"select item (${sqlOf(e)}) must be a bare column or " +
          "an aggregate call; compute expressions on the materialized sink")
      }
    }
    val aggs = items.collect { case Right(a) => a }
    val bares = items.collect { case Left(g) => g }
    if (aggs.isEmpty) bad("no aggregate in the select list; a plain " +
      "projection of the join is the join statement itself (GROUP BY " +
      "without aggregates = DISTINCT, which FINAL_STATE(sink) answers)")
    // GROUP BY items: bare columns; the bare select items must be
    // exactly the grouped columns (anything else has no single value)
    val groupRefs = b.groupBy.toSeq.flatten.map {
      case a: UnresolvedAttribute => sides.resolve(a, bad)
      case g => bad(s"GROUP BY item (${sqlOf(g)}) must be a bare column — " +
        "project computed grouping keys into the source changelog relations")
    }
    if (groupRefs.isEmpty && bares.nonEmpty) bad(
      s"non-aggregated column ${bares.head._2} without GROUP BY")
    val groupItems = groupRefs.map { case (side, col0) =>
      bares.find(g => g._1 == side && g._2.equalsIgnoreCase(col0)) match {
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
    // the select order: bare items anchor onto their groupItems index
    // (bare items == grouped columns, proven above, but the two lists
    // may order them differently)
    var aggIdx = -1
    val selectOrder = items.map {
      case Left((side, col0, _)) =>
        Left(groupItems.indexWhere(g => g._1 == side && g._2 == col0))
      case Right(_) => aggIdx += 1; Right(aggIdx)
    }
    AggLevel(b.where.toSeq.flatMap(conjuncts).map(_.sql), b.having, sides,
      groupItems, aggs, selectOrder)
  }

  /** An aggregate over a two-changelog join: the aggregate level over
    * the join's output, and the synthesized join shape — each side
    * carries exactly the columns the level reads, under collision-free
    * internal names ([[joinAggRef]]). The WHERE filters each side below
    * the join state ([[joinSides]]), not the level. */
  private def joinAgg(spark: SparkSession, b: Block): Route.JoinAgg = {
    val bad = failWith("continuous aggregate over a two-changelog JOIN")
    val core = joinCore(spark, b, bad)
    val level = levelOf(b.copy(where = None), core.sides, bad)
    val needed = (level.groupItems.map(g => (g._1, g._2)) ++
      level.aggs.filter(_.side >= 0).map(a => (a.side, a.col))).distinct
    def sel(side: Int) = needed.collect {
      case (`side`, col0) => (col0, joinAggRef(side, col0))
    }
    Route.JoinAgg(joinSides(spark, core, b.where, sel,
      Seq.fill(sel(0).size)(0) ++ Seq.fill(sel(1).size)(1), bad), level)
  }

  /** HAVING over the aggregate stage's OUTPUT columns: each aggregate
    * call a select-list aggregate computes (same function, DISTINCT and
    * column, qualified by its input's name or not) becomes that
    * aggregate's alias and each grouped column its output name, spliced
    * into the clause's own text; alias references pass through. Any
    * other aggregate call rejects loudly — the state only keeps the
    * declared accumulators. */
  private def havingOnOutputs(spark: SparkSession, level: AggLevel,
      h: Sliced, bad: String => Nothing): String = {
    def refers(a: UnresolvedAttribute, side: Int, col: String) = a.nameParts match {
      case Seq(c) => c.equalsIgnoreCase(col)
      case Seq(q, c) => c.equalsIgnoreCase(col) &&
        level.sides.names(side).nonEmpty && q.equalsIgnoreCase(level.sides.names(side))
      case _ => false
    }
    def subst(e: Expression): Seq[((Int, Int), String)] = e match {
      case f: UnresolvedFunction if isAggCall(spark, f.nameParts.last.toUpperCase) =>
        val fn = f.nameParts.last.toUpperCase
        val out = level.aggs.find(a => a.fn == fn && a.distinct == f.isDistinct &&
          (f.arguments match {
            case Seq(x) if isStarArg(f, x) => a.col.isEmpty
            case Seq(x: UnresolvedAttribute) => a.col.nonEmpty && refers(x, a.side, a.col)
            case _ => false
          })).getOrElse(bad(s"HAVING aggregate $fn(...) does not " +
            "match any select-list aggregate — the state only keeps the " +
            "declared accumulators; alias the aggregate in the select list " +
            "and reference it (by alias or by repeating the exact expression)"))
        Seq(span(f) -> s"`${out.out}`")
      case a: UnresolvedAttribute => level.groupItems.collectFirst {
        case (side, c0, out) if refers(a, side, c0) => span(a) -> s"`$out`"
      }.toSeq
      case other => other.children.flatMap(subst)
    }
    splice(h, subst(h.e))
  }

  /** The join-operator part of the route line, shared by the plain join
    * statement and the agg-over-join statement (which appends its own
    * downstream-operator tail). */
  private def joinExplainCore(spark: SparkSession, sh: StreamJoinShape)
      : String = {
    val (lW, rW) = (sh.left.filters, sh.right.filters)
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

  /** Is this side a DECLARED UPSERT relation whose key EQUALS the join's
    * equi-key (so the normalize keep-last fold can live INSIDE the join
    * state — [[streaming.StreamJoinTws.fusedJoinChangelog]]) with no
    * pushed filters (a pre-normalize filter would change keep-last)? */
  private def joinSideFusable(spark: SparkSession, side: StreamJoinSide,
      filters: Seq[String]): Boolean =
    filters.isEmpty && upsertKeysOf(spark, side.rel).exists(ks =>
      ks.map(_.toLowerCase).toSet ==
        side.keyCols.map(_.toLowerCase).toSet)

  /** Lower a validated join shape onto the TWS join port and return the
    * join's RETRACT changelog stream: `row_kind` (+I/-D) followed by
    * the shape's output columns in statement order — the statement form
    * of StreamExecJoin.java:132 → StreamingJoinOperator.java:36: each
    * side's live rows are a counted multiset per join key
    * (JoinRecordStateViews.java:230, InputSideHasNoUniqueKey), an
    * arriving change point-writes its own side and emits the delta
    * against the OTHER side's live entries. All four join types lower:
    * LEFT/RIGHT/FULL take the pad-bookkeeping processor
    * (OuterJoinRecordStateViews.java:335 — unmatched preserved rows
    * emit NULL-padded, the pad retracts on first match and restores on
    * last retraction). DECLARED UPSERT inputs chain ChangelogNormalize
    * first ([[retractStreamOf]]), or fuse it into the join state
    * ([[joinSideFusable]]). WHERE pushes single-side conjuncts to their
    * side's stream BEFORE the join state ([[joinSides]]).
    * The plain join statement sinks this stream directly (a join output
    * has no upsert key, so the live result is `FINAL_STATE(sink)`); the
    * agg-over-join statement and a composed top-N chain their operator
    * downstream.
    *
    * Scale shape: ONE shuffle per micro-batch per side (groupByKey on
    * the equi-key — the same keyed exchange Flink's operator needs);
    * state access is O(changes) point writes + O(matches) other-side
    * iteration per change, probe-pinned in StreamJoinTwsSpec; NULL
    * equi-key rows filter at the source on unpreserved sides (SQL
    * equality never matches NULL) and route to side-tagged pad-only
    * state keys on preserved sides (the row appears padded, never
    * cross-matches another NULL). */
  private def joinChangelogStream(
      spark: SparkSession, sh: StreamJoinShape): DataFrame = {
    import spark.implicits._
    val (lWhere, rWhere) = (sh.left.filters, sh.right.filters)
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

  /** Lower a group aggregate over an arbitrary RETRACT changelog stream
    * `src` (row_kind + payload columns) onto the TWS aggregate
    * processor; returns the aggregate's changelog — row_kind followed
    * by the outputs in select order. `retractMode` selects the emission
    * encoding (the reference's generateUpdateBefore flag): false = one
    * +U/-D refreshed row per touched group (what an upsert sink
    * consumes), true = exact +I/-U/+U/-D pairs (what a DOWNSTREAM
    * retraction-consuming operator — the composed top-N — requires).
    * Called by [[aggLevel]] only. */
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

  // ---- composed statements: top-N over an aggregate (StreamExecGroup-
  //      Aggregate -> StreamExecRank) and aggregates over aggregates ---

  /** Parse a TWS aggregate over ONE changelog relation: the COUNT(DISTINCT)
    * statement (the one aggregate the sign-algebra route cannot express
    * — Spark bans distinct aggregation on a streaming DataFrame — lowers
    * onto counted-value MapState per group, the same distinct-value
    * data view Flink's planner splits out) and a composed statement's
    * inner aggregate (only the TWS aggregate emits the retract pairs a
    * downstream operator consumes in append mode). Returns the relation,
    * its name in the statement and the parsed level. */
  private def relAggLevel(
      spark: SparkSession, b: Block): (String, String, AggLevel) = {
    val bad = failWith("continuous aggregate over a changelog")
    val (rel, alias) = chainOf(b.from) match {
      case Some(Seq(r)) if isChangelogRel(spark, r.name) => (r.name, r.alias)
      case _ => bad("the inner FROM must be ONE changelog relation " +
        s"or a two-changelog JOIN, got: ${sqlOf(b.from)}")
    }
    encodingIn(namesIn(b.exprs)).foreach(m => bad(s"the statement " +
      s"references encoding column $m — the aggregate consumes the encodings"))
    val name = alias.getOrElse(rel.split('.').last)
    val cols = relationColumns(spark, rel).getOrElse(
      bad(s"cannot resolve $rel")).filterNot(encodingCol)
    (rel, name, levelOf(b,
      Sides(Seq(name), Seq(cols), n => s"column $n not found on $rel"), bad))
  }

  /** Lower one aggregate LEVEL over `src` (row_kind + the level's input
    * columns) onto the TWS aggregate ([[loweredGroupAgg]]): WHERE filters
    * the input (a deterministic payload predicate commutes with a
    * retract changelog — a retraction passes iff the row it retracts
    * did), the aggregate emits in the mode `retract` selects, and HAVING
    * is, in upsert emission, the live predicate (a group leaving the set
    * emits a DELETE) or, in retract-pair emission, a stateless filter (a
    * -U/-D passes iff the row it retracts passed, so set entry nets to
    * an insert and set exit to a delete). Returns the level's changelog
    * — retract pairs (row_kind first) or the [[upsertLog]] (row_kind
    * last) — and its GROUP BY output names, the sink's upsert key. */
  private def aggLevel(spark: SparkSession, level: AggLevel, src: DataFrame,
      retract: Boolean, bad: String => Nothing): (DataFrame, Seq[String]) = {
    val filtered = level.where.foldLeft(src)((d, w) => d.filter(expr(w)))
    val ref = level.sides.ref _
    val agged = loweredGroupAgg(spark, filtered,
      level.groupItems.map { case (side, c0, out) => (ref(side, c0), out) },
      level.aggs.map(a => (a, if (a.col.isEmpty) "" else ref(a.side, a.col))),
      level.selectOrder, retract, bad)
    val having = level.having.map { h =>
      val rewritten = havingOnOutputs(spark, level, h, bad)
      try expr(rewritten)
      catch { case e: Exception => bad(s"HAVING (${h.sql}) did not resolve " +
        s"against the aggregate outputs (rewritten: $rewritten): " +
        e.getMessage) }
    }
    val keys = level.groupItems.map(_._3)
    if (retract)
      (having.fold(agged)(p => agged.filter(coalesce(p, lit(false)))), keys)
    else {
      val live = having.foldLeft(
        col(streaming.Cdc.RowKind) =!= streaming.Cdc.Delete)(
        (l, p) => l && coalesce(p, lit(false)))
      (upsertLog(agged.withColumn(LiveCol, coalesce(live, lit(false)))
        .drop(streaming.Cdc.RowKind)), keys)
    }
  }

  // ---- the continuous route ------------------------------------------

  /** The continuous route of an `INSERT INTO sink SELECT …` over
    * changelogs — the operator chain the reference planner picks for the
    * statement after changelog-mode inference (GroupAggregate / Rank /
    * Join) — with the statement parsed for that chain. [[route]] picks
    * one, [[start]] lowers and starts it, and [[Route.line]] is its
    * EXPLAIN CHANGELOG_MODE route line. */
  private[graft] sealed trait Route {
    def line(spark: SparkSession): String = routeLine(spark, this)
  }

  private[graft] object Route {
    /** A route that can also be a composed statement's subquery. */
    sealed trait Subquery extends Route
    /** A TWS aggregate level ([[aggLevel]]). */
    sealed trait Aggregate extends Subquery

    /** Top-N over a subquery — the reference's StreamExecGroupAggregate
      * -> StreamExecRank chain: `inner` (an aggregate of one changelog,
      * of a two-changelog join or of another aggregate, or a plain
      * two-changelog join) emits RETRACT pairs (the generateUpdateBefore
      * flag Flink sets when a rank consumes an aggregate) and the sorted
      * top-N port ranks its rows — with a joined inner, FOUR chained
      * stateful operators in one query: ChangelogNormalize -> join ->
      * aggregate -> rank. The inner's output is never a
      * DECLARED-monotone upsert table, so the rank strategy is always
      * RetractStrategy. */
    final case class TopNAgg(shape: TopNShape, inner: Subquery) extends Route
    /** Top-N over one changelog relation ([[topNLog]]); `fast` picks
      * UpdateFastStrategy ([[topNFastEligible]]). */
    final case class TopN(shape: TopNShape, fast: Boolean) extends Route
    /** An aggregate over an aggregate subquery `inner` aliased `alias` —
      * StreamExecGroupAggregate feeding a second one, the inner emitting
      * UPDATE_BEFORE/AFTER pairs; any nesting depth. */
    final case class NestedAgg(b: Block, inner: LogicalPlan,
        alias: Option[String]) extends Aggregate
    /** The TWS aggregate over ONE changelog relation ([[relAggLevel]]);
      * as a whole statement, the COUNT(DISTINCT) aggregates. */
    final case class RelAgg(b: Block) extends Aggregate
    /** The sign-algebra aggregate over one changelog, bare or joined to
      * static relations ([[signAgg]]). */
    final case class SignAgg(b: Block, chain: Seq[ChainRel], clIdx: Int)
        extends Route
    /** An aggregate over a two-changelog join ([[joinAgg]]) —
      * StreamExecJoin feeding StreamExecGroupAggregate: the join's +I/-D
      * delta stream re-keys on the GROUP BY columns into the TWS
      * aggregate, two keyed exchanges per micro-batch (equi-key into the
      * join, group key into the aggregate — the same two shuffles
      * Flink's topology has). */
    final case class JoinAgg(join: StreamJoinShape, level: AggLevel)
        extends Aggregate
    /** A two-changelog join ([[joinChangelogStream]]). */
    final case class Join(shape: StreamJoinShape) extends Subquery
  }

  /** The route of INSERT body `select`, or None when it is no continuous
    * changelog statement (the append path's). The body is parsed ONCE
    * with Spark's parser and the route is a match over that parsed plan;
    * a body the parser rejects (window TVFs, MATCH_RECOGNIZE) or that
    * reads no changelog goes to the append path, which keeps its own
    * errors. First match wins, in this order: top-N over a subquery,
    * top-N, aggregate over an aggregate, COUNT(DISTINCT) over one
    * changelog, sign-algebra aggregate, aggregate over a two-changelog
    * join, two-changelog join. A shape a route owns but cannot lower (a
    * malformed join, a bad subquery) rejects here with that route's
    * error — never with the append path's misleading watermark
    * complaint. */
  private[graft] def route(spark: SparkSession, select: String): Option[Route] = {
    val plan = parsed(spark, select).getOrElse(return None)
    topNRoute(spark, plan).orElse(block(plan).flatMap { b =>
      val chain = chainOf(b.from)
      val changelogs = chain.toSeq.flatMap(changelogsIn(spark, _))
      val nested = b.from match {
        case SubqueryAlias(id, inner) if aggregates(spark, b) &&
            refsChangelogDeep(spark, inner) =>
          Some(Route.NestedAgg(b, inner, aliasOf(id)))
        case _ => None
      }
      // COUNT(DISTINCT) has no sign-algebra form: the TWS aggregate's
      // counted-value state
      def countsDistinct = b.items.exists(_.exists {
        case f: UnresolvedFunction =>
          f.isDistinct && f.nameParts.last.equalsIgnoreCase("COUNT")
        case _ => false
      })
      // the sign algebra: an aggregate of ONE changelog, bare or joined
      // to other relations, that does not read row_kind/cdc_ts itself
      // (that is a raw changelog passthrough, the append path's job)
      def signAggregates = encodingIn(namesIn(b.exprs ++ b.on),
          Seq(streaming.Cdc.RowKind, "cdc_ts")).isEmpty &&
        (b.groupBy.isDefined || calls(b.items ++ b.having.map(_.e)).exists(rewritable))
      nested
        .orElse(Option.when(chain.exists(_.size == 1) &&
          changelogs.nonEmpty && countsDistinct)(Route.RelAgg(b)))
        .orElse(Option.when(changelogs.size == 1 && signAggregates)(
          Route.SignAgg(b, chain.get, changelogs.head)))
        .orElse(Option.when(changelogs.size >= 2)(
          if (b.having.isDefined || aggregates(spark, b)) joinAgg(spark, b)
          else Route.Join(joinShape(spark, b))))
    })
  }

  /** The route of a composed statement's subquery `p`: an aggregate of
    * a deeper subquery, a plain two-changelog join, an aggregate of a
    * two-changelog join, else an aggregate of ONE changelog relation. */
  private def subqueryRoute(spark: SparkSession, p: LogicalPlan): Route.Subquery = {
    val b = block(p).getOrElse(failWith("continuous aggregate over a " +
      "changelog")(s"unparseable inner statement: ${sqlOf(p)}"))
    b.from match {
      case SubqueryAlias(id, deeper) if !deeper.isInstanceOf[UnresolvedRelation] =>
        Route.NestedAgg(b, deeper, aliasOf(id))
      case from if chainOf(from).exists(
          _.count(r => isChangelogRel(spark, r.name)) >= 2) =>
        if (aggregates(spark, b) || b.having.isDefined) joinAgg(spark, b)
        else Route.Join(joinShape(spark, b))
      case _ => Route.RelAgg(b)
    }
  }

  private val RetractRank =
    "RetractStrategy (RetractableTopNFunction: MapState dataState + sorted counts)"
  private val ByGroupKey = " -> upsert changelog keyed by the GROUP BY columns"

  /** The route line EXPLAIN CHANGELOG_MODE prints for a statement on
    * route `r`: the operator chain, and the sink encoding it writes. */
  private def routeLine(spark: SparkSession, r: Route): String = r match {
    case Route.TopNAgg(shape, inner) =>
      subqueryLine(spark, inner) + s" -> continuous top-N, $RetractRank " +
        s"over (${(shape.parts :+ shape.rnAlias).mkString(", ")}) " +
        "-> upsert changelog keyed by (partition columns, rank)"
    case Route.TopN(_, fast) =>
      val strategy =
        if (fast) "UpdateFastStrategy (FastTop1Function: O(1) leader state)"
        else RetractRank
      s"continuous top-N, $strategy -> upsert changelog keyed by " +
        "(partition columns, rank)"
    case _: Route.NestedAgg =>
      "two-level continuous aggregation (inner GROUP AGGREGATE in " +
        "RETRACT pair emission -> outer GROUP AGGREGATE, both " +
        "GroupAggFunction on transformWithState) -> upsert changelog " +
        "keyed by the OUTER GROUP BY columns"
    case _: Route.RelAgg =>
      "continuous retraction-consuming aggregate (GroupAggFunction " +
        "on transformWithState — COUNT DISTINCT via counted-value " +
        "MapState)" + ByGroupKey
    case _: Route.SignAgg =>
      "continuous retraction-consuming aggregate (update mode)" + ByGroupKey
    case Route.JoinAgg(join, level) => joinAggLine(spark, join, level) + ByGroupKey
    case Route.Join(sh) =>
      joinExplainCore(spark, sh) + " -> retract changelog sink (+I/-D)"
  }

  /** The stage line of a subquery route inside a composed statement. */
  private def subqueryLine(spark: SparkSession, r: Route.Subquery): String =
    r match {
      case _: Route.NestedAgg =>
        "nested continuous aggregation tree (one GROUP AGGREGATE per " +
          "level, each in RETRACT pair emission)"
      case Route.RelAgg(b) =>
        val (rel, _, level) = relAggLevel(spark, b)
        "retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
          s"transformWithState) over $rel — group key: (" +
          level.groupItems.map(_._3).mkString(", ") + "); aggregates: " +
          level.aggs.map(a => a.srcText + " AS " + a.out).mkString(", ") +
          level.having.map(h => s"; HAVING ${h.sql}").getOrElse("") +
          " [RETRACT pair emission]"
      case Route.JoinAgg(join, level) =>
        joinAggLine(spark, join, level) + " [RETRACT pair emission]"
      case Route.Join(sh) =>
        joinExplainCore(spark, sh) + " [retract +I/-D emission]"
    }

  /** The join operator feeding the retraction-consuming group aggregate,
    * one topology. */
  private def joinAggLine(spark: SparkSession, join: StreamJoinShape,
      level: AggLevel): String = {
    val keys =
      if (level.groupItems.isEmpty) "GLOBAL"
      else level.groupItems.map(_._3).mkString(", ")
    val aggList = level.aggs.map(a => a.srcText + " AS " + a.out).mkString(", ")
    joinExplainCore(spark, join) +
      " -> retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
      "transformWithState; per-group scalar accumulators, counted-value " +
      "MapState for MIN/MAX/COUNT DISTINCT with the current extreme " +
      s"cached) — group key: ($keys); aggregates: $aggList" +
      level.having.map(h => s"; HAVING ${h.sql}").getOrElse("")
  }

  /** Lower aggregate route `r` onto [[aggLevel]] over its input stream:
    * the relation's retract stream, the join's delta stream, or — for an
    * aggregate over an aggregate — the deeper level's retract pairs (the
    * recursion behind arbitrary-depth aggregation trees). `bad` words
    * the enclosing statement's errors. */
  private def lowerAgg(spark: SparkSession, r: Route.Aggregate,
      retract: Boolean, bad: String => Nothing): (DataFrame, Seq[String]) =
    r match {
      case Route.NestedAgg(b, inner, alias) =>
        if (!aggregates(spark, b)) bad(
          "a nested subquery level must aggregate (plain projections " +
            "fold into the level above); got: " +
            b.items.map(sqlOf).mkString(", "))
        val src = subqueryStream(spark, subqueryRoute(spark, inner), bad)
        val name = alias.getOrElse("")
        val cols = src.columns.toSeq.filterNot(_ == streaming.Cdc.RowKind)
        val level = levelOf(b, Sides(Seq(name), Seq(cols), n =>
          s"column $n is not an output of the inner aggregate " +
            s"(outputs: ${cols.mkString(", ")})"), bad)
        aggLevel(spark, level, if (name.isEmpty) src else src.alias(name),
          retract, bad)
      case Route.RelAgg(b) =>
        val (rel, name, level) = relAggLevel(spark, b)
        aggLevel(spark, level, retractStreamOf(spark, rel).alias(name),
          retract, bad)
      case Route.JoinAgg(join, level) =>
        aggLevel(spark, level, joinChangelogStream(spark, join), retract, bad)
    }

  /** A subquery route's RETRACT changelog (row_kind + output columns):
    * a plain join's +I/-D delta stream (the rank-over-join plan —
    * StreamExecJoin feeding StreamExecRank directly), or an aggregate
    * level in retract-pair emission. */
  private def subqueryStream(spark: SparkSession, r: Route.Subquery,
      bad: String => Nothing): DataFrame = r match {
    case Route.Join(sh) => joinChangelogStream(spark, sh)
    case agg: Route.Aggregate => lowerAgg(spark, agg, retract = true, bad)._1
  }

  /** Lower route `r` and start it as the continuous query that writes
    * `sink`: an upsert changelog keyed by the GROUP BY columns (the
    * aggregates) or by (partition columns, rank) (the top-N routes)
    * through [[upsertSinkWriter]], or the join's RETRACT changelog
    * (+I/-D with multiplicity, no upsert key) appended to a plain table.
    * [[startStream]] picks the provider from the lowered plan: RocksDB
    * for the transformWithState routes, the session's provider for the
    * sign-algebra aggregate and the fast top-1 (flatMapGroupsWithState). */
  private[graft] def start(spark: SparkSession, sink: String, r: Route,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (log, outputMode, write) = r match {
      case Route.TopNAgg(shape, inner) =>
        val src = subqueryStream(spark, inner,
          failWith("continuous top-N over an aggregate"))
        val (out, keys) = topNLog(spark, shape, src, fast = false)
        (out, "append", upsertSinkWriter(spark, sink, keys))
      case Route.TopN(shape, fast) =>
        // UpdateFastStrategy reads the upsert stream RAW (no
        // ChangelogNormalize — the whole point: the leader can never be
        // demoted, so no retraction state is needed)
        val src =
          if (fast) changelogReadStream(spark, shape.rel)
          else retractStreamOf(spark, shape.rel)
        val (out, keys) = topNLog(spark, shape, src, fast)
        (out, "append", upsertSinkWriter(spark, sink, keys))
      case Route.SignAgg(b, chain, clIdx) =>
        val (df, keys, monotoneCols) = signAgg(spark, b, chain, clIdx)
        (upsertLog(df), "update",
          upsertSinkWriter(spark, sink, keys, monotoneCols))
      case Route.Join(sh) =>
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
        (joinChangelogStream(spark, sh), "append",
          (log: DataFrame, _: Long) => log.write.mode("append").saveAsTable(sink))
      case agg: Route.Aggregate =>
        val what = agg match {
          case _: Route.NestedAgg => "continuous aggregate over an aggregate"
          case _: Route.RelAgg => "continuous aggregate over a changelog"
          case _: Route.JoinAgg =>
            "continuous aggregate over a two-changelog JOIN"
        }
        val (log, keys) = lowerAgg(spark, agg, retract = false, failWith(what))
        (log, "append", upsertSinkWriter(spark, sink, keys))
    }
    // every micro-batch, stamped with its commit sequence, goes to `write`.
    // The stamp is a zero-argument UDF, which generated code reads through
    // its references: a Long literal is inlined into the generated Java,
    // so every batch would compile a class of its own.
    startStream(spark, log, outputMode, checkpointDir)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stamp = udf(() => batchId).asNonNullable()
        write(batch.withColumn(SeqCol, stamp()), batchId)
      }.start())
  }

  /** Keep-last collapse of an upsert sink a continuous route writes:
    * the CURRENT aggregate state per key (rows whose latest change is a
    * -D are gone) — what an external upsert sink's compacted view would show.
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
