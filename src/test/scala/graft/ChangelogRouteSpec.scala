package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The continuous route decision, one small INSERT body per route and
  * per subquery route of a composed top-N: the route
  * [[ChangelogSql.route]] picks, and the EXPLAIN CHANGELOG_MODE route
  * line, pinned byte for byte (it is user-facing text). The tables are
  * schema-only and nothing streams. */
class ChangelogRouteSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val A = "rt_a"
  private val B = "rt_b"
  private val U = "rt_u"

  override def beforeAll(): Unit = {
    Seq(A, B, U).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $A (row_kind STRING, cdc_ts BIGINT,
      g STRING, k STRING, x DOUBLE) USING parquet""")
    spark.sql(s"""CREATE TABLE $B (row_kind STRING, cdc_ts BIGINT,
      k STRING, seg STRING) USING parquet""")
    // an upsert changelog with a declared-monotone column: the input a
    // DESC top-1 takes UpdateFastStrategy over
    spark.sql(s"""CREATE TABLE $U (row_kind STRING, g STRING, n BIGINT,
      ${ChangelogSql.SeqCol} BIGINT) USING parquet TBLPROPERTIES
      ('graft.upsert.keys' = 'g', 'graft.monotone.cols' = 'n')""")
  }

  override def afterAll(): Unit =
    Seq(A, B, U).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)

  /** `kind`: the route's name (a composed top-N's with its subquery's
    * in parentheses), None for the append path. */
  private case class Case(name: String, kind: Option[String],
      select: String, line: String)

  private def kindOf(r: ChangelogSql.Route): String = r match {
    case ChangelogSql.Route.TopNAgg(_, inner) =>
      s"TopNAgg(${inner.getClass.getSimpleName})"
    case ChangelogSql.Route.TopN(_, true) => "TopN(fast)"
    case other => other.getClass.getSimpleName
  }

  private val cases = Seq(
    Case("topn_agg_rel", Some("TopNAgg(RelAgg)"),
      s"""SELECT g, n, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, g ASC) AS rn
        FROM ( SELECT g, COUNT(*) AS n FROM $A GROUP BY g
               HAVING COUNT(*) > 1 )
      ) WHERE rn <= 2""",
      "retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
      "transformWithState) over rt_a — group key: (g); " +
      "aggregates: COUNT(*) AS n; HAVING COUNT(*) > 1 [RETRACT " +
      "pair emission] -> continuous top-N, RetractStrategy " +
      "(RetractableTopNFunction: MapState dataState + sorted " +
      "counts) over (rn) -> upsert changelog keyed by (partition " +
      "columns, rank)"),
    Case("topn_agg_join", Some("TopNAgg(JoinAgg)"),
      s"""SELECT seg, n, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC) AS rn
        FROM ( SELECT b.seg, COUNT(*) AS n, SUM(a.x) AS total
               FROM $A a JOIN $B b ON a.k = b.k GROUP BY b.seg )
      ) WHERE rn <= 3""",
      "continuous two-sided retraction JOIN (INNER, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_a, right rt_b; key: k " +
      "= k) -> retraction-consuming GROUP AGGREGATE " +
      "(GroupAggFunction on transformWithState; per-group scalar " +
      "accumulators, counted-value MapState for MIN/MAX/COUNT " +
      "DISTINCT with the current extreme cached) — group key: " +
      "(seg); aggregates: COUNT(*) AS n, SUM(a.x) AS total " +
      "[RETRACT pair emission] -> continuous top-N, " +
      "RetractStrategy (RetractableTopNFunction: MapState " +
      "dataState + sorted counts) over (rn) -> upsert changelog " +
      "keyed by (partition columns, rank)"),
    Case("topn_agg_plain_join", Some("TopNAgg(Join)"),
      s"""SELECT seg, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY x DESC) AS rn
        FROM ( SELECT b.seg, a.x FROM $A a JOIN $B b ON a.k = b.k )
      ) WHERE rn <= 2""",
      "continuous two-sided retraction JOIN (INNER, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_a, right rt_b; key: k " +
      "= k) [retract +I/-D emission] -> continuous top-N, " +
      "RetractStrategy (RetractableTopNFunction: MapState " +
      "dataState + sorted counts) over (seg, rn) -> upsert " +
      "changelog keyed by (partition columns, rank)"),
    Case("topn_agg_nested", Some("TopNAgg(NestedAgg)"),
      s"""SELECT g, total, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY total DESC) AS rn
        FROM ( SELECT g, SUM(s) AS total
               FROM ( SELECT g, k, SUM(x) AS s FROM $A GROUP BY g, k )
               GROUP BY g )
      ) WHERE rn <= 2""",
      "nested continuous aggregation tree (one GROUP AGGREGATE " +
      "per level, each in RETRACT pair emission) -> continuous " +
      "top-N, RetractStrategy (RetractableTopNFunction: MapState " +
      "dataState + sorted counts) over (rn) -> upsert changelog " +
      "keyed by (partition columns, rank)"),
    Case("topn_retract", Some("TopN"),
      s"""SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
        FROM $A) z WHERE rn <= 2""",
      "continuous top-N, RetractStrategy " +
      "(RetractableTopNFunction: MapState dataState + sorted " +
      "counts) -> upsert changelog keyed by (partition columns, " +
      "rank)"),
    Case("topn_fast", Some("TopN(fast)"),
      s"""SELECT g, n, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC) AS rn
        FROM $U) z WHERE rn <= 1""",
      "continuous top-N, UpdateFastStrategy (FastTop1Function: " +
      "O(1) leader state) -> upsert changelog keyed by (partition " +
      "columns, rank)"),
    Case("nested", Some("NestedAgg"),
      s"""SELECT g, COUNT(*) AS subs, SUM(s) AS total
        FROM ( SELECT g, k, SUM(x) AS s FROM $A GROUP BY g, k ) GROUP BY g""",
      "two-level continuous aggregation (inner GROUP AGGREGATE in " +
      "RETRACT pair emission -> outer GROUP AGGREGATE, both " +
      "GroupAggFunction on transformWithState) -> upsert " +
      "changelog keyed by the OUTER GROUP BY columns"),
    Case("count_distinct", Some("RelAgg"),
      s"""SELECT g, COUNT(DISTINCT k) AS ks, COUNT(*) AS n
        FROM $A GROUP BY g""",
      "continuous retraction-consuming aggregate " +
      "(GroupAggFunction on transformWithState — COUNT DISTINCT " +
      "via counted-value MapState) -> upsert changelog keyed by " +
      "the GROUP BY columns"),
    Case("sign_agg", Some("SignAgg"),
      s"""SELECT g, COUNT(*) AS n, SUM(x) AS total
        FROM $A WHERE x > 0 GROUP BY g""",
      "continuous retraction-consuming aggregate (update mode) -> " +
      "upsert changelog keyed by the GROUP BY columns"),
    Case("join_agg", Some("JoinAgg"),
      s"""SELECT b.seg, COUNT(*) AS n, SUM(a.x) AS total
        FROM $A a JOIN $B b ON a.k = b.k WHERE a.x > 0
        GROUP BY b.seg HAVING COUNT(*) > 1""",
      "continuous two-sided retraction JOIN (INNER, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_a, right rt_b; key: k " +
      "= k); pushed filters: left(a.x > 0) -> " +
      "retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
      "transformWithState; per-group scalar accumulators, " +
      "counted-value MapState for MIN/MAX/COUNT DISTINCT with the " +
      "current extreme cached) — group key: (seg); aggregates: " +
      "COUNT(*) AS n, SUM(a.x) AS total; HAVING COUNT(*) > 1 -> " +
      "upsert changelog keyed by the GROUP BY columns"),
    Case("join", Some("Join"),
      s"""SELECT a.g, a.x, b.seg FROM $A a LEFT JOIN $B b
        ON a.k = b.k WHERE a.x > 0""",
      "continuous two-sided retraction JOIN (LEFT, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_a, right rt_b; key: k " +
      "= k); pad bookkeeping: per-side live-total counters " +
      "(OuterJoinRecordStateView); pushed filters: left(a.x > 0) " +
      "-> retract changelog sink (+I/-D)"),
    Case("join_fused", Some("Join"),
      s"""SELECT u.g, u.n, a.x FROM $U u JOIN $A a
        ON u.g = a.g""",
      "continuous two-sided retraction JOIN (INNER, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_u, right rt_a; key: g " +
      "= g); ChangelogNormalize FUSED into the join state on the " +
      "left side (upsert key = join key: one keep-last (seq, " +
      "payload, live) triple per join key, one state boundary " +
      "instead of two) -> retract changelog sink (+I/-D)"),
    Case("append", None,
      s"SELECT row_kind, g, x FROM $A",
      "append INSERT (continuous append-mode when a referenced " +
      "source declares WATERMARK/PROCTIME, plain batch write " +
      "otherwise)"),
    // the same shapes spelled differently: the rank bound written
    // `N >= rn`, an aliased ranked subquery over an aggregate, an
    // aggregate aliased without AS
    Case("topn_bound_first", Some("TopN"),
      s"""SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
        FROM $A) z WHERE 5 >= rn""",
      "continuous top-N, RetractStrategy " +
      "(RetractableTopNFunction: MapState dataState + sorted " +
      "counts) -> upsert changelog keyed by (partition columns, " +
      "rank)"),
    Case("topn_agg_ranked_alias", Some("TopNAgg(RelAgg)"),
      s"""SELECT z.g, z.n, z.rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC) AS rn
        FROM ( SELECT g, COUNT(*) AS n FROM $A GROUP BY g ) t
      ) z WHERE z.rn <= 2""",
      "retraction-consuming GROUP AGGREGATE (GroupAggFunction on " +
      "transformWithState) over rt_a — group key: (g); " +
      "aggregates: COUNT(*) AS n [RETRACT pair emission] -> " +
      "continuous top-N, RetractStrategy (RetractableTopNFunction: " +
      "MapState dataState + sorted counts) over (rn) -> upsert " +
      "changelog keyed by (partition columns, rank)"),
    Case("join_agg_implicit_alias", Some("JoinAgg"),
      s"""SELECT b.seg, COUNT(*) n FROM $A a JOIN $B b ON a.k = b.k
        GROUP BY b.seg""",
      "continuous two-sided retraction JOIN (INNER, " +
      "StreamingJoinOperator) — per-side state: MapState[payload " +
      "-> live count] per join key (left rt_a, right rt_b; key: k " +
      "= k) -> retraction-consuming GROUP AGGREGATE " +
      "(GroupAggFunction on transformWithState; per-group scalar " +
      "accumulators, counted-value MapState for MIN/MAX/COUNT " +
      "DISTINCT with the current extreme cached) — group key: " +
      "(seg); aggregates: COUNT(*) AS n -> upsert changelog keyed " +
      "by the GROUP BY columns"))

  cases.foreach { c =>
    test(s"route and EXPLAIN route line: ${c.name}") {
      assert(ChangelogSql.route(spark, c.select).map(kindOf) == c.kind)
      val plan = Engine.sql(spark,
        s"EXPLAIN CHANGELOG_MODE INSERT INTO rt_sink ${c.select}")
        .collect().head.getString(0)
      val line = plan.split("\n").find(_.startsWith("  route: "))
        .map(_.stripPrefix("  route: "))
      assert(line.contains(c.line), plan)
    }
  }
}
