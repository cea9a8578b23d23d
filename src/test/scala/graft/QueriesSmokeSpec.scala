package graft

import graft.operators.{ChangelogHistory, ContinuousGate, ContinuousGates,
  GateSource, Upserts}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must run at sf0.001 and produce a sane result.
  * Exact-value correctness is covered by the DuckDB oracle gate
  * (tools/check_oracles.py); this suite catches runtime regressions fast.
  * After a continuous gate runs (its tables then exist), each of its
  * statements' EXPLAIN CHANGELOG_MODE route lines is pinned byte for
  * byte. */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Queries where an empty result at sf0.001 is legitimate (tiny data can
  // yield zero qualifying pairs).
  private val mayBeEmpty = Set("q34_minhash_lsh",
    "q27_interval_join", "q05_anti_join_no_orders")

  private val Upsert = " -> upsert changelog keyed by "
  private val Ranked = Upsert + "(partition columns, rank)"
  private val RetractTopN = "continuous top-N, RetractStrategy " +
    "(RetractableTopNFunction: MapState dataState + sorted counts)"
  private val TopN = "  route: " + RetractTopN + Ranked
  private val UpdateAgg = "  route: continuous retraction-consuming " +
    "aggregate (update mode)" + Upsert + "the GROUP BY columns"
  private def join(kind: String, q: String, extra: String = "") =
    s"  route: continuous two-sided retraction JOIN ($kind, " +
      "StreamingJoinOperator) — per-side state: MapState[payload -> live " +
      s"count] per join key (left cl_${q}_ord, right cl_${q}_cust; key: " +
      s"o_custkey = c_custkey); ${extra}ChangelogNormalize FUSED into the " +
      "join state on the right side (upsert key = join key: one keep-last " +
      "(seq, payload, live) triple per join key, one state boundary " +
      "instead of two) -> "
  private val JoinSink = "retract changelog sink (+I/-D)"
  private val GroupAgg = "retraction-consuming GROUP AGGREGATE " +
    "(GroupAggFunction on transformWithState; per-group scalar " +
    "accumulators, counted-value MapState for MIN/MAX/COUNT DISTINCT with " +
    "the current extreme cached) — group key: (seg); aggregates: "

  /** Each continuous gate's route lines in statement start order. */
  private val gateRoutes: Map[String, Seq[String]] = Map(
    "q153_stream_retractable_topn" -> Seq(TopN),
    "q154_stream_upsert_aggregate" -> Seq(UpdateAgg),
    "q156_stream_topn_string_order" -> Seq(TopN),
    "q157_stream_topn_decimal_asc" -> Seq(TopN),
    "q158_stream_fasttop1_monotone" -> Seq(UpdateAgg,
      "  route: continuous top-N, UpdateFastStrategy (FastTop1Function: " +
        "O(1) leader state)" + Ranked),
    "q159_stream_topn_multicol" -> Seq(TopN),
    "q160_stream_join" -> Seq(join("INNER", "q160") + JoinSink),
    "q161_stream_topn_expr" -> Seq(TopN),
    "q162_stream_outer_join" -> Seq(join("LEFT", "q162",
      "pad bookkeeping: per-side live-total counters " +
        "(OuterJoinRecordStateView); pushed filters: " +
        "left(o.price > 150000.0); ") + JoinSink),
    "q163_stream_join_agg" -> Seq(join("INNER", "q163") + GroupAgg +
      "COUNT(*) AS cnt, COUNT(DISTINCT o.o_custkey) AS custs, " +
      "SUM(o.price) AS rev, MIN(o.price) AS lo, MAX(o.price) AS hi, " +
      "AVG(o.price) AS avg_p" + Upsert + "the GROUP BY columns"),
    "q164_stream_topn_over_agg" -> Seq(join("INNER", "q164") + GroupAgg +
      "SUM(o.price) AS rev [RETRACT pair emission] -> " + RetractTopN +
      " over (rn)" + Ranked),
    "q165_stream_count_distinct" -> Seq("  route: continuous " +
      "retraction-consuming aggregate (GroupAggFunction on " +
      "transformWithState — COUNT DISTINCT via counted-value MapState)" +
      Upsert + "the GROUP BY columns"),
    "q166_stream_nested_agg" -> Seq("  route: two-level continuous " +
      "aggregation (inner GROUP AGGREGATE in RETRACT pair emission -> " +
      "outer GROUP AGGREGATE, both GroupAggFunction on " +
      "transformWithState)" + Upsert + "the OUTER GROUP BY columns"))

  private def routeLine(statement: String): String =
    Engine.sql(spark, "EXPLAIN CHANGELOG_MODE " + statement)
      .collect().head.getString(0).split("\n")
      .find(_.startsWith("  route: ")).getOrElse("<none>")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, TestSpark.sf)
      assert(df.schema.nonEmpty, "empty schema")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
      ContinuousGates.gates.find(_.name == name).foreach(g =>
        assert(g.inserts.map(routeLine) == gateRoutes(name)))
    }
  }

  test("a continuous gate whose statement fails to start stops the " +
      "started ones and leaves no checkpoint behind") {
    val name = "gate_failed_start"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpoints = tmp.list().filter(_.startsWith(s"graft-$name")).toSet
    val (dirsBefore, streamsBefore) = (checkpoints, spark.streams.active.length)
    val seq = ChangelogSql.SeqCol
    val gate = ContinuousGate(name,
      Seq(GateSource("cl_gate_fail", Map.empty, (s, _) => Seq(
        ChangelogHistory.stamped(s.range(1, 9).select(col("id").as("k"),
          (col("id") % 3).as("g")), "+I", 1)))),
      Seq("cl_gate_fail_a" -> s"g BIGINT, n BIGINT, row_kind STRING, $seq BIGINT",
        "cl_gate_fail_b" -> s"g BIGINT, n BIGINT, row_kind STRING, $seq BIGINT"),
      Seq("INSERT INTO cl_gate_fail_a SELECT g, COUNT(*) AS n " +
          "FROM cl_gate_fail GROUP BY g",
        "INSERT INTO cl_gate_fail_b SELECT g, COUNT(no_such_col) AS n " +
          "FROM cl_gate_fail GROUP BY g"),
      Upserts, identity, "")
    val e = intercept[Exception](ContinuousGates.runGate(spark, TestSpark.sf, gate))
    assert(e.getMessage.contains("no_such_col"), e.getMessage)
    assert(checkpoints == dirsBefore)
    assert(spark.streams.active.length == streamsBefore)
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("no oracle is null or blank (object-initialization-order guard)") {
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(v != null && v.trim.nonEmpty, s"$k has null/blank oracle")
    }
  }

  test("q01 pricing summary has the expected group structure") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, TestSpark.sf).collect()
    val flags = rows.map(_.getString(0)).toSet
    assert(rows.length >= 3 && flags.subsetOf(Set("A", "N", "R")))
  }
}
