package graft

import graft.cep.MatchRecognize
import org.scalatest.funsuite.AnyFunSuite

/** Full-statement MATCH_RECOGNIZE SQL dispatch (SqlClient.java:62 ->
  * StreamExecMatch analog): the statement path must produce exactly what
  * the builder API produces, pick the executor from the output mode, and
  * be reachable through Engine.sql without hijacking plain queries. */
class MatchSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(): Unit = {
    import spark.implicits._
    // user 1: signup(10) click(20) click(30) buy(40); user 2: signup only
    Seq(
      (1L, 10L, 1L, "signup"), (1L, 20L, 2L, "click"),
      (1L, 30L, 3L, "click"), (1L, 40L, 4L, "buy"),
      (2L, 15L, 5L, "signup"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_events")
  }

  private val clause = """
    PARTITION BY uid
    ORDER BY t, eid
    MEASURES A.t AS s_t, COUNT(B.*) AS n_clicks, LAST(C.t) AS buy_t
    ONE ROW PER MATCH
    PATTERN (A B+? C)
    AFTER MATCH SKIP TO NEXT ROW
    DEFINE A AS typ = 'signup', B AS typ = 'click', C AS typ = 'buy'
  """

  test("statement path equals the builder API (MEASURES mode)") {
    import spark.implicits._
    fixture()
    val stmt = Engine.sql(spark, s"""
      SELECT uid, s_t, n_clicks, buy_t
      FROM mr_events MATCH_RECOGNIZE ($clause) AS m
      ORDER BY uid, s_t
    """).as[(Long, Long, Long, Long)].collect().toSeq
    assert(stmt == Seq((1L, 10L, 2L, 40L)))
    val api = MatchRecognize.runMeasures(spark, spark.table("mr_events"), clause)
      .select("uid", "s_t", "n_clicks", "buy_t")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(stmt.toSet == api)
  }

  test("SELECT * keeps every output column; WHERE filters output rows") {
    fixture()
    val all = Engine.sql(spark,
      s"SELECT * FROM mr_events MATCH_RECOGNIZE ($clause)")
    assert(all.columns.toSet == Set("uid", "match_no", "s_t", "n_clicks", "buy_t"))
    val none = Engine.sql(spark, s"""
      SELECT uid, n_clicks FROM mr_events MATCH_RECOGNIZE ($clause)
      WHERE n_clicks > 99
    """)
    assert(none.count() == 0L)
  }

  test("SUBSET union variables measure over every member's bound events") {
    import spark.implicits._
    fixture()
    val got = Engine.sql(spark, s"""
      SELECT uid, n_edge, first_edge_t, last_edge_t, sum_edge_t
      FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(U.*) AS n_edge, FIRST(U.t) AS first_edge_t,
                 LAST(U.t) AS last_edge_t, SUM(U.t) AS sum_edge_t
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B+? C)
        SUBSET U = (A, C)
        DEFINE A AS typ = 'signup', B AS typ = 'click', C AS typ = 'buy'
      )
    """).as[(Long, Long, Long, Long, Long)].collect().toSeq
    // U unions the signup (t=10) and buy (t=40) bindings
    assert(got == Seq((1L, 2L, 10L, 40L, 50L)), s"$got")
    // bad subsets reject loudly
    val eCol = intercept[IllegalArgumentException](Engine.sql(spark, s"""
      SELECT * FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid ORDER BY t, eid
        MEASURES COUNT(A.*) AS n ONE ROW PER MATCH
        PATTERN (A C) SUBSET A = (C)
        DEFINE A AS typ = 'signup', C AS typ = 'buy')"""))
    assert(eCol.getMessage.contains("collides"))
    val eUnk = intercept[IllegalArgumentException](Engine.sql(spark, s"""
      SELECT * FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid ORDER BY t, eid
        MEASURES COUNT(U.*) AS n ONE ROW PER MATCH
        PATTERN (A C) SUBSET U = (A, Z)
        DEFINE A AS typ = 'signup', C AS typ = 'buy')"""))
    assert(eUnk.getMessage.contains("unknown variable"))
  }

  test("AFTER MATCH SKIP TO FIRST with alternation through the SQL front door") {
    import spark.implicits._
    Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "p"),
      (1L, 4L, 4L, "p"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_alt_skip")
    val got = Engine.sql(spark, s"""
      SELECT uid, a_t, b_t, p_t FROM mr_alt_skip MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES FIRST(A.t) AS a_t, FIRST(B.t) AS b_t, FIRST(P.t) AS p_t
        ONE ROW PER MATCH
        PATTERN ((A | B) P)
        AFTER MATCH SKIP TO FIRST A
        DEFINE A AS typ = 'a', B AS typ = 'b', P AS typ = 'p'
      )
    """).collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getLong(1),
      if (r.isNullAt(2)) null else r.getLong(2), r.getLong(3))).toSet
    // the A-boundary (t=1) lets the B-branch run survive the preferred
    // emission: BOTH completions at p@3 emit — SKIP PAST LAST would
    // emit only the A-branch match (AltCepSpec pins the library level)
    assert(got == Set((1L, 1L, null, 3L), (1L, null, 2L, 3L)), s"$got")
  }

  test("SKIP TO FIRST/LAST of a variable repeated across branches bounds on every leaf") {
    import spark.implicits._
    // (match_no, A.t, end time) of PATTERN (pattern) over `view`; `ends`
    // are the variables that can close a match
    def run(view: String, pattern: String, skip: String,
        ends: Seq[String]): Seq[(Long, Long, Long)] = {
      val measures = ("FIRST(A.t) AS a_t" +:
        ends.map(v => s"LAST($v.t) AS ${v.toLowerCase}_t")).mkString(", ")
      val defines = ("A" +: ends).map(v => s"$v AS typ = '${v.toLowerCase}'")
        .mkString(", ")
      val end = ends.map(v => s"${v.toLowerCase}_t").mkString("COALESCE(", ", ", ")")
      Engine.sql(spark, s"""
        SELECT CAST(match_no AS BIGINT), a_t, $end FROM $view MATCH_RECOGNIZE (
          PARTITION BY uid ORDER BY t, eid
          MEASURES $measures
          ONE ROW PER MATCH
          PATTERN ($pattern)
          AFTER MATCH $skip
          DEFINE $defines)""").as[(Long, Long, Long)].collect().toSeq.sorted
    }
    // only the left branch can match on b@3, only the right one on c@3
    for (close <- Seq("b", "c")) {
      Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "a"), (1L, 3L, 3L, close))
        .toDF("uid", "t", "eid", "typ").createOrReplaceTempView(s"mr_rep_$close")
    }
    for (skip <- Seq("SKIP TO FIRST A", "SKIP TO LAST A")) {
      val altB = run("mr_rep_b", "A B | A C", skip, Seq("B", "C"))
      val b = run("mr_rep_b", "A B", skip, Seq("B"))
      assert(altB == b, s"[$skip] (A B | A C) $altB != (A B) $b")
      val altC = run("mr_rep_c", "A B | A C", skip, Seq("B", "C"))
      val c = run("mr_rep_c", "A C", skip, Seq("C"))
      assert(altC == c, s"[$skip] (A B | A C) $altC != (A C) $c")
      // the boundary is a@1, so the run that started at a@2 survives: a
      // left-branch win used to find no bound A (+inf) and drop it
      assert(altB.map(_._2) == Seq(1L, 2L) && altC.map(_._2) == Seq(1L, 2L),
        s"[$skip] b: $altB c: $altC")
    }
  }

  test("ALL ROWS PER MATCH dispatches to the all-rows executor") {
    import spark.implicits._
    fixture()
    val rows = Engine.sql(spark, s"""
      SELECT uid, match_no, classifier, t
      FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        ALL ROWS PER MATCH
        PATTERN (A B+? C)
        AFTER MATCH SKIP TO NEXT ROW
        DEFINE A AS typ = 'signup', B AS typ = 'click', C AS typ = 'buy'
      ) ORDER BY uid, match_no, t
    """).as[(Long, Long, String, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, 1L, "A", 10L), (1L, 1L, "B", 20L),
      (1L, 1L, "B", 30L), (1L, 1L, "C", 40L)))
  }

  test("no MEASURES falls back to the raw step_times executor") {
    fixture()
    val raw = Engine.sql(spark, s"""
      SELECT * FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        PATTERN (A C)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'click', C AS typ = 'buy'
      )
    """)
    assert(raw.columns.contains("step_times") || raw.columns.contains("key"))
    assert(raw.count() == 1L)
  }

  test("expressions and renames in the outer SELECT; parens in DEFINE") {
    import spark.implicits._
    fixture()
    val got = Engine.sql(spark, s"""
      SELECT uid AS user, n_clicks * 10 AS nx
      FROM mr_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(B.*) AS n_clicks
        ONE ROW PER MATCH
        PATTERN (A B+? C)
        AFTER MATCH SKIP TO NEXT ROW
        DEFINE A AS typ = 'signup', B AS typ IN ('click', 'view'),
               C AS coalesce(typ, '') = 'buy'
      )
    """).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 20L)))
  }

  test("dispatch predicate: literals and plain SQL stay on spark.sql") {
    assert(MatchRecognize.matchesSql("SELECT x FROM t MATCH_RECOGNIZE (...)"))
    assert(!MatchRecognize.matchesSql("SELECT 'MATCH_RECOGNIZE(' AS note"))
    assert(!MatchRecognize.matchesSql("SELECT 1"))
    // Engine.sql still runs plain SQL untouched
    assert(Engine.sql(spark, "SELECT 1 AS one").collect().head.getInt(0) == 1)
  }

  test("WHERE on a non-projected measure filters the match relation (pre-projection)") {
    import spark.implicits._
    fixture()
    val got = Engine.sql(spark, s"""
      SELECT uid
      FROM mr_events MATCH_RECOGNIZE ($clause) AS m
      WHERE n_clicks > 1
      ORDER BY s_t
    """).as[Long].collect().toSeq
    assert(got == Seq(1L)) // user 1's match has 2 clicks; measure not in SELECT
    assert(Engine.sql(spark, s"""
      SELECT uid
      FROM mr_events MATCH_RECOGNIZE ($clause) AS m
      WHERE n_clicks > 5
    """).count() == 0)
  }

  // --- SQL:2016 alternation + PERMUTE (beyond Flink 1.16's grammar) ---

  private def altFixture(): Unit = {
    import spark.implicits._
    // u1 reaches buy via addcart, u2 via promo, u3 never buys
    Seq(
      (1L, 10L, 1L, "signup"), (1L, 20L, 2L, "addcart"), (1L, 30L, 3L, "buy"),
      (2L, 10L, 4L, "signup"), (2L, 20L, 5L, "promo"), (2L, 30L, 6L, "buy"),
      (3L, 10L, 7L, "signup"), (3L, 20L, 8L, "promo"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_alt_events")
  }

  test("alternation: (S (A | B) P) measures the branch that matched") {
    import spark.implicits._
    altFixture()
    val got = Engine.sql(spark, s"""
      SELECT uid, a_t, b_t, p_t FROM mr_alt_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES FIRST(A.t) AS a_t, FIRST(B.t) AS b_t, LAST(P.t) AS p_t
        ONE ROW PER MATCH
        PATTERN (S (A | B) P)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE S AS typ = 'signup', A AS typ = 'addcart',
               B AS typ = 'promo', P AS typ = 'buy'
      ) ORDER BY uid
    """).as[(Long, Option[Long], Option[Long], Long)].collect().toSeq
    assert(got == Seq(
      (1L, Some(20L), None, 30L),   // via the A branch
      (2L, None, Some(20L), 30L))) // via the B branch; u3 no match
  }

  test("PERMUTE(A, B): both arrival orders match, operands keep identity") {
    import spark.implicits._
    Seq(
      (1L, 10L, 1L, "click"), (1L, 20L, 2L, "view"),
      (2L, 10L, 3L, "view"), (2L, 20L, 4L, "click"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_perm_events")
    val got = Engine.sql(spark, s"""
      SELECT uid, a_t, b_t FROM mr_perm_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES FIRST(A.t) AS a_t, FIRST(B.t) AS b_t
        ONE ROW PER MATCH
        PATTERN (PERMUTE(A, B))
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'click', B AS typ = 'view'
      ) ORDER BY uid
    """).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 10L, 20L), (2L, 20L, 10L)))
  }

  test("ALL ROWS PER MATCH classifies alternation-branch variables") {
    import spark.implicits._
    altFixture()
    val got = Engine.sql(spark, s"""
      SELECT uid, classifier, t FROM mr_alt_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        ALL ROWS PER MATCH
        PATTERN (S (A | B) P)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE S AS typ = 'signup', A AS typ = 'addcart',
               B AS typ = 'promo', P AS typ = 'buy'
      ) ORDER BY uid, t
    """).as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "S", 10L), (1L, "A", 20L), (1L, "P", 30L),
      (2L, "S", 10L), (2L, "B", 20L), (2L, "P", 30L)))
  }

  test("a variable repeated across branches folds into one measure") {
    import spark.implicits._
    // (A X | B X): X labels a leaf in EACH branch; COUNT(X.*) and
    // FIRST(X.t) must see whichever leaf the matching branch bound
    Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "x"),
      (2L, 10L, 3L, "b"), (2L, 20L, 4L, "x"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_rep_events")
    val got = Engine.sql(spark, s"""
      SELECT uid, n_x, x_t FROM mr_rep_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(X.*) AS n_x, FIRST(X.t) AS x_t
        ONE ROW PER MATCH
        PATTERN ((A X | B X))
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'a', B AS typ = 'b', X AS typ = 'x'
      ) ORDER BY uid
    """).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 20L), (2L, 1L, 20L)))
  }

  test("quantified alternation (A | B){2} and the unbounded rejection") {
    import spark.implicits._
    Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"))
      .toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_q_events")
    val got = Engine.sql(spark, s"""
      SELECT uid, n_a, n_b FROM mr_q_events MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
        ONE ROW PER MATCH
        PATTERN ((A | B){2})
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'a', B AS typ = 'b'
      )
    """).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L))) // copy 1 chose A, copy 2 chose B
    assertThrows[IllegalArgumentException] {
      MatchRecognize.run(spark, spark.table("mr_q_events"), """
        PARTITION BY uid
        ORDER BY t, eid
        PATTERN ((A | B)+)
        DEFINE A AS typ = 'a', B AS typ = 'b'
      """)
    }
  }

  test("nested group quantifiers in SQL PATTERN: ((A B){2} C)+ D") {
    import spark.implicits._
    // uid 1 runs the outer group twice, uid 3 once; uid 2 has only one
    // (a b) round before its c, so (A B){2} never completes
    val kinds = Seq(1L -> "a b a b c a b a b c d", 2L -> "a b c d", 3L -> "a b a b c d")
    kinds.flatMap { case (uid, ks) =>
      ks.split(" ").toSeq.zipWithIndex.map { case (k, i) => (uid, i + 1L, uid * 100 + i, k) }
    }.toDF("uid", "t", "eid", "typ").createOrReplaceTempView("mr_nested")
    val clause = """
      PARTITION BY uid
      ORDER BY t, eid
      PATTERN (((A B){2} C)+ D)
      AFTER MATCH SKIP PAST LAST ROW
      DEFINE A AS typ = 'a', B AS typ = 'b', C AS typ = 'c', D AS typ = 'd'
    """
    val got = MatchRecognize.run(spark, spark.table("mr_nested"), clause)
      .as[(Long, Seq[Seq[Long]])].collect().toSet
    // one match per key: the earliest start, then the longest — both
    // outer traversals for uid 1
    assert(got == Set(
      (1L, Seq(Seq(1L, 3L, 6L, 8L), Seq(2L, 4L, 7L, 9L), Seq(5L, 10L), Seq(11L))),
      (3L, Seq(Seq(1L, 3L), Seq(2L, 4L), Seq(5L), Seq(6L)))), s"$got")
    val measured = Engine.sql(spark, """
      SELECT uid, n_a, last_c, d_t FROM mr_nested MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES COUNT(A.*) AS n_a, LAST(C.t) AS last_c, D.t AS d_t
        ONE ROW PER MATCH
        PATTERN (((A B){2} C)+ D)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS typ = 'a', B AS typ = 'b', C AS typ = 'c', D AS typ = 'd'
      ) ORDER BY uid
    """).as[(Long, Long, Long, Long)].collect().toSeq
    assert(measured == Seq((1L, 4L, 10L, 11L), (3L, 2L, 5L, 6L)))
  }

  test("a backticked DEFINE column holding ')' stays inside the clause") {
    import spark.implicits._
    Seq((1L, 10L, 1L, 3L), (1L, 20L, 2L, 7L), (1L, 30L, 3L, 9L), (2L, 15L, 4L, 8L))
      .toDF("uid", "t", "eid", "p)x").createOrReplaceTempView("mr_paren")
    val got = MatchRecognize.sql(spark, """
      SELECT uid, first_t, n_b FROM mr_paren MATCH_RECOGNIZE (
        PARTITION BY uid
        ORDER BY t, eid
        MEASURES FIRST(A.t) AS first_t, COUNT(B.*) AS n_b
        ONE ROW PER MATCH
        PATTERN (A B+)
        AFTER MATCH SKIP PAST LAST ROW
        DEFINE A AS `p)x` < 5, B AS `p)x` > 5
      ) ORDER BY uid
    """).as[(Long, Long, Long)].collect().toSeq
    // the first B completes the match and SKIP PAST LAST ROW drops the rest
    assert(got == Seq((1L, 10L, 1L)))
  }
}
