package graft.operators

import graft.{Engine, GQuery, QueryModule, Tables}
import graft.cep.{AltCep, Cep}
import org.apache.spark.sql.functions._

/** CEP / MATCH_RECOGNIZE queries, the SQL entry surface, and grouping-set
  * coverage beyond rollup.
  *
  * Reference: flink-libraries/flink-cep (NFA.java:86), MATCH_RECOGNIZE
  * bridge (StreamExecMatch.java), TableEnvironment.executeSql
  * (TableEnvironmentImpl.java:722), DecomposeGroupingSetsRule.
  */
object AdvancedOps extends QueryModule {

  /** signup -> click -> purchase step mapping over `events`. */
  private val stepExpr =
    """CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
      |     WHEN 'purchase' THEN 2 ELSE -1 END""".stripMargin

  private lazy val baseQueries: Seq[GQuery] = Seq(
    GQuery(
      // Single-attempt funnel (SQL-expressible CEP-lite): first signup, then
      // first click after it, then first purchase after that; complete runs
      // within 7 days of the signup (fixture events are sparse).
      "q45_funnel_first",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d).select($"user_id", $"event_type", $"ts_us")
        val su = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ts_us").as("s_us"))
        val cl = ev.filter($"event_type" === "click")
          .join(su, "user_id").filter($"ts_us" > $"s_us")
          .groupBy($"user_id", $"s_us").agg(min($"ts_us").as("c_us"))
        val pu = ev.filter($"event_type" === "purchase")
          .join(cl, "user_id").filter($"ts_us" > $"c_us")
          .groupBy($"user_id", $"s_us", $"c_us").agg(min($"ts_us").as("p_us"))
        pu.filter($"p_us" - $"s_us" <= 604800L * 1000000L)
          .orderBy($"user_id")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, MIN(us) AS s_us FROM e WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, s.s_us, MIN(e.us) AS c_us
        |      FROM e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.us > s.s_us GROUP BY 1, 2),
        |p AS (SELECT e.user_id, c.s_us, c.c_us, MIN(e.us) AS p_us
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY 1, 2, 3)
        |SELECT user_id, s_us, c_us, p_us FROM p
        |WHERE p_us - s_us <= 604800000000
        |ORDER BY user_id
        |""".stripMargin)),

    GQuery(
      // Full NFA semantics (AFTER MATCH SKIP PAST LAST ROW, multi-partial
      // tracking, relaxed contiguity, within-horizon pruning). Executes
      // via the secondary-sort path (repartition + sortWithinPartitions +
      // mapPartitions), so per-key history never sits on the heap.
      // FULL hash-match oracle (was rows-only): for a LINEAR pattern the
      // skip-past-last NFA has an exact sequential characterization —
      // from the boundary, the next match ends at the first step-3 event
      // with a completable (s, c) chain; the emitted s is the earliest
      // in-window start with a middle event, c the earliest middle after
      // it; the boundary jumps past the match — which DuckDB replays as a
      // RECURSIVE CTE over (t, event_id)-ordered positions, one match
      // per key per iteration. Skip-mode interleaving for NON-linear
      // patterns (quantifiers/alternation) remains NFA-only; CepSpec
      // additionally asserts batch/stream equivalence.
      "q46_cep_matches",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
          .select($"user_id".as("key"), $"ts_us".as("t"),
            expr(stepExpr).as("step"), $"event_id".as("tie"))
        Cep.detectBatch(s, ev, nSteps = 3, within = 604800L * 1000000L)
          .select($"key".as("user_id"),
            element_at($"step_times", 1).as("s_us"),
            element_at($"step_times", 2).as("c_us"),
            element_at($"step_times", 3).as("p_us"))
          .orderBy($"user_id", $"s_us")
      },
      Some("""
        |WITH RECURSIVE ev AS (
        |  SELECT user_id AS k, epoch_ns(ts)//1000 AS t,
        |         CASE event_type WHEN 'signup' THEN 0 WHEN 'click' THEN 1
        |              WHEN 'purchase' THEN 2 ELSE -1 END AS step,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_ns(ts)//1000, event_id) AS pos
        |  FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')
        |),
        |m AS (
        |  SELECT k, CAST(NULL AS BIGINT) AS s_us, CAST(NULL AS BIGINT) AS c_us,
        |         CAST(NULL AS BIGINT) AS p_us, CAST(0 AS BIGINT) AS bpos
        |  FROM (SELECT DISTINCT k FROM ev)
        |  UNION ALL
        |  SELECT x.k,
        |         (SELECT t FROM ev WHERE ev.k = x.k AND ev.pos = x.spos) AS s_us,
        |         (SELECT min(t) FROM ev
        |          WHERE ev.k = x.k AND ev.step = 1 AND ev.pos > x.spos AND ev.pos < x.ppos) AS c_us,
        |         (SELECT t FROM ev WHERE ev.k = x.k AND ev.pos = x.ppos) AS p_us,
        |         x.ppos AS bpos
        |  FROM (
        |    SELECT y.k, y.ppos,
        |           (SELECT min(e1.pos) FROM ev e1
        |            WHERE e1.k = y.k AND e1.step = 0 AND e1.pos > y.bpos
        |              AND (SELECT t FROM ev WHERE ev.k = y.k AND ev.pos = y.ppos) - e1.t <= 604800000000
        |              AND EXISTS (SELECT 1 FROM ev e2 WHERE e2.k = y.k AND e2.step = 1
        |                          AND e2.pos > e1.pos AND e2.pos < y.ppos)) AS spos
        |    FROM (
        |      SELECT m.k, m.bpos,
        |             (SELECT min(e3.pos) FROM ev e3
        |              WHERE e3.k = m.k AND e3.step = 2 AND e3.pos > m.bpos
        |                AND EXISTS (SELECT 1 FROM ev e1 JOIN ev e2
        |                              ON e2.k = e1.k AND e2.step = 1
        |                             AND e2.pos > e1.pos AND e2.pos < e3.pos
        |                            WHERE e1.k = e3.k AND e1.step = 0 AND e1.pos > m.bpos
        |                              AND e3.t - e1.t <= 604800000000)) AS ppos
        |      FROM m) y
        |    WHERE y.ppos IS NOT NULL) x
        |)
        |SELECT k AS user_id, s_us, c_us, p_us FROM m
        |WHERE s_us IS NOT NULL
        |ORDER BY user_id, s_us
        |""".stripMargin)),

    GQuery(
      // CEP with a quantified middle step: signup -> click oneOrMore ->
      // purchase, NO SKIP, within 7 days (Pattern.java oneOrMore +
      // AfterMatchSkipStrategy.noSkip). The NFA's branching semantics have
      // a clean relational characterization — for each signup seed and each
      // click-prefix length j, the match completes at the first purchase
      // after the j-th click — which DuckDB computes with window functions,
      // giving a full rows+schema+hash oracle over NFA output.
      "q69_cep_clicks_quantified",
      (s, d) => {
        import s.implicits._
        import graft.cep.Cep.{AfterMatch, Pattern, Quant, StepDef}
        val ev = Tables.events(s, d)
          .select($"user_id".as("key"), $"ts_us".as("t"),
            expr("""CAST(CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 4 ELSE 0 END AS BIGINT)""").as("mask"),
            $"event_id".as("tie"))
        val p = Pattern(
          IndexedSeq(StepDef(), StepDef(Quant.OneOrMore), StepDef()),
          within = 604800L * 1000000L, after = AfterMatch.NoSkip,
          maxRuns = 8192)
        AltCep.matchBatch(s, ev, AltCep.compile(p))
          .select($"key".as("user_id"),
            element_at(element_at($"step_times", 1), 1).as("s_us"),
            size(element_at($"step_times", 2)).cast("long").as("n_clicks"),
            element_at(element_at($"step_times", 2), -1).as("last_c_us"),
            element_at(element_at($"step_times", 3), 1).as("p_us"))
          .orderBy($"user_id", $"s_us", $"n_clicks")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |c AS (SELECT s.user_id, s.s_us, e.us AS c_us,
        |             ROW_NUMBER() OVER (PARTITION BY s.user_id, s.s_us ORDER BY e.us) AS j
        |      FROM s JOIN e ON e.user_id = s.user_id
        |      WHERE e.event_type = 'click' AND e.us > s.s_us
        |        AND e.us - s.s_us <= 604800000000),
        |p AS (SELECT c.user_id, c.s_us, c.j, c.c_us,
        |             (SELECT MIN(e2.us) FROM e e2
        |              WHERE e2.user_id = c.user_id AND e2.event_type = 'purchase'
        |                AND e2.us > c.c_us) AS p_us
        |      FROM c)
        |SELECT user_id, s_us, CAST(j AS BIGINT) AS n_clicks, c_us AS last_c_us, p_us
        |FROM p
        |WHERE p_us IS NOT NULL AND p_us - s_us <= 604800000000
        |ORDER BY user_id, s_us, n_clicks
        |""".stripMargin)),

    GQuery(
      // CEP notFollowedBy guard: signup -> notFollowedBy(error) ->
      // purchase, NO SKIP, within 7 days (Pattern.java notFollowedBy). A
      // match is each signup whose FIRST following purchase arrives within
      // the horizon with no error event in between — the guard-kill
      // semantics reduce to a NOT EXISTS over the gap.
      "q70_cep_not_followed_by",
      (s, d) => {
        import s.implicits._
        import graft.cep.Cep.{AfterMatch, Pattern, StepDef}
        val ev = Tables.events(s, d)
          .select($"user_id".as("key"), $"ts_us".as("t"),
            expr("""CAST(CASE event_type WHEN 'signup' THEN 1 WHEN 'error' THEN 2
                    WHEN 'purchase' THEN 4 ELSE 0 END AS BIGINT)""").as("mask"),
            $"event_id".as("tie"))
        val p = Pattern(
          IndexedSeq(StepDef(), StepDef(negated = true), StepDef()),
          within = 604800L * 1000000L, after = AfterMatch.NoSkip,
          maxRuns = 8192)
        AltCep.matchBatch(s, ev, AltCep.compile(p))
          .select($"key".as("user_id"),
            element_at(element_at($"step_times", 1), 1).as("s_us"),
            element_at(element_at($"step_times", 3), 1).as("p_us"))
          .orderBy($"user_id", $"s_us")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |sp AS (SELECT s.user_id, s.s_us,
        |              (SELECT MIN(e2.us) FROM e e2
        |               WHERE e2.user_id = s.user_id AND e2.event_type = 'purchase'
        |                 AND e2.us > s.s_us) AS p_us
        |       FROM s)
        |SELECT user_id, s_us, p_us FROM sp
        |WHERE p_us IS NOT NULL AND p_us - s_us <= 604800000000
        |  AND NOT EXISTS (SELECT 1 FROM e e3
        |       WHERE e3.user_id = sp.user_id AND e3.event_type = 'error'
        |         AND e3.us > sp.s_us AND e3.us < sp.p_us)
        |ORDER BY user_id, s_us
        |""".stripMargin)),

    GQuery(
      // CEP with Flink's DEFAULT oneOrMore contiguity (Rep.Relaxed): the
      // loop consumes every matching event and proceeds lazily, so unlike
      // q69's allowCombinations there is NO prefix branching — exactly one
      // match per (signup seed, qualifying purchase), binding ALL clicks
      // between them. That reduction is the SQL characterization below.
      "q74_cep_relaxed_loop",
      (s, d) => {
        import s.implicits._
        import graft.cep.Cep.{AfterMatch, Pattern, Quant, Rep, StepDef}
        val ev = Tables.events(s, d)
          .select($"user_id".as("key"), $"ts_us".as("t"),
            expr("""CAST(CASE event_type WHEN 'signup' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 4 ELSE 0 END AS BIGINT)""").as("mask"),
            $"event_id".as("tie"))
        val p = Pattern(
          IndexedSeq(StepDef(),
            StepDef(Quant.OneOrMore, rep = Rep.Relaxed), StepDef()),
          within = 604800L * 1000000L, after = AfterMatch.NoSkip,
          maxRuns = 8192)
        AltCep.matchBatch(s, ev, AltCep.compile(p))
          .select($"key".as("user_id"),
            element_at(element_at($"step_times", 1), 1).as("s_us"),
            size(element_at($"step_times", 2)).cast("long").as("n_clicks"),
            element_at(element_at($"step_times", 2), 1).as("first_c_us"),
            element_at(element_at($"step_times", 2), -1).as("last_c_us"),
            element_at(element_at($"step_times", 3), 1).as("p_us"))
          .orderBy($"user_id", $"s_us", $"p_us")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |sp AS (SELECT s.user_id, s.s_us, p.us AS p_us
        |       FROM s JOIN e p ON p.user_id = s.user_id
        |       WHERE p.event_type = 'purchase' AND p.us > s.s_us
        |         AND p.us - s.s_us <= 604800000000),
        |m AS (SELECT sp.user_id, sp.s_us, sp.p_us,
        |             COUNT(c.us) AS n_clicks,
        |             MIN(c.us) AS first_c_us, MAX(c.us) AS last_c_us
        |      FROM sp LEFT JOIN e c ON c.user_id = sp.user_id
        |        AND c.event_type = 'click' AND c.us > sp.s_us AND c.us < sp.p_us
        |      GROUP BY 1, 2, 3)
        |SELECT user_id, s_us, CAST(n_clicks AS BIGINT) AS n_clicks,
        |       first_c_us, last_c_us, p_us
        |FROM m WHERE n_clicks > 0
        |ORDER BY user_id, s_us, p_us
        |""".stripMargin)),

    GQuery(
      // SQL/JSON-path functions (JSON_VALUE / JSON_QUERY / JSON_EXISTS,
      // BuiltInFunctionDefinitions.java:1825-1951): a nested JSON document
      // built deterministically from `part` (objects, arrays, an optional
      // branch) exercises scalar-vs-structure selection, defaults on
      // empty, structure extraction as compact JSON text, and existence.
      "q73_json_path_fns",
      (s, d) => {
        import s.implicits._
        import graft.functions.sqlfns
        val j = concat(
          lit("{\"id\":"), $"p_partkey",
          lit(",\"info\":{\"brand\":\""), $"p_brand",
          lit("\",\"sizes\":["), $"p_size", lit(","), ($"p_size" * 2),
          lit("]}"),
          when($"p_size" % 3 === 0,
            concat(lit(",\"opt\":{\"x\":"), $"p_size" % 7, lit("}")))
            .otherwise(lit("")),
          lit("}"))
        Tables.part(s, d).filter($"p_partkey" < 500)
          .withColumn("j", j)
          .select($"p_partkey",
            sqlfns.jsonValue($"j", "$.info.brand").as("brand"),
            coalesce(sqlfns.jsonValue($"j", "$.opt.x").cast("long"), lit(-1L)).as("opt_x"),
            // JSON_VALUE on a structure -> the ON EMPTY default
            sqlfns.jsonValue($"j", "$.info", lit("none")).as("info_scalar"),
            sqlfns.jsonQuery($"j", "$.info.sizes").as("sizes_json"),
            coalesce(sqlfns.jsonQuery($"j", "$.info.brand"), lit("NULL")).as("brand_query"),
            sqlfns.jsonExists($"j", "$.opt.x").cast("long").as("has_opt"),
            sqlfns.jsonValue($"j", "$.info.sizes[0]").cast("long").as("size0"))
          .orderBy($"p_partkey")
      },
      Some("""
        |WITH built AS (
        |  SELECT p_partkey,
        |         '{"id":' || p_partkey || ',"info":{"brand":"' || p_brand ||
        |         '","sizes":[' || p_size || ',' || (p_size * 2) || ']}' ||
        |         CASE WHEN p_size % 3 = 0
        |              THEN ',"opt":{"x":' || (p_size % 7) || '}' ELSE '' END ||
        |         '}' AS j
        |  FROM part WHERE p_partkey < 500)
        |SELECT p_partkey,
        |       json_extract_string(j, '$.info.brand') AS brand,
        |       COALESCE(CAST(json_extract_string(j, '$.opt.x') AS BIGINT), -1) AS opt_x,
        |       'none' AS info_scalar,
        |       CAST(json_extract(j, '$.info.sizes') AS VARCHAR) AS sizes_json,
        |       'NULL' AS brand_query,
        |       CAST(json_extract(j, '$.opt.x') IS NOT NULL AS BIGINT) AS has_opt,
        |       CAST(json_extract_string(j, '$.info.sizes[0]') AS BIGINT) AS size0
        |FROM built
        |ORDER BY p_partkey
        |""".stripMargin)),

    GQuery(
      // The SQL entry path: identical text runs through spark.sql (via
      // Engine catalog) and DuckDB.
      "q47_sql_entry",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, AdvancedOps.q47Sql)
      },
      Some(q47Sql)),

    GQuery(
      "q48_cube_grouping",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
          .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
            coalesce($"o_orderpriority", lit("ALL")).as("priority"),
            $"n", $"gid".cast("long").as("gid"))
          .orderBy($"gid", $"status", $"priority")
      },
      Some("""
        |SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority
        |""".stripMargin)),

    GQuery(
      // stddev/variance: both engines use numerically different single-pass
      // algorithms, so compare after dround (values are far from rounding
      // boundaries relative to the ~1e-12 algorithmic noise).
      "q49_stat_agg",
      (s, d) => {
        import s.implicits._
        import graft.Bits.dround
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(
            stddev_samp($"o_totalprice").as("sd_s"),
            stddev_pop($"o_totalprice").as("sd_p"),
            var_samp($"o_totalprice").as("v_s"),
            var_pop($"o_totalprice").as("v_p"))
          .select($"o_orderpriority",
            dround($"sd_s", 2).as("sd_samp"), dround($"sd_p", 2).as("sd_pop"),
            dround($"v_s" / 1000000.0, 2).as("var_samp_m"),
            dround($"v_p" / 1000000.0, 2).as("var_pop_m"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""
        |SELECT o_orderpriority,
        |  ${graft.Bits.droundSql("stddev_samp(o_totalprice)", 2)} AS sd_samp,
        |  ${graft.Bits.droundSql("stddev_pop(o_totalprice)", 2)} AS sd_pop,
        |  ${graft.Bits.droundSql("var_samp(o_totalprice) / 1000000.0", 2)} AS var_samp_m,
        |  ${graft.Bits.droundSql("var_pop(o_totalprice) / 1000000.0", 2)} AS var_pop_m
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // JSON_ARRAYAGG / JSON_OBJECTAGG (BuiltInFunctionDefinitions
      // JSON_OBJECTAGG/JSON_ARRAYAGG): deterministic via array_sort before
      // serialization; DuckDB mirrors with ordered string_agg (same compact
      // JSON text in both engines).
      "q56_json_agg",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy($"o_orderpriority", $"o_orderstatus")
          .agg(count(lit(1)).as("cnt"))
          .groupBy($"o_orderpriority")
          .agg(
            to_json(array_sort(collect_list(struct($"o_orderstatus".as("status"), $"cnt"))))
              .as("statuses_json"),
            to_json(map_from_entries(
              array_sort(collect_list(struct($"o_orderstatus", $"cnt")))))
              .as("status_obj"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        |WITH c AS (SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority,
        |  '[' || string_agg(CAST(json_object('status', o_orderstatus, 'cnt', cnt) AS VARCHAR),
        |                    ',' ORDER BY o_orderstatus, cnt) || ']' AS statuses_json,
        |  '{' || string_agg('"' || o_orderstatus || '":' || cnt,
        |                    ',' ORDER BY o_orderstatus, cnt) || '}' AS status_obj
        |FROM c
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Window join (flink-table-runtime .../join/window/WindowJoinOperator
      // .java:66): both sides bucketed into the same tumbling window, then
      // an equi-join on (window, key).
      "q57_window_join",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        def winAgg(t: String, alias: String) = ev.filter($"event_type" === t)
          .groupBy(window($"ts", "1 hour").as("w"), $"user_id")
          .agg(count(lit(1)).as(alias))
          .select(unix_seconds($"w.start").as("win_start_sec"), $"user_id", col(alias))
        winAgg("click", "n_clicks")
          .join(winAgg("purchase", "n_buys"), Seq("win_start_sec", "user_id"))
          .orderBy($"win_start_sec", $"user_id")
      },
      Some("""
        |WITH e AS (SELECT (epoch_ns(ts)//1000000000//3600)*3600 AS w, user_id, event_type FROM events),
        |c AS (SELECT w, user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks FROM e
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT w, user_id, CAST(COUNT(*) AS BIGINT) AS n_buys FROM e
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.w AS win_start_sec, c.user_id AS user_id, n_clicks, n_buys
        |FROM c JOIN p ON c.w = p.w AND c.user_id = p.user_id
        |ORDER BY win_start_sec, c.user_id
        |""".stripMargin)),

    GQuery(
      // DataStream coGroup (CoGroupedStreams.java): both sides grouped by
      // key, the pair of per-key iterators processed together.
      "q58_cogroup",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id", $"ts_us").as[(Long, Long)]
          .groupByKey(_._1)
        val buys = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts_us").as[(Long, Long)]
          .groupByKey(_._1)
        clicks.cogroup(buys) { (uid, ls, rs) =>
          val l = ls.map(_._2).toSeq
          val r = rs.map(_._2).toSeq
          Iterator((uid, l.size.toLong, r.size.toLong,
            if (l.isEmpty) -1L else l.min, if (r.isEmpty) -1L else r.min))
        }.toDF("user_id", "n_clicks", "n_buys", "first_click_us", "first_buy_us")
          .orderBy($"user_id")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks, MIN(us) AS f FROM e
        |      WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_buys, MIN(us) AS f FROM e
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
        |       COALESCE(c.n_clicks, 0) AS n_clicks,
        |       COALESCE(p.n_buys, 0) AS n_buys,
        |       COALESCE(c.f, -1) AS first_click_us,
        |       COALESCE(p.f, -1) AS first_buy_us
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY user_id
        |""".stripMargin))
  )

  private lazy val moreQueries: Seq[GQuery] = Seq(
    GQuery(
      // Table aggregate function (UDTAG, TableAggregateFunction.java /
      // GroupTableAggFunction.java): an aggregate that EMITS MULTIPLE ROWS
      // per group — here "top 2 orders per priority", via the typed
      // flatMapGroups path a user-defined table aggregate would take.
      "q59_table_agg",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
          .as[(String, Long, Double)]
          .groupByKey(_._1)
          .flatMapGroups { (prio, rows) =>
            // UDTAG accumulator: keep the best 2 by (price desc, key asc)
            var best = List.empty[(Long, Double)]
            rows.foreach { r =>
              best = ((r._2, r._3) :: best)
                .sortBy { case (k, p) => (-p, k) }.take(2)
            }
            best.zipWithIndex.iterator.map { case ((k, p), i) => (prio, i + 1L, k, p) }
          }
          .toDF("o_orderpriority", "rnk", "o_orderkey", "totalprice")
          .orderBy($"o_orderpriority", $"rnk")
      },
      Some("""
        |SELECT o_orderpriority, CAST(rn AS BIGINT) AS rnk, o_orderkey,
        |       o_totalprice AS totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_orderpriority, rnk
        |""".stripMargin)),

    GQuery(
      // Exact interpolated percentiles (Flink batch PERCENTILE via sort;
      // Spark `percentile` and DuckDB `quantile_cont` share the definition).
      "q60_percentiles",
      (s, d) => {
        import s.implicits._
        import graft.Bits.dround
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(
            expr("percentile(o_totalprice, 0.5)").as("p50"),
            expr("percentile(o_totalprice, 0.9)").as("p90"))
          .select($"o_orderpriority",
            dround($"p50", 4).as("median"), dround($"p90", 4).as("p90"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""
        |SELECT o_orderpriority,
        |  ${graft.Bits.droundSql("quantile_cont(o_totalprice, 0.5)", 4)} AS median,
        |  ${graft.Bits.droundSql("quantile_cont(o_totalprice, 0.9)", 4)} AS p90
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin))
  )

  private lazy val subqueryQueries: Seq[GQuery] = Seq(
    GQuery(
      // Correlated scalar subquery (TPC-H Q17 shape): parts whose average
      // order quantity the line falls below — exercises Catalyst's
      // decorrelation (Flink: FlinkDecorrelateProgram).
      "q62_correlated_subquery",
      (s, d) => {
        import s.implicits._
        Engine.openCatalog(s, d)
        s.sql("""
          SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
          FROM lineitem l1
          WHERE l_partkey < 500
            AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l1.l_partkey)
        """)
      },
      Some("""
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM lineitem l1
        |WHERE l_partkey < 500
        |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)
        |""".stripMargin)),

    GQuery(
      // IN / NOT IN subqueries (SEMI_JOIN_RULES / RewritePredicateSubquery).
      "q63_in_subqueries",
      (s, d) => {
        import s.implicits._
        Engine.openCatalog(s, d)
        s.sql("""
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
          FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 4000)
            AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority
        """)
      },
      Some("""
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 4000)
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Second string battery: translate/overlay/position/locate/
      // substring_index/format/char/space coverage of §2.9.
      "q64_string_funcs2",
      (s, d) => {
        import s.implicits._
        Tables.part(s, d).filter($"p_partkey" < 150)
          .select($"p_partkey",
            translate($"p_name", "aeiou", "AEIOU").as("tr"),
            overlay($"p_name", lit("XX"), lit(2)).as("ov"),
            locate("i", $"p_name").cast("long").as("loc_i"),
            substring_index($"p_name", " ", 1).as("first_word"),
            format_string("%s#%03d", $"p_brand", $"p_size").as("fmt"),
            concat($"p_type", lit(" "), $"p_brand").as("cc"),
            rtrim(rpad($"p_type", 10, " ")).as("padtrim"),
            (length($"p_name") - length(regexp_replace($"p_name", "e", "")))
              .cast("long").as("n_e"))
          .orderBy($"p_partkey")
      },
      Some("""
        |SELECT p_partkey,
        |       translate(p_name, 'aeiou', 'AEIOU') AS tr,
        |       substring(p_name, 1, 1) || 'XX' || substring(p_name, 4) AS ov,
        |       CAST(strpos(p_name, 'i') AS BIGINT) AS loc_i,
        |       string_split(p_name, ' ')[1] AS first_word,
        |       printf('%s#%03d', p_brand, p_size) AS fmt,
        |       p_type || ' ' || p_brand AS cc,
        |       rtrim(rpad(p_type, 10, ' ')) AS padtrim,
        |       CAST(length(p_name) - length(replace(p_name, 'e', '')) AS BIGINT) AS n_e
        |FROM part WHERE p_partkey < 150
        |ORDER BY p_partkey
        |""".stripMargin))
  )

  private val q67Sql: String =
    // TPC-H Q2 shape: min-cost row per group selected via a nested
    // correlated subquery over the same join tree.
    """SELECT s_name, p_partkey,
      |       CAST(l_extendedprice AS DOUBLE) AS best_price
      |FROM lineitem, supplier, part
      |WHERE l_suppkey = s_suppkey AND l_partkey = p_partkey
      |  AND p_partkey < 100
      |  AND l_extendedprice = (SELECT MIN(l2.l_extendedprice)
      |                         FROM lineitem l2
      |                         WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name
      |""".stripMargin

  private val q68Sql: String =
    // TPC-H Q21 shape: EXISTS + NOT EXISTS against the same table with
    // different correlations.
    """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM lineitem l1, supplier
      |WHERE l1.l_suppkey = s_suppkey
      |  AND l1.l_quantity > 40
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_quantity > 40)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |""".stripMargin

  private lazy val complexSqlQueries: Seq[GQuery] = Seq(
    GQuery("q67_min_per_group_subquery",
      (s, d) => { Engine.openCatalog(s, d); Engine.sql(s, q67Sql) },
      Some(q67Sql)),
    GQuery("q68_multi_exists",
      (s, d) => { Engine.openCatalog(s, d); Engine.sql(s, q68Sql) },
      Some(q68Sql)))

  private lazy val measuresQueries: Seq[GQuery] = Seq(
    GQuery(
      // MATCH_RECOGNIZE with MEASURES + ONE ROW PER MATCH
      // (StreamExecMatch.java MEASURES evaluation; MatchRecognizeITCase
      // exercises MEASURES in nearly every case): signup, then a reluctant
      // click loop, then purchase, SKIP TO NEXT ROW. The relaxed loop +
      // skip-to-next reduce to "first qualifying purchase per signup,
      // binding every click between" — SQL-characterizable, so the full
      // measure set (FIRST/LAST/COUNT/MIN/MAX/SUM) gets a rows+schema+hash
      // oracle.
      "q83_match_measures",
      (s, d) => {
        import s.implicits._
        import graft.cep.MatchRecognize
        val ev = Tables.events(s, d)
          .select($"user_id", $"ts_us", $"event_id", $"event_type")
        MatchRecognize.runMeasures(s, ev, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES A.ts_us AS s_us, COUNT(B.*) AS n_clicks,
                   MIN(B.ts_us) AS first_c_us, MAX(B.ts_us) AS last_c_us,
                   SUM(B.ts_us) AS sum_c_us, LAST(C.ts_us) AS p_us
          ONE ROW PER MATCH
          PATTERN (A B+? C)
          WITHIN 604800000000
          AFTER MATCH SKIP TO NEXT ROW
          DEFINE A AS event_type = 'signup', B AS event_type = 'click',
                 C AS event_type = 'purchase'
        """)
          .select($"user_id", $"s_us", $"n_clicks", $"first_c_us",
            $"last_c_us", $"sum_c_us", $"p_us")
          .orderBy($"user_id", $"s_us")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT s.user_id, s.s_us, MIN(pe.us) AS p_us
        |      FROM s JOIN e pe ON pe.user_id = s.user_id
        |      WHERE pe.event_type = 'purchase' AND pe.us > s.s_us
        |        AND pe.us - s.s_us <= 604800000000
        |        AND EXISTS (SELECT 1 FROM e c WHERE c.user_id = s.user_id
        |              AND c.event_type = 'click' AND c.us > s.s_us AND c.us < pe.us)
        |      GROUP BY 1, 2),
        |m AS (SELECT p.user_id, p.s_us, p.p_us,
        |             COUNT(*) AS n_clicks, MIN(c.us) AS first_c_us,
        |             MAX(c.us) AS last_c_us, SUM(c.us) AS sum_c_us
        |      FROM p JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
        |        AND c.us > p.s_us AND c.us < p.p_us
        |      GROUP BY 1, 2, 3)
        |SELECT user_id, s_us, CAST(n_clicks AS BIGINT) AS n_clicks, first_c_us,
        |       last_c_us, CAST(sum_c_us AS BIGINT) AS sum_c_us, p_us
        |FROM m ORDER BY user_id, s_us
        |""".stripMargin)),

    GQuery(
      // The same MATCH_RECOGNIZE query as q83, but issued as ONE SQL
      // STATEMENT through the engine's SQL front door (Engine.sql ->
      // MatchRecognize.sql) — the SqlClient.java:62 dispatch path: the
      // input table resolves from the catalog, the outer SELECT projects
      // the measure columns, ORDER BY is part of the statement text.
      // Same oracle as q83: the two paths must agree bit-for-bit.
      "q101_match_recognize_sql",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT user_id, s_us, n_clicks, first_c_us, last_c_us, sum_c_us, p_us
          FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts_us, event_id
            MEASURES A.ts_us AS s_us, COUNT(B.*) AS n_clicks,
                     MIN(B.ts_us) AS first_c_us, MAX(B.ts_us) AS last_c_us,
                     SUM(B.ts_us) AS sum_c_us, LAST(C.ts_us) AS p_us
            ONE ROW PER MATCH
            PATTERN (A B+? C)
            WITHIN 604800000000
            AFTER MATCH SKIP TO NEXT ROW
            DEFINE A AS event_type = 'signup', B AS event_type = 'click',
                   C AS event_type = 'purchase'
          ) ORDER BY user_id, s_us
        """)
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT s.user_id, s.s_us, MIN(pe.us) AS p_us
        |      FROM s JOIN e pe ON pe.user_id = s.user_id
        |      WHERE pe.event_type = 'purchase' AND pe.us > s.s_us
        |        AND pe.us - s.s_us <= 604800000000
        |        AND EXISTS (SELECT 1 FROM e c WHERE c.user_id = s.user_id
        |              AND c.event_type = 'click' AND c.us > s.s_us AND c.us < pe.us)
        |      GROUP BY 1, 2),
        |m AS (SELECT p.user_id, p.s_us, p.p_us,
        |             COUNT(*) AS n_clicks, MIN(c.us) AS first_c_us,
        |             MAX(c.us) AS last_c_us, SUM(c.us) AS sum_c_us
        |      FROM p JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
        |        AND c.us > p.s_us AND c.us < p.p_us
        |      GROUP BY 1, 2, 3)
        |SELECT user_id, s_us, CAST(n_clicks AS BIGINT) AS n_clicks, first_c_us,
        |       last_c_us, CAST(sum_c_us AS BIGINT) AS sum_c_us, p_us
        |FROM m ORDER BY user_id, s_us
        |""".stripMargin)),

    GQuery(
      // COMPOSED SQL under the oracle gate (round-8 SqlComposer,
      // ParserImpl.java:91 role): MATCH_RECOGNIZE inside a SUBQUERY whose
      // result joins a second catalog table — the statement the round-7
      // verdict named as silently unlowerable under whole-statement
      // routers. The composer lifts the extended subquery to a view and
      // the outer join plans as plain Catalyst SQL (broadcast-able dim).
      // Oracle = q101's relational replay wrapped in the same join.
      "q130_composed_mr_join",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT m.user_id, m.s_us, m.n_clicks, c.c_name
          FROM (SELECT user_id, s_us, n_clicks
                FROM events MATCH_RECOGNIZE (
                  PARTITION BY user_id
                  ORDER BY ts_us, event_id
                  MEASURES A.ts_us AS s_us, COUNT(B.*) AS n_clicks
                  ONE ROW PER MATCH
                  PATTERN (A B+? C)
                  WITHIN 604800000000
                  AFTER MATCH SKIP TO NEXT ROW
                  DEFINE A AS event_type = 'signup', B AS event_type = 'click',
                         C AS event_type = 'purchase'
                )) m
          JOIN customer c ON m.user_id = c.c_custkey
          ORDER BY m.user_id, m.s_us
        """)
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT s.user_id, s.s_us, MIN(pe.us) AS p_us
        |      FROM s JOIN e pe ON pe.user_id = s.user_id
        |      WHERE pe.event_type = 'purchase' AND pe.us > s.s_us
        |        AND pe.us - s.s_us <= 604800000000
        |        AND EXISTS (SELECT 1 FROM e c WHERE c.user_id = s.user_id
        |              AND c.event_type = 'click' AND c.us > s.s_us AND c.us < pe.us)
        |      GROUP BY 1, 2),
        |m AS (SELECT p.user_id, p.s_us, COUNT(*) AS n_clicks
        |      FROM p JOIN e c ON c.user_id = p.user_id AND c.event_type = 'click'
        |        AND c.us > p.s_us AND c.us < p.p_us
        |      GROUP BY 1, 2)
        |SELECT m.user_id, m.s_us, CAST(m.n_clicks AS BIGINT) AS n_clicks, c.c_name
        |FROM m JOIN customer c ON m.user_id = c.c_custkey
        |ORDER BY m.user_id, m.s_us
        |""".stripMargin)),

    GQuery(
      // COMPOSED SQL #2 under the oracle gate: a window TVF whose TABLE
      // argument is a TEMPORAL-JOIN SUBQUERY — hourly attribution counts
      // over `purchase FOR SYSTEM_TIME AS OF click` output. The composer
      // lowers the inner `FOR SYSTEM_TIME` statement first (TemporalSql
      // -> AsOfJoin.backward, one sort-shuffle), binds it as a view, and
      // the TVF + GROUP BY plan as one more shuffle on (window) — the
      // exact two-exchange plan a hand-built pipeline would use. The dim
      // declares its version time via the WATERMARK DDL clause (the
      // versioned-table contract TemporalSql reads from the catalog).
      "q131_composed_tvf_temporal",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, "DROP VIEW IF EXISTS q131_dim")
        Engine.sql(s, "DROP TABLE IF EXISTS __q131_dim_base")
        // a PRIOR session's orphaned managed location is removed by the
        // DDL path itself (WatermarkDdl.dropStaleLocation)
        Engine.sql(s, """
          CREATE TABLE q131_dim (ck BIGINT, ct TIMESTAMP, click_id BIGINT,
            WATERMARK FOR ct AS ct - INTERVAL '1' SECOND)""")
        Engine.sql(s, """
          INSERT INTO q131_dim
          SELECT user_id, ts, MAX(event_id) FROM events
          WHERE event_type = 'click'
          GROUP BY user_id, ts""")
        Engine.sql(s, """
          CREATE OR REPLACE TEMPORARY VIEW q131_fact AS
          SELECT user_id AS k, ts AS pts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'""")
        Engine.sql(s, """
          SELECT unix_seconds(window_start) AS win_start_sec,
                 COUNT(*) AS n_purchases, COUNT(click_id) AS n_attributed
          FROM TABLE(TUMBLE(TABLE (
            SELECT f.pts AS ts, d.click_id AS click_id
            FROM q131_fact f
            JOIN q131_dim FOR SYSTEM_TIME AS OF f.pts AS d
            ON f.k = d.ck
          ), DESCRIPTOR(ts), INTERVAL '1' HOUR))
          GROUP BY window_start
          ORDER BY win_start_sec
        """)
      },
      Some("""
        |WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS t_us, event_type
        |           FROM events),
        |f AS (SELECT event_id AS purchase_id, user_id, t_us FROM e
        |      WHERE event_type = 'purchase'),
        |d AS (SELECT user_id, t_us AS ct, MAX(event_id) AS click_id FROM e
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT f.purchase_id, f.t_us,
        |             (SELECT d.click_id FROM d
        |              WHERE d.user_id = f.user_id AND d.ct <= f.t_us
        |              ORDER BY d.ct DESC LIMIT 1) AS click_id
        |      FROM f)
        |SELECT (t_us//1000000//3600)*3600 AS win_start_sec,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(COUNT(click_id) AS BIGINT) AS n_attributed
        |FROM j GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    GQuery(
      // q21's tumbling aggregation as ONE SQL STATEMENT through the
      // window-TVF front door (Engine.sql -> WindowTvfSql): the
      // TABLE(TUMBLE(...)) call is spliced to an expanded view and the
      // outer GROUP BY window_start runs as plain SQL — the
      // SqlWindowTableFunction dispatch path. Same oracle as q21: both
      // paths must agree bit-for-bit.
      "q106_window_tvf_sql",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(window_start) AS win_start_sec, event_type,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
          FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES))
          GROUP BY window_start, event_type
          ORDER BY win_start_sec, event_type
        """)
      },
      Some("""
        |SELECT (epoch_ns(ts)//1000000000//300)*300 AS win_start_sec, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2
        |""".stripMargin)),

    GQuery(
      // The same aggregation as q106 but in the LEGACY grouped-window
      // syntax (TUMBLE directly in GROUP BY + TUMBLE_START auxiliary —
      // BuiltInFunctionDefinitions TUMBLE_OLD:940), rewritten by
      // WindowTvfSql onto window(). Same oracle as q21/q106: all three
      // paths must agree bit-for-bit.
      "q108_legacy_group_window_sql",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(TUMBLE_START(ts, INTERVAL '5' MINUTES)) AS win_start_sec,
                 event_type, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
          FROM events
          GROUP BY TUMBLE(ts, INTERVAL '5' MINUTES), event_type
          ORDER BY win_start_sec, event_type
        """)
      },
      Some("""
        |SELECT (epoch_ns(ts)//1000000000//300)*300 AS win_start_sec, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2
        |""".stripMargin)),

    GQuery(
      // WINDOW JOIN through the TVF SQL statement (StreamExecWindowJoin's
      // text form, batch-gated here; the streaming run of the same shape
      // is spec'd in StreamInsertSpec): both sides of a self-join are HOP
      // TVF expansions (each row lands in its size/slide containing
      // windows), equi-joined on (window_start, user_id). Flink argument
      // order HOP(TABLE t, DESCRIPTOR(ts), slide, size). The oracle
      // replays the expansion with q22's i∈{0,1} hop convention; the
      // row-level join count equals nc·np per (window, user).
      "q142_window_tvf_join_sql",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(x.window_start) AS ws, x.user_id AS user_id,
                 COUNT(*) AS n_pairs
          FROM (SELECT window_start, user_id
                FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '10' MINUTES))
                WHERE event_type = 'click') x
          JOIN (SELECT window_start, user_id
                FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '10' MINUTES))
                WHERE event_type = 'purchase') y
            ON x.window_start = y.window_start AND x.user_id = y.user_id
          GROUP BY x.window_start, x.user_id
          ORDER BY ws, user_id
        """)
      },
      Some("""
        |WITH w AS (
        |  SELECT (epoch_ns(ts)//1000000000//300 - i.i)*300 AS ws, user_id, event_type
        |  FROM events CROSS JOIN (VALUES (0), (1)) i(i)),
        |c AS (SELECT ws, user_id, COUNT(*) AS nc FROM w
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT ws, user_id, COUNT(*) AS np FROM w
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.ws AS ws, c.user_id AS user_id, CAST(c.nc * p.np AS BIGINT) AS n_pairs
        |FROM c JOIN p ON c.ws = p.ws AND c.user_id = p.user_id
        |ORDER BY ws, user_id
        |""".stripMargin)),

    GQuery(
      // WINDOW JOIN over the TUMBLE TVF (the canonical
      // StreamExecWindowJoin statement shape, SqlTumbleTableFunction —
      // FlinkSqlOperatorTable.java:1219): q142's join but with
      // non-overlapping windows, so each row joins in exactly one
      // bucket. Oracle: per-(5-min bucket, user) click×purchase product.
      "q144_window_tvf_join_tumble",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(x.window_start) AS ws, x.user_id AS user_id,
                 COUNT(*) AS n_pairs
          FROM (SELECT window_start, user_id
                FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES))
                WHERE event_type = 'click') x
          JOIN (SELECT window_start, user_id
                FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES))
                WHERE event_type = 'purchase') y
            ON x.window_start = y.window_start AND x.user_id = y.user_id
          GROUP BY x.window_start, x.user_id
          ORDER BY ws, user_id
        """)
      },
      Some("""
        |WITH w AS (SELECT (epoch_ns(ts)//1000000000//300)*300 AS ws, user_id, event_type
        |           FROM events),
        |c AS (SELECT ws, user_id, COUNT(*) AS nc FROM w
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT ws, user_id, COUNT(*) AS np FROM w
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.ws AS ws, c.user_id AS user_id, CAST(c.nc * p.np AS BIGINT) AS n_pairs
        |FROM c JOIN p ON c.ws = p.ws AND c.user_id = p.user_id
        |ORDER BY ws, user_id
        |""".stripMargin)),

    GQuery(
      // WINDOW JOIN over the CUMULATE TVF (SqlCumulateTableFunction —
      // FlinkSqlOperatorTable.java:1221): cumulate slices share
      // window_start and differ in window_end, so the join key must
      // carry BOTH bounds (StreamExecWindowJoin joins on the full
      // window descriptor). Step 5 min, size 20 min — q24's slice
      // convention (k∈1..4, event counted in every slice ending after
      // it) replayed as the oracle's expansion.
      "q145_window_tvf_join_cumulate",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(x.window_start) AS ws, unix_seconds(x.window_end) AS we,
                 x.user_id AS user_id, COUNT(*) AS n_pairs
          FROM (SELECT window_start, window_end, user_id
                FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '20' MINUTES))
                WHERE event_type = 'click') x
          JOIN (SELECT window_start, window_end, user_id
                FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES, INTERVAL '20' MINUTES))
                WHERE event_type = 'purchase') y
            ON x.window_start = y.window_start AND x.window_end = y.window_end
               AND x.user_id = y.user_id
          GROUP BY x.window_start, x.window_end, x.user_id
          ORDER BY ws, we, user_id
        """)
      },
      Some("""
        |WITH e AS (SELECT epoch_ns(ts)//1000000000 AS sec, user_id, event_type FROM events),
        |x AS (SELECT (sec//1200)*1200 AS ws, (sec//1200)*1200 + k.k*300 AS we,
        |             user_id, event_type, sec
        |      FROM e CROSS JOIN (VALUES (1), (2), (3), (4)) k(k)),
        |f AS (SELECT ws, we, user_id, event_type FROM x WHERE sec < we),
        |c AS (SELECT ws, we, user_id, COUNT(*) AS nc FROM f
        |      WHERE event_type = 'click' GROUP BY 1, 2, 3),
        |p AS (SELECT ws, we, user_id, COUNT(*) AS np FROM f
        |      WHERE event_type = 'purchase' GROUP BY 1, 2, 3)
        |SELECT c.ws AS ws, c.we AS we, c.user_id AS user_id,
        |       CAST(c.nc * p.np AS BIGINT) AS n_pairs
        |FROM c JOIN p ON c.ws = p.ws AND c.we = p.we AND c.user_id = p.user_id
        |ORDER BY ws, we, user_id
        |""".stripMargin)),

    GQuery(
      // FULL OUTER window join over the TUMBLE TVF — StreamExecWindowJoin
      // with FlinkJoinType.FULL (flink-table-planner
      // .../exec/stream/StreamExecWindowJoin.java: the window join
      // supports all join types; non-matching windows null-pad the other
      // side once the window closes). Each side pre-aggregates its
      // window, so a (window, user) with clicks but no purchases exists
      // ONLY because of the outer join's null padding — surfaced as 0
      // per the repo's null-free output convention (q07's COALESCE
      // pattern; a present side always counts >= 1, so 0 is unambiguous).
      "q147_window_tvf_join_full_outer",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT unix_seconds(COALESCE(x.window_start, y.window_start)) AS ws,
                 COALESCE(x.user_id, y.user_id) AS user_id,
                 COALESCE(x.nc, 0) AS n_clicks, COALESCE(y.np, 0) AS n_purchases
          FROM (SELECT window_start, user_id, COUNT(*) AS nc
                FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES))
                WHERE event_type = 'click' GROUP BY window_start, user_id) x
          FULL OUTER JOIN
               (SELECT window_start, user_id, COUNT(*) AS np
                FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '5' MINUTES))
                WHERE event_type = 'purchase' GROUP BY window_start, user_id) y
            ON x.window_start = y.window_start AND x.user_id = y.user_id
          ORDER BY ws, user_id
        """)
      },
      Some("""
        |WITH w AS (SELECT (epoch_ns(ts)//1000000000//300)*300 AS ws, user_id, event_type
        |           FROM events),
        |c AS (SELECT ws, user_id, COUNT(*) AS nc FROM w
        |      WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT ws, user_id, COUNT(*) AS np FROM w
        |      WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT COALESCE(c.ws, p.ws) AS ws,
        |       COALESCE(c.user_id, p.user_id) AS user_id,
        |       CAST(COALESCE(c.nc, 0) AS BIGINT) AS n_clicks,
        |       CAST(COALESCE(p.np, 0) AS BIGINT) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c.ws = p.ws AND c.user_id = p.user_id
        |ORDER BY ws, user_id
        |""".stripMargin)))

  private lazy val allRowsQueries: Seq[GQuery] = Seq(
    GQuery(
      // ALL ROWS PER MATCH + CLASSIFIER() (the other MATCH_RECOGNIZE
      // output mode): q83's pattern, but emitting one row per bound event
      // tagged with its pattern variable. The SQL characterization adds a
      // match_no window (completion order = first-qualifying-purchase
      // time, then seed time) and unions the A/B/C row sets.
      "q87_match_all_rows",
      (s, d) => {
        import s.implicits._
        import graft.cep.MatchRecognize
        val ev = Tables.events(s, d)
          .select($"user_id", $"ts_us", $"event_id", $"event_type")
        MatchRecognize.runAllRows(s, ev, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          ALL ROWS PER MATCH
          PATTERN (A B+? C)
          WITHIN 604800000000
          AFTER MATCH SKIP TO NEXT ROW
          DEFINE A AS event_type = 'signup', B AS event_type = 'click',
                 C AS event_type = 'purchase'
        """)
          .select($"user_id", $"match_no", $"classifier", $"ts_us".as("t"))
          .orderBy($"user_id", $"match_no", $"t", $"classifier")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |p AS (SELECT s.user_id, s.s_us, MIN(pe.us) AS p_us
        |      FROM s JOIN e pe ON pe.user_id = s.user_id
        |      WHERE pe.event_type = 'purchase' AND pe.us > s.s_us
        |        AND pe.us - s.s_us <= 604800000000
        |        AND EXISTS (SELECT 1 FROM e c WHERE c.user_id = s.user_id
        |              AND c.event_type = 'click' AND c.us > s.s_us AND c.us < pe.us)
        |      GROUP BY 1, 2),
        |m AS (SELECT user_id, s_us, p_us,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |                                ORDER BY p_us, s_us) AS match_no
        |      FROM p),
        |r AS (
        |  SELECT user_id, match_no, 'A' AS classifier, s_us AS t FROM m
        |  UNION ALL
        |  SELECT m.user_id, m.match_no, 'B', c.us
        |  FROM m JOIN e c ON c.user_id = m.user_id AND c.event_type = 'click'
        |    AND c.us > m.s_us AND c.us < m.p_us
        |  UNION ALL
        |  SELECT user_id, match_no, 'C', p_us FROM m)
        |SELECT user_id, CAST(match_no AS BIGINT) AS match_no, classifier, t
        |FROM r ORDER BY user_id, match_no, t, classifier
        |""".stripMargin)))

  /** SQL:2016 row-pattern ALTERNATION and PERMUTE — grammar beyond Flink
    * 1.16's MATCH_RECOGNIZE parser (its parserImpls.ftl has no
    * alternation production), run through AltCep's variant enumeration.
    * Both patterns use only One-quantified steps, so the NFA semantics
    * ("each variable binds the FIRST qualifying event after the previous
    * binding; a completed match prunes same-start runs under SKIP TO
    * NEXT ROW; completions on the same event all emit") are exactly
    * SQL-characterizable -> full rows+schema+hash oracles. */
  private lazy val altQueries: Seq[GQuery] = Seq(
    GQuery(
      // S (C | V) P through the full SQL front door: each signup seeds
      // BOTH branches; whichever branch completes on an earlier purchase
      // wins (the completed match's start prunes the sibling run), and
      // same-purchase completions emit both classifications.
      "q126_cep_alternation",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT user_id, s_us, coalesce(c_us, -1) AS c_us,
                 coalesce(v_us, -1) AS v_us, p_us
          FROM events MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts_us, event_id
            MEASURES S.ts_us AS s_us, FIRST(C.ts_us) AS c_us,
                     FIRST(V.ts_us) AS v_us, LAST(P.ts_us) AS p_us
            ONE ROW PER MATCH
            PATTERN (S (C | V) P)
            WITHIN 604800000000
            AFTER MATCH SKIP TO NEXT ROW
            DEFINE S AS event_type = 'signup', C AS event_type = 'click',
                   V AS event_type = 'view', P AS event_type = 'purchase'
          ) ORDER BY user_id, s_us
        """)
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |fc AS (SELECT s.user_id, s.s_us, MIN(x.us) AS x_us
        |       FROM s JOIN e x ON x.user_id = s.user_id
        |        AND x.event_type = 'click' AND x.us > s.s_us
        |       GROUP BY 1, 2),
        |fv AS (SELECT s.user_id, s.s_us, MIN(x.us) AS x_us
        |       FROM s JOIN e x ON x.user_id = s.user_id
        |        AND x.event_type = 'view' AND x.us > s.s_us
        |       GROUP BY 1, 2),
        |pc AS (SELECT fc.user_id, fc.s_us, fc.x_us, MIN(p.us) AS p_us
        |       FROM fc JOIN e p ON p.user_id = fc.user_id
        |        AND p.event_type = 'purchase' AND p.us > fc.x_us
        |        AND p.us - fc.s_us <= 604800000000
        |       GROUP BY 1, 2, 3),
        |pv AS (SELECT fv.user_id, fv.s_us, fv.x_us, MIN(p.us) AS p_us
        |       FROM fv JOIN e p ON p.user_id = fv.user_id
        |        AND p.event_type = 'purchase' AND p.us > fv.x_us
        |        AND p.us - fv.s_us <= 604800000000
        |       GROUP BY 1, 2, 3),
        |b AS (SELECT COALESCE(pc.user_id, pv.user_id) AS user_id,
        |             COALESCE(pc.s_us, pv.s_us) AS s_us,
        |             pc.x_us AS c_x, pc.p_us AS c_p,
        |             pv.x_us AS v_x, pv.p_us AS v_p
        |      FROM pc FULL JOIN pv
        |        ON pv.user_id = pc.user_id AND pv.s_us = pc.s_us)
        |SELECT user_id, s_us, c_x AS c_us, CAST(-1 AS BIGINT) AS v_us,
        |       c_p AS p_us
        |FROM b WHERE c_p IS NOT NULL AND (v_p IS NULL OR c_p <= v_p)
        |UNION ALL
        |SELECT user_id, s_us, CAST(-1 AS BIGINT), v_x, v_p
        |FROM b WHERE v_p IS NOT NULL AND (c_p IS NULL OR v_p <= c_p)
        |ORDER BY user_id, s_us
        |""".stripMargin)),

    GQuery(
      // S PERMUTE(C, V) P: click and view in either order between signup
      // and purchase. The two permutations are the alternation's
      // branches; C/V keep their identity (shared logical ids) in both,
      // so the measures report which event bound where per ordering.
      "q127_cep_permute",
      (s, d) => {
        import s.implicits._
        import graft.cep.MatchRecognize
        val ev = Tables.events(s, d)
          .select($"user_id", $"ts_us", $"event_id", $"event_type")
        MatchRecognize.runMeasures(s, ev, """
          PARTITION BY user_id
          ORDER BY ts_us, event_id
          MEASURES S.ts_us AS s_us, FIRST(C.ts_us) AS c_us,
                   FIRST(V.ts_us) AS v_us, LAST(P.ts_us) AS p_us
          ONE ROW PER MATCH
          PATTERN (S PERMUTE(C, V) P)
          WITHIN 604800000000
          AFTER MATCH SKIP TO NEXT ROW
          DEFINE S AS event_type = 'signup', C AS event_type = 'click',
                 V AS event_type = 'view', P AS event_type = 'purchase'
        """)
          .select($"user_id", $"s_us", $"c_us", $"v_us", $"p_us")
          .orderBy($"user_id", $"s_us", $"p_us", $"c_us")
      },
      Some("""
        |WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
        |s AS (SELECT user_id, us AS s_us FROM e WHERE event_type = 'signup'),
        |c1 AS (SELECT s.user_id, s.s_us, MIN(x.us) AS x_us
        |       FROM s JOIN e x ON x.user_id = s.user_id
        |        AND x.event_type = 'click' AND x.us > s.s_us
        |       GROUP BY 1, 2),
        |v2 AS (SELECT c1.user_id, c1.s_us, c1.x_us AS c_us, MIN(x.us) AS x_us
        |       FROM c1 JOIN e x ON x.user_id = c1.user_id
        |        AND x.event_type = 'view' AND x.us > c1.x_us
        |       GROUP BY 1, 2, 3),
        |pcv AS (SELECT v2.user_id, v2.s_us, v2.c_us, v2.x_us AS v_us,
        |               MIN(p.us) AS p_us
        |       FROM v2 JOIN e p ON p.user_id = v2.user_id
        |        AND p.event_type = 'purchase' AND p.us > v2.x_us
        |        AND p.us - v2.s_us <= 604800000000
        |       GROUP BY 1, 2, 3, 4),
        |v1 AS (SELECT s.user_id, s.s_us, MIN(x.us) AS x_us
        |       FROM s JOIN e x ON x.user_id = s.user_id
        |        AND x.event_type = 'view' AND x.us > s.s_us
        |       GROUP BY 1, 2),
        |c2 AS (SELECT v1.user_id, v1.s_us, v1.x_us AS v_us, MIN(x.us) AS x_us
        |       FROM v1 JOIN e x ON x.user_id = v1.user_id
        |        AND x.event_type = 'click' AND x.us > v1.x_us
        |       GROUP BY 1, 2, 3),
        |pvc AS (SELECT c2.user_id, c2.s_us, c2.x_us AS c_us, c2.v_us,
        |               MIN(p.us) AS p_us
        |       FROM c2 JOIN e p ON p.user_id = c2.user_id
        |        AND p.event_type = 'purchase' AND p.us > c2.x_us
        |        AND p.us - c2.s_us <= 604800000000
        |       GROUP BY 1, 2, 3, 4),
        |b AS (SELECT COALESCE(pcv.user_id, pvc.user_id) AS user_id,
        |             COALESCE(pcv.s_us, pvc.s_us) AS s_us,
        |             pcv.c_us AS cv_c, pcv.v_us AS cv_v, pcv.p_us AS cv_p,
        |             pvc.c_us AS vc_c, pvc.v_us AS vc_v, pvc.p_us AS vc_p
        |      FROM pcv FULL JOIN pvc
        |        ON pvc.user_id = pcv.user_id AND pvc.s_us = pcv.s_us)
        |SELECT user_id, s_us, cv_c AS c_us, cv_v AS v_us, cv_p AS p_us
        |FROM b WHERE cv_p IS NOT NULL AND (vc_p IS NULL OR cv_p <= vc_p)
        |UNION ALL
        |SELECT user_id, s_us, vc_c, vc_v, vc_p
        |FROM b WHERE vc_p IS NOT NULL AND (cv_p IS NULL OR vc_p <= cv_p)
        |ORDER BY user_id, s_us
        |""".stripMargin)))

  override def queries: Seq[GQuery] =
    baseQueries ++ moreQueries ++ subqueryQueries ++ complexSqlQueries ++
      measuresQueries ++ allRowsQueries ++ altQueries

  val q47Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      |""".stripMargin
}
