package graft

import org.scalatest.funsuite.AnyFunSuite

/** Changelog-mode SQL inference (ChangelogSql): a plain GROUP-BY
  * aggregate over a row_kind-carrying relation consumes retractions;
  * raw changelog reads fall through untouched; unsupported aggregates
  * reject loudly. Equality oracle in every positive case: the same
  * aggregate over the MATERIALIZED final state. */
class ChangelogSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // a small changelog: k1 inserted then updated (10 -> 25), k2 inserted
  // then deleted, k3 inserted with a NULL measure, k4 plain insert.
  // Final state: k1=25, k3=null, k4=7  (group g1: k1, k3; g2: k4)
  private def changelog() = {
    import spark.implicits._
    Seq(
      ("+I", 100L, "g1", "k1", Option(10.0)),
      ("+I", 100L, "g1", "k2", Option(4.0)),
      ("+I", 100L, "g1", "k3", Option.empty[Double]),
      ("+I", 100L, "g2", "k4", Option(7.0)),
      ("-U", 200L, "g1", "k1", Option(10.0)),
      ("+U", 200L, "g1", "k1", Option(25.0)),
      ("-D", 300L, "g1", "k2", Option(4.0)))
      .toDF("row_kind", "cdc_ts", "g", "k", "x")
  }

  test("retract-aware COUNT/SUM/AVG/MIN/MAX equal the final-state aggregate") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_v")
    try {
      val got = Engine.sql(spark, """
        SELECT g, COUNT(*) AS n, COUNT(x) AS n_x, SUM(x) AS total,
               AVG(x) AS mean, MIN(x) AS lo, MAX(x) AS hi
        FROM cl_v GROUP BY g ORDER BY g
      """).as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().toSeq
      // final state: g1 -> rows (k1, 25.0), (k3, null); g2 -> (k4, 7.0)
      assert(got == Seq(
        ("g1", 2L, 1L, Some(25.0), Some(25.0), Some(25.0), Some(25.0)),
        ("g2", 1L, 1L, Some(7.0), Some(7.0), Some(7.0), Some(7.0))),
        s"got $got")
    } finally spark.catalog.dropTempView("cl_v")
  }

  test("WHERE filters payload before netting; HAVING rewrites too") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_w")
    try {
      // WHERE x < 20: k1's +I(10)/-U(10) still cancel even though its
      // +U(25) is filtered out — a retraction passes the filter iff the
      // row it retracts did. No HAVING crutch: the fully-retracted g1
      // group must be ABSENT on its own (the phantom-group guard).
      val got = Engine.sql(spark, """
        SELECT g, COUNT(*) AS n, SUM(x) AS total
        FROM cl_w WHERE x < 20 GROUP BY g ORDER BY g
      """).as[(String, Long, Option[Double])].collect().toSeq
      // live rows with x<20: only k4 (k2 deleted, k1's 10 retracted,
      // k3 null fails x<20)
      assert(got == Seq(("g2", 1L, Some(7.0))), s"got $got")
    } finally spark.catalog.dropTempView("cl_w")
  }

  test("fully-retracted groups are absent; global aggregates keep the empty row") {
    import spark.implicits._
    // gdead: one insert + its delete -> NO live rows; glive: one insert
    Seq(
      ("+I", 1L, "gdead", "k1", Option(5.0)),
      ("-D", 2L, "gdead", "k1", Option(5.0)),
      ("+I", 1L, "glive", "k2", Option(3.0)))
      .toDF("row_kind", "cdc_ts", "g", "k", "x")
      .createOrReplaceTempView("cl_dead")
    try {
      // sign path (COUNT/SUM only): the dead group must not surface as a
      // phantom (COUNT=0, SUM=null) row
      val fast = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n, SUM(x) AS s FROM cl_dead GROUP BY g")
        .as[(String, Long, Option[Double])].collect().toSeq
      assert(fast == Seq(("glive", 1L, Some(3.0))), s"sign path got $fast")
      // netting path (MIN forces it): same absence
      val net = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n, MIN(x) AS lo FROM cl_dead GROUP BY g")
        .as[(String, Long, Option[Double])].collect().toSeq
      assert(net == Seq(("glive", 1L, Some(3.0))), s"netting path got $net")
      // GLOBAL aggregate over a fully-retracted changelog: one row,
      // COUNT 0 (not NULL, not absent) — correct SQL over empty input
      Seq(("+I", 1L, "g", "k", Option(1.0)), ("-D", 2L, "g", "k", Option(1.0)))
        .toDF("row_kind", "cdc_ts", "g", "k", "x")
        .createOrReplaceTempView("cl_empty")
      val glob = Engine.sql(spark,
        "SELECT COUNT(*) AS n, SUM(x) AS s, MIN(x) AS lo FROM cl_empty")
        .as[(Long, Option[Double], Option[Double])].collect().toSeq
      assert(glob == Seq((0L, None, None)), s"global got $glob")
    } finally {
      spark.catalog.dropTempView("cl_dead")
      spark.catalog.dropTempView("cl_empty"): Unit
    }
  }

  test("aliased changelog relations take the changelog path (qualified refs too)") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_al")
    try {
      for (from <- Seq("cl_al AS oc", "cl_al oc")) {
        val got = Engine.sql(spark,
          s"SELECT oc.g AS g, COUNT(*) AS n, SUM(oc.x) AS s, MIN(oc.x) AS lo " +
            s"FROM $from WHERE oc.g IS NOT NULL GROUP BY oc.g ORDER BY oc.g")
          .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
        assert(got == Seq(("g1", 2L, Some(25.0), Some(25.0)),
          ("g2", 1L, Some(7.0), Some(7.0))), s"FROM $from got $got")
      }
    } finally spark.catalog.dropTempView("cl_al")
  }

  test("allowlist: unclassified and unrewritable aggregates reject; scalars pass") {
    changelog().createOrReplaceTempView("cl_allow")
    try {
      // aggregates OUTSIDE the old blacklist regex — the r11 hole: these
      // silently fell through and counted change rows as data
      for (bad <- Seq(
        "SELECT g, MAX_BY(k, x) AS m FROM cl_allow GROUP BY g",
        "SELECT g, COUNT_IF(x > 5) AS c FROM cl_allow GROUP BY g",
        "SELECT g, MIN_BY(k, x) AS m FROM cl_allow GROUP BY g",
        "SELECT MAX_BY(k, x) AS m FROM cl_allow", // global, no GROUP BY
        "SELECT g, TRY_SUM(x) AS s FROM cl_allow GROUP BY g")) {
        val e = intercept[IllegalArgumentException](Engine.sql(spark, bad))
        assert(e.getMessage.contains("retraction-consuming"),
          s"$bad -> ${e.getMessage}")
      }
      // known scalars compose freely with the supported aggregates
      import spark.implicits._
      val ok = Engine.sql(spark,
        "SELECT UPPER(g) AS g, COUNT(*) AS n, SUM(ABS(x)) AS s, " +
          "CAST(MAX(COALESCE(x, 0)) AS DECIMAL(10,2)) AS hi " +
          "FROM cl_allow GROUP BY UPPER(g) ORDER BY 1")
        .as[(String, Long, Option[Double], Option[java.math.BigDecimal])]
        .collect().toSeq
      assert(ok.map(r => (r._1, r._2, r._3)) ==
        Seq(("G1", 2L, Some(25.0)), ("G2", 1L, Some(7.0))), s"got $ok")
    } finally spark.catalog.dropTempView("cl_allow")
  }

  test("changelog JOIN static: aggregates consume retractions through the join") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_join")
    Seq(("g1", "west"), ("g2", "east"), ("g9", "north"))
      .toDF("g", "region").createOrReplaceTempView("dim_plain")
    try {
      // the r11 silent-wrongness hole, now a REWRITE: final state is
      // g1 -> (k1=25, k3=null), g2 -> (k4=7); dims west/east
      val inner = Engine.sql(spark,
        "SELECT d.region AS region, COUNT(*) AS n, SUM(c.x) AS s, " +
          "MIN(c.x) AS lo FROM cl_join c JOIN dim_plain d ON c.g = d.g " +
          "GROUP BY d.region ORDER BY d.region")
        .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
      assert(inner == Seq(("east", 1L, Some(7.0), Some(7.0)),
        ("west", 2L, Some(25.0), Some(25.0))), s"inner got $inner")
      // LEFT with the changelog PRESERVED: unmatched live rows null-pad
      // the dim; dims only matched by dead rows never resurface
      Seq(("gone", "ghost")).toDF("g", "region").union(
        Seq(("g1", "west"), ("g2", "east")).toDF("g", "region"))
        .createOrReplaceTempView("dim_plain")
      val left = Engine.sql(spark,
        "SELECT c.g AS g, COUNT(*) AS n FROM cl_join c LEFT JOIN dim_plain d " +
          "ON c.g = d.g GROUP BY c.g ORDER BY c.g")
        .as[(String, Long)].collect().toSeq
      assert(left == Seq(("g1", 2L), ("g2", 1L)), s"left got $left")
      // WHERE over BOTH sides applies to live join rows
      val where = Engine.sql(spark,
        "SELECT COUNT(*) AS n FROM cl_join c JOIN dim_plain d ON c.g = d.g " +
          "WHERE d.region = 'west' AND c.x > 10")
        .as[Long].collect().head
      assert(where == 1L, s"where got $where") // only k1=25 (10 retracted)
      // raw (non-aggregating) join SELECT still falls through: the user
      // is enriching the changelog itself — all 7 change rows survive
      val raw = Engine.sql(spark,
        "SELECT c.k, d.region FROM cl_join c JOIN dim_plain d ON c.g = d.g")
      assert(raw.count() == 7L, s"raw join rows: ${raw.count()}")
      // aggregating join that references row_kind is a deliberate raw
      // changelog read: untouched
      val kinds = Engine.sql(spark,
        "SELECT c.row_kind, COUNT(*) AS n FROM cl_join c JOIN dim_plain d " +
          "ON c.g = d.g GROUP BY c.row_kind")
        .as[(String, Long)].collect().toMap
      assert(kinds("+I") == 4L, s"got $kinds")
      // non-changelog joins are untouched
      val plain = Engine.sql(spark,
        "SELECT d.region, COUNT(*) AS n FROM dim_plain d JOIN dim_plain e " +
          "ON d.g = e.g GROUP BY d.region")
      assert(plain.count() == 3L)
    } finally {
      spark.catalog.dropTempView("cl_join")
      spark.catalog.dropTempView("dim_plain"): Unit
    }
  }

  test("inadmissible changelog join shapes still reject loudly") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_rejj")
    Seq(("g1", "west"), ("g2", "east")).toDF("g", "region")
      .createOrReplaceTempView("dim_rejj")
    try {
      // changelog on the NULL-PADDED side: a fully-retracted key would
      // still match and never null-pad — no rewrite exists
      for (bad <- Seq(
        "SELECT d.region, COUNT(*) AS n FROM dim_rejj d LEFT JOIN cl_rejj c ON c.g = d.g GROUP BY d.region",
        "SELECT d.region, COUNT(*) AS n FROM cl_rejj c RIGHT JOIN dim_rejj d ON c.g = d.g GROUP BY d.region",
        "SELECT d.region, COUNT(*) AS n FROM cl_rejj c FULL JOIN dim_rejj d ON c.g = d.g GROUP BY d.region",
        // beyond the linear-chain shape: subquery FROM, set operation
        "SELECT COUNT(*) AS n FROM (SELECT * FROM cl_rejj) t",
        "SELECT COUNT(*) AS n FROM cl_rejj UNION ALL SELECT COUNT(*) FROM dim_rejj",
        // multiple changelogs compose with INNER/CROSS only
        "SELECT COUNT(*) AS n FROM cl_rejj a LEFT JOIN cl_rejj b ON a.k = b.k",
        // a comma-listed FROM is no join chain, whichever relation comes
        // first, and neither is one inside a plain WITH body
        "SELECT COUNT(*) AS n, SUM(x) AS t FROM dim_rejj d, cl_rejj c WHERE d.g = c.g",
        "WITH j AS (SELECT COUNT(*) AS n, SUM(x) AS t FROM dim_rejj d, cl_rejj c " +
          "WHERE d.g = c.g) SELECT * FROM j",
        // an aggregate window over an admissible join has no rewrite
        "SELECT c.k, SUM(c.x) OVER (PARTITION BY d.region) AS t " +
          "FROM cl_rejj c JOIN dim_rejj d ON c.g = d.g")) {
        val e = intercept[IllegalArgumentException](Engine.sql(spark, bad))
        assert(e.getMessage.contains("retraction-consuming") ||
          e.getMessage.contains("materialize the final state"),
          s"$bad -> ${e.getMessage}")
      }
    } finally {
      spark.catalog.dropTempView("cl_rejj")
      spark.catalog.dropTempView("dim_rejj"): Unit
    }
  }

  test("changelog x changelog INNER join: pairwise sign products are exact") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_pair")
    try {
      // final live state: g1 -> {k1: 25.0, k3: null}, g2 -> {k4: 7.0};
      // live PAIRS per g: g1 = 2x2 = 4, g2 = 1. Raw change-row pairs
      // would be g1: 6x6=36, g2: 1 — any sign-product bug is loud.
      val counts = Engine.sql(spark,
        "SELECT a.g AS g, COUNT(*) AS n, SUM(a.x * b.x) AS xx " +
          "FROM cl_pair a JOIN cl_pair b ON a.g = b.g GROUP BY a.g ORDER BY a.g")
        .as[(String, Long, Option[Double])].collect().toSeq
      // SUM over live pairs of a.x*b.x: g1 = 25*25 (null-x pairs drop
      // out of SUM), g2 = 49
      assert(counts == Seq(("g1", 4L, Some(625.0)), ("g2", 1L, Some(49.0))),
        s"got $counts")
      // MIN forces BOTH sides onto netted live multisets
      val mins = Engine.sql(spark,
        "SELECT a.g AS g, COUNT(*) AS n, MIN(b.x) AS lo " +
          "FROM cl_pair a JOIN cl_pair b ON a.g = b.g GROUP BY a.g ORDER BY a.g")
        .as[(String, Long, Option[Double])].collect().toSeq
      assert(mins == Seq(("g1", 4L, Some(25.0)), ("g2", 1L, Some(7.0))),
        s"got $mins")
    } finally spark.catalog.dropTempView("cl_pair")
  }

  test("netting exchange carries only the REFERENCED payload columns") {
    import spark.implicits._
    // a wide changelog: `wide_payload` is never referenced by the
    // statement, so the netting groupBy must not shuffle it
    Seq(
      ("+I", 1L, "g1", "k1", Option(10.0), "x" * 100),
      ("+I", 1L, "g1", "k2", Option(4.0), "y" * 100),
      ("-D", 2L, "g1", "k2", Option(4.0), "y" * 100))
      .toDF("row_kind", "cdc_ts", "g", "k", "x", "wide_payload")
      .createOrReplaceTempView("cl_wide")
    try {
      val df = Engine.sql(spark,
        "SELECT g, MIN(x) AS lo, MAX(x) AS hi FROM cl_wide GROUP BY g")
      val inner = df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.last // innermost aggregate = the netting stage
      val grouped = inner.groupingExpressions.map(_.sql.toLowerCase).toSet
      assert(grouped.exists(_.contains("g")) && grouped.exists(_.contains("x")),
        s"netting must group by the referenced cols: $grouped")
      assert(!grouped.exists(_.contains("wide_payload")) &&
        !grouped.exists(_.contains("k")),
        s"netting must NOT shuffle unreferenced payload: $grouped")
      val got = df.as[(String, Option[Double], Option[Double])].collect().toSeq
      assert(got == Seq(("g1", Some(10.0), Some(10.0))), s"got $got")
    } finally spark.catalog.dropTempView("cl_wide")
  }

  test("GROUP BY without aggregates and SELECT DISTINCT net to live groups") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_dis")
    Seq(
      ("+I", 1L, "gone", "k9", Option(1.0)),
      ("-D", 2L, "gone", "k9", Option(1.0)))
      .toDF("row_kind", "cdc_ts", "g", "k", "x")
      .union(changelog()).createOrReplaceTempView("cl_dis")
    try {
      // `gone` has no live rows: neither form may surface it
      val grp = Engine.sql(spark,
        "SELECT g FROM cl_dis GROUP BY g ORDER BY g").as[String].collect().toSeq
      assert(grp == Seq("g1", "g2"), s"GROUP BY got $grp")
      val dis = Engine.sql(spark,
        "SELECT DISTINCT g FROM cl_dis ORDER BY g").as[String].collect().toSeq
      assert(dis == Seq("g1", "g2"), s"DISTINCT got $dis")
    } finally spark.catalog.dropTempView("cl_dis")
  }

  test("SELECT DISTINCT * nets every payload column and projects exactly those") {
    changelog().createOrReplaceTempView("cl_star")
    try {
      val df = Engine.sql(spark, "SELECT DISTINCT * FROM cl_star")
      assert(df.columns.toSeq == Seq("g", "k", "x"), df.columns.toSeq)
      val got = df.collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
      // the live rows: k1 updated to 25.0, k2 deleted
      assert(got == Set(("g1", "k1", Some(25.0)), ("g1", "k3", None),
        ("g2", "k4", Some(7.0))), s"got $got")
    } finally spark.catalog.dropTempView("cl_star")
  }

  test("SELECT DISTINCT * over a changelog join projects the chain's columns, no weight") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_jstar")
    Seq(("g1", "west"), ("g2", "east")).toDF("g", "nm").createOrReplaceTempView("dim_jstar")
    try {
      val df = Engine.sql(spark,
        "SELECT DISTINCT * FROM cl_jstar c JOIN dim_jstar d ON c.g = d.g")
      assert(df.columns.toSeq == Seq("g", "k", "x", "g", "nm"), df.columns.toSeq)
      val got = df.collect().map(r => (r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(4))).toSet
      // the live rows: k1 updated to 25.0, k2 deleted
      assert(got == Set(("k1", Some(25.0), "west"), ("k3", None, "west"),
        ("k4", Some(7.0), "east")), s"got $got")
      // a qualified star projects its own relation
      val dims = Engine.sql(spark,
        "SELECT DISTINCT d.* FROM cl_jstar c JOIN dim_jstar d ON c.g = d.g")
      assert(dims.columns.toSeq == Seq("g", "nm"), dims.columns.toSeq)
      assert(dims.as[(String, String)].collect().toSet ==
        Set(("g1", "west"), ("g2", "east")))
    } finally {
      spark.catalog.dropTempView("cl_jstar")
      spark.catalog.dropTempView("dim_jstar"): Unit
    }
  }

  test("DDL doors: CTAS/INSERT bodies lower; persistent views and WITH reject") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_ddl")
    val h = math.abs(getClass.getName.hashCode)
    val (ctas, tgt) = (s"cl_ctas_$h", s"cl_tgt_$h")
    spark.sql(s"DROP TABLE IF EXISTS $ctas")
    spark.sql(s"DROP TABLE IF EXISTS $tgt")
    try {
      // CTAS body over a changelog must run through the inference — a
      // raw pass-through would PERSIST counts of retraction rows
      Engine.sql(spark,
        s"CREATE TABLE $ctas AS SELECT g, COUNT(*) AS n FROM cl_ddl GROUP BY g")
      val got = spark.table(ctas).as[(String, Long)].collect().toMap
      assert(got == Map("g1" -> 2L, "g2" -> 1L), s"CTAS persisted $got")
      // INSERT INTO ... SELECT the same way
      spark.sql(s"CREATE TABLE $tgt (g STRING, n BIGINT) USING parquet")
      Engine.sql(spark,
        s"INSERT INTO $tgt SELECT g, COUNT(*) AS n FROM cl_ddl GROUP BY g")
      val ins = spark.table(tgt).as[(String, Long)].collect().toMap
      assert(ins == Map("g1" -> 2L, "g2" -> 1L), s"INSERT persisted $ins")
      // a TEMPORARY view materializes the lowered lineage
      Engine.sql(spark,
        "CREATE TEMPORARY VIEW cl_ddl_v AS SELECT g, COUNT(*) AS n FROM cl_ddl GROUP BY g")
      val v = spark.table("cl_ddl_v").as[(String, Long)].collect().toMap
      assert(v == Map("g1" -> 2L, "g2" -> 1L), s"temp view shows $v")
      spark.catalog.dropTempView("cl_ddl_v")
      // a PERSISTENT view cannot carry the lowered plan across sessions:
      // its TEXT would re-parse without the inference — loud reject
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          s"CREATE VIEW cl_perm_$h AS SELECT g, COUNT(*) AS n FROM cl_ddl GROUP BY g")
      }
      assert(e.getMessage.contains("TEMPORARY"), e.getMessage)
      // WITH-led changelog aggregates have no rewrite yet: loud reject,
      // never a silent raw aggregate
      val e2 = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "WITH t AS (SELECT 1 AS one) SELECT COUNT(*) AS n FROM cl_ddl")
      }
      assert(e2.getMessage.contains("materialize the final state"), e2.getMessage)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $ctas")
      spark.sql(s"DROP TABLE IF EXISTS $tgt")
      spark.catalog.dropTempView("cl_ddl"): Unit
    }
  }

  test("registered retractable UDA lowers through the changelog statement shape") {
    import spark.implicits._
    // GEO_MEAN with the ImperativeAggregateFunction retract/merge
    // surface: [Σ log x, n] — exact under adds AND retractions
    object GeoMean extends graft.streaming.StatefulOps.RetractableOverAgg {
      val size = 2
      def zero = Array(0.0, 0.0)
      def reduce(b: Array[Double], x: Double): Unit = { b(0) += math.log(x); b(1) += 1 }
      def retract(b: Array[Double], x: Double): Unit = { b(0) -= math.log(x); b(1) -= 1 }
      def merge(a: Array[Double], b: Array[Double]): Unit = { a(0) += b(0); a(1) += b(1) }
      def finish(b: Array[Double]): Double =
        if (b(1) <= 0) Double.NaN else math.exp(b(0) / b(1))
    }
    StreamOverSql.registerAggregate("GEO_MEAN_CL", GeoMean)
    // a non-retractable UDA must reject over a changelog
    object NoRetract extends graft.streaming.StatefulOps.OverAgg {
      val size = 1
      def zero = Array(0.0)
      def reduce(b: Array[Double], x: Double): Unit = b(0) += x
      def finish(b: Array[Double]): Double = b(0)
    }
    StreamOverSql.registerAggregate("SUMISH_CL", NoRetract)
    changelog().createOrReplaceTempView("cl_uda")
    try {
      // q146's statement shape with the UDA alongside built-ins
      val got = Engine.sql(spark, """
        SELECT g, COUNT(*) AS n, GEO_MEAN_CL(x) AS gm
        FROM cl_uda GROUP BY g ORDER BY g
      """).as[(String, Long, Option[Double])].collect().toSeq
      // final state: g1 -> (25.0, null) => geo-mean over non-null = 25;
      // g2 -> (7.0) => 7. Exact final-state equality.
      assert(got.map(_._1) == Seq("g1", "g2"))
      assert(got.map(_._2) == Seq(2L, 1L))
      assert(math.abs(got(0)._3.get - 25.0) < 1e-9 &&
        math.abs(got(1)._3.get - 7.0) < 1e-9, s"got $got")
      // with MIN alongside, the UDA rides the NETTING path (weight __net)
      val netted = Engine.sql(spark, """
        SELECT g, MIN(x) AS lo, GEO_MEAN_CL(x) AS gm
        FROM cl_uda GROUP BY g ORDER BY g
      """).as[(String, Option[Double], Option[Double])].collect().toSeq
      assert(math.abs(netted(0)._3.get - 25.0) < 1e-9 &&
        math.abs(netted(1)._3.get - 7.0) < 1e-9, s"netted $netted")
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark, "SELECT g, SUMISH_CL(x) AS s FROM cl_uda GROUP BY g")
      }
      assert(e.getMessage.contains("retract"), e.getMessage)
    } finally spark.catalog.dropTempView("cl_uda")
  }

  test("reduceWeighted override equals the replay default on a netted changelog") {
    import spark.implicits._
    // linear UDA (weighted sum of logs) two ways: the replay-loop
    // default vs an O(1) weighted-fold override. A HIGH-MULTIPLICITY
    // netted changelog (one key inserted 500×, retracted 200×) makes
    // the netting path hand a single row with |weight| = 300 to the
    // accumulator, so a wrong override (or a wrong replay) diverges.
    object Replay extends graft.streaming.StatefulOps.RetractableOverAgg {
      val size = 2
      def zero = Array(0.0, 0.0)
      def reduce(b: Array[Double], x: Double): Unit = { b(0) += math.log(x); b(1) += 1 }
      def retract(b: Array[Double], x: Double): Unit = { b(0) -= math.log(x); b(1) -= 1 }
      def merge(a: Array[Double], b: Array[Double]): Unit = { a(0) += b(0); a(1) += b(1) }
      def finish(b: Array[Double]): Double =
        if (b(1) <= 0) Double.NaN else math.exp(b(0) / b(1))
    }
    object Weighted extends graft.streaming.StatefulOps.RetractableOverAgg {
      val size = 2
      def zero = Array(0.0, 0.0)
      def reduce(b: Array[Double], x: Double): Unit = { b(0) += math.log(x); b(1) += 1 }
      def retract(b: Array[Double], x: Double): Unit = { b(0) -= math.log(x); b(1) -= 1 }
      def merge(a: Array[Double], b: Array[Double]): Unit = { a(0) += b(0); a(1) += b(1) }
      def finish(b: Array[Double]): Double =
        if (b(1) <= 0) Double.NaN else math.exp(b(0) / b(1))
      override def reduceWeighted(b: Array[Double], x: Double, w: Long): Unit = {
        b(0) += math.log(x) * w; b(1) += w
      }
    }
    StreamOverSql.registerAggregate("GM_REPLAY", Replay)
    StreamOverSql.registerAggregate("GM_WEIGHTED", Weighted)
    val hi = (1 to 500).map(i => ("+I", i.toLong, "g1", 3.0)) ++
      (1 to 200).map(i => ("-D", 500L + i, "g1", 3.0)) ++
      Seq(("+I", 900L, "g1", 12.0), ("+I", 901L, "g2", 7.0))
    hi.toDF("row_kind", "cdc_ts", "g", "x").createOrReplaceTempView("cl_wfold")
    try {
      // MIN alongside forces the NETTING path: per-value net counts
      // become the weights the accumulator folds
      def run(fn: String) = Engine.sql(spark,
        s"SELECT g, MIN(x) AS lo, $fn(x) AS gm FROM cl_wfold GROUP BY g ORDER BY g")
        .as[(String, Option[Double], Option[Double])].collect().toSeq
      val (a, b) = (run("GM_REPLAY"), run("GM_WEIGHTED"))
      assert(a.map(_._1) == b.map(_._1) && a.map(_._2) == b.map(_._2))
      a.zip(b).foreach { case (ra, rb) =>
        assert(math.abs(ra._3.get - rb._3.get) < 1e-9, s"$ra vs $rb") }
      // exactness: g1 = geomean(3.0×300, 12.0×1), g2 = 7.0
      val expected = math.exp((300 * math.log(3.0) + math.log(12.0)) / 301)
      assert(math.abs(a(0)._3.get - expected) < 1e-9, a.toString)
      assert(math.abs(a(1)._3.get - 7.0) < 1e-9, a.toString)
    } finally spark.catalog.dropTempView("cl_wfold")
  }

  test("FINAL_STATE(t) materializes the live multiset for reject-shaped statements") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_fs")
    try {
      // the ROW_NUMBER-subquery shape has no retraction-consuming
      // rewrite and REJECTS over the raw changelog...
      val e = intercept[IllegalArgumentException](Engine.sql(spark, """
        SELECT g, k, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
          FROM cl_fs) t WHERE rn <= 1"""))
      assert(e.getMessage.contains("materialize"), e.getMessage)
      // ...and runs CORRECTLY over FINAL_STATE: final rows are
      // g1 -> (k1, 25.0), (k3, null); g2 -> (k4, 7.0)
      val got = Engine.sql(spark, """
        SELECT g, k, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
          FROM FINAL_STATE(cl_fs)) t WHERE rn <= 1 ORDER BY g""")
        .as[(String, String, Long)].collect().toSeq
      assert(got == Seq(("g1", "k1", 1L), ("g2", "k4", 1L)), got.toString)
      // live MULTIPLICITY is replicated: two identical live rows count 2
      Seq(("+I", 1L, "a", 1.0), ("+I", 2L, "a", 1.0), ("+I", 3L, "a", 1.0),
        ("-D", 4L, "a", 1.0))
        .toDF("row_kind", "cdc_ts", "k", "x").createOrReplaceTempView("cl_fs2")
      val dup = Engine.sql(spark,
        "SELECT COUNT(*) AS n FROM FINAL_STATE(cl_fs2)").as[Long].collect().head
      assert(dup == 2L, s"net multiplicity lost: $dup")
      // joins of two final states work too (composite FROM, no reject)
      val j = Engine.sql(spark, """
        SELECT COUNT(*) AS n FROM FINAL_STATE(cl_fs) a
        JOIN FINAL_STATE(cl_fs2) b ON a.x > b.x""").as[Long].collect().head
      assert(j == 4L, s"2 live rows x (25.0, 7.0) > 1.0: $j") // k3 null drops
      // a non-changelog relation rejects loudly
      Seq((1, "p")).toDF("a", "b").createOrReplaceTempView("plain_fs")
      val e2 = intercept[IllegalArgumentException](
        Engine.sql(spark, "SELECT * FROM FINAL_STATE(plain_fs)"))
      assert(e2.getMessage.contains("not a changelog"), e2.getMessage)
      spark.catalog.dropTempView("cl_fs2")
      spark.catalog.dropTempView("plain_fs")
    } finally spark.catalog.dropTempView("cl_fs")
  }

  test("FINAL_STATE composes with the extended dialect and rejects in streams") {
    import spark.implicits._
    // MATCH_RECOGNIZE over the materialized final state: the rewrite
    // happens before the composer, so the MR bridge sees a plain view
    Seq(
      ("+I", 1L, 7L, 1L, 10.0), ("+I", 1L, 7L, 2L, 5.0),
      ("+I", 1L, 7L, 3L, 12.0),
      ("-U", 2L, 7L, 2L, 5.0), ("+U", 2L, 7L, 2L, 11.0))
      .toDF("row_kind", "cdc_ts", "sym", "seq", "price")
      .createOrReplaceTempView("cl_fs_mr")
    try {
      // final state: (a,1,10), (a,2,11), (a,3,12) — strictly rising, so
      // UP+ matches the whole run; over the RAW changelog the dip to 5
      // would break it (and MR over a changelog would be wrong anyway)
      val got = Engine.sql(spark, """
        SELECT * FROM FINAL_STATE(cl_fs_mr)
        MATCH_RECOGNIZE (
          PARTITION BY sym ORDER BY seq, price
          MEASURES FIRST(UP.price) AS lo, LAST(UP.price) AS hi
          ONE ROW PER MATCH
          PATTERN (UP{3})
          DEFINE UP AS price > 0
        )""").select("lo", "hi").as[(Double, Double)].collect().toSeq
      assert(got == Seq((10.0, 12.0)), got.toString)
      // streaming INSERT over FINAL_STATE rejects with guidance
      val t = s"cl_fs_mr_tbl_${math.abs(getClass.getName.hashCode)}"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.table("cl_fs_mr").write.saveAsTable(t)
      val e = intercept[IllegalArgumentException](Engine.sqlStreamInsert(
        spark, s"INSERT INTO nowhere SELECT sym, COUNT(*) AS n " +
          s"FROM FINAL_STATE($t) GROUP BY sym", "/tmp/never-fs"))
      assert(e.getMessage.contains("BATCH read"), e.getMessage)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    } finally spark.catalog.dropTempView("cl_fs_mr")
  }

  test("FINAL_STATE over a DECLARED UPSERT table is the keep-last collapse") {
    import spark.implicits._
    val t = s"cl_fs_ups_${math.abs(getClass.getName.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq(("+U", 1L, "k1", 4.0), ("+U", 2L, "k1", 7.5),
      ("+U", 1L, "k2", 9.0), ("-D", 3L, "k2", 9.0))
      .toDF("row_kind", "cdc_ts", "k", "v").write.saveAsTable(t)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.upsert.keys' = 'k')")
    try {
      val got = Engine.sql(spark,
        s"SELECT k, v, ROW_NUMBER() OVER (ORDER BY v) AS rn " +
          s"FROM FINAL_STATE($t) ORDER BY rn")
        .as[(String, Double, Long)].collect().toSeq
      assert(got == Seq(("k1", 7.5, 1L)), got.toString)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
  }

  test("raw changelog reads (row_kind/cdc_ts referenced) fall through") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_raw")
    try {
      val kinds = Engine.sql(spark,
        "SELECT row_kind, COUNT(*) AS n FROM cl_raw GROUP BY row_kind ORDER BY row_kind")
        .as[(String, Long)].collect().toMap
      // the user asked about the changelog ITSELF: change rows counted
      assert(kinds == Map("+I" -> 4L, "-U" -> 1L, "+U" -> 1L, "-D" -> 1L),
        s"got $kinds")
      // and a plain projection is untouched too
      val n = Engine.sql(spark, "SELECT k FROM cl_raw").count()
      assert(n == 7L, s"raw projection rows: $n")
    } finally spark.catalog.dropTempView("cl_raw")
  }

  test("non-changelog relations never take the changelog path") {
    import spark.implicits._
    Seq(("g1", 1.0), ("g1", 2.0)).toDF("g", "x")
      .createOrReplaceTempView("plain_v")
    try {
      val got = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n, SUM(x) AS s FROM plain_v GROUP BY g")
        .as[(String, Long, Double)].collect().toSeq
      assert(got == Seq(("g1", 2L, 3.0)), s"got $got")
    } finally spark.catalog.dropTempView("plain_v")
  }

  test("unsupported aggregates over a changelog reject loudly") {
    changelog().createOrReplaceTempView("cl_rej")
    try {
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "SELECT g, ANY_VALUE(x) AS a FROM cl_rej GROUP BY g")
      }
      assert(e.getMessage.contains("retraction-consuming"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "SELECT g, COUNT(DISTINCT k) AS n FROM cl_rej GROUP BY g")
      }
      assert(e2.getMessage.contains("DISTINCT"), e2.getMessage)
    } finally spark.catalog.dropTempView("cl_rej")
  }

  test("global aggregate (no GROUP BY) consumes retractions too") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_g")
    try {
      val got = Engine.sql(spark,
        "SELECT COUNT(*) AS n, SUM(x) AS total FROM cl_g")
        .as[(Long, Option[Double])].collect().head
      assert(got == ((3L, Some(32.0))), s"got $got")
    } finally spark.catalog.dropTempView("cl_g")
  }

  test("aggregates in HAVING alone still take the changelog path") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_hav")
    try {
      // netted counts: g1=2, g2=1; raw change-row counts would be 6/1,
      // so HAVING COUNT(*) = 2 separates the two lowerings
      val got = Engine.sql(spark,
        "SELECT g FROM cl_hav GROUP BY g HAVING COUNT(*) = 2")
        .as[String].collect().toSeq
      assert(got == Seq("g1"), s"got $got")
    } finally spark.catalog.dropTempView("cl_hav")
  }

  test("aggregates in ORDER BY are netted too") {
    import spark.implicits._
    // ga: 1 live row + 2 insert/delete pairs -> raw 5, net 1;
    // gb: 3 live rows -> raw 3, net 3. Raw ordering by COUNT(*) would
    // invert the netted one.
    Seq(
      ("+I", 1L, "ga", "a1", 1.0), ("+I", 1L, "ga", "a2", 2.0),
      ("-D", 2L, "ga", "a2", 2.0), ("+I", 1L, "ga", "a3", 3.0),
      ("-D", 2L, "ga", "a3", 3.0),
      ("+I", 1L, "gb", "b1", 1.0), ("+I", 1L, "gb", "b2", 2.0),
      ("+I", 1L, "gb", "b3", 3.0))
      .toDF("row_kind", "cdc_ts", "g", "k", "x")
      .createOrReplaceTempView("cl_ord")
    try {
      val got = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n FROM cl_ord GROUP BY g ORDER BY COUNT(*), g")
        .as[(String, Long)].collect().toSeq
      assert(got == Seq(("ga", 1L), ("gb", 3L)), s"got $got")
    } finally spark.catalog.dropTempView("cl_ord")
  }

  test("window functions and scalar subqueries fall through as raw reads") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_win")
    try {
      // agg OVER (...) is a window over the changelog ITSELF — no
      // half-right group rewrite; all 7 change rows count
      val win = Engine.sql(spark,
        "SELECT k, COUNT(*) OVER () AS n FROM cl_win")
        .as[(String, Long)].collect().toSeq
      assert(win.size == 7 && win.forall(_._2 == 7L), s"got $win")
      // a scalar subquery aggregates a DIFFERENT relation: untouched
      val sub = Engine.sql(spark,
        "SELECT k, (SELECT 41 + 1) AS x FROM cl_win")
        .as[(String, Int)].collect().toSeq
      assert(sub.size == 7 && sub.forall(_._2 == 42), s"got $sub")
    } finally spark.catalog.dropTempView("cl_win")
  }

  test("unsupported aggregate in HAVING rejects loudly too") {
    changelog().createOrReplaceTempView("cl_hrej")
    try {
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "SELECT g, COUNT(*) AS n FROM cl_hrej GROUP BY g HAVING ANY_VALUE(x) > 0")
      }
      assert(e.getMessage.contains("retraction-consuming"), e.getMessage)
    } finally spark.catalog.dropTempView("cl_hrej")
  }

  test("COUNT/SUM/AVG-only statements take the single-exchange sign path") {
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_fast")
    try {
      // sign algebra distributes for COUNT/SUM/AVG: no netting shuffle
      val fast = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n, COUNT(x) AS nx, SUM(x) AS s, AVG(x) AS m " +
          "FROM cl_fast GROUP BY g")
      // MIN forces the live-multiset netting (needs surviving VALUES)
      val slow = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n, COUNT(x) AS nx, SUM(x) AS s, AVG(x) AS m, " +
          "MIN(x) AS lo FROM cl_fast GROUP BY g")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange"))
      assert(exchanges(fast) == 1,
        s"sign path must pay exactly ONE exchange:\n${fast.queryExecution.executedPlan}")
      assert(exchanges(slow) == 2,
        s"netting path pays the netting + GROUP BY exchanges:\n${slow.queryExecution.executedPlan}")
      // and both paths agree on every shared column
      val f = fast.orderBy("g")
        .as[(String, Long, Long, Option[Double], Option[Double])].collect().toSeq
      val s = slow.orderBy("g")
        .select($"g", $"n", $"nx", $"s", $"m")
        .as[(String, Long, Long, Option[Double], Option[Double])].collect().toSeq
      assert(f == s, s"sign path $f != netting path $s")
      assert(f == Seq(("g1", 2L, 1L, Some(25.0), Some(25.0)),
        ("g2", 1L, 1L, Some(7.0), Some(7.0))), s"got $f")
    } finally spark.catalog.dropTempView("cl_fast")
  }

  test("LIMIT and a trailing semicolon stay on the changelog path") {
    // either used to make parse() bail and silently aggregate the raw
    // change rows through plain spark.sql
    import spark.implicits._
    changelog().createOrReplaceTempView("cl_lim")
    try {
      val got = Engine.sql(spark,
        "SELECT g, COUNT(*) AS n FROM cl_lim GROUP BY g ORDER BY g LIMIT 1;")
        .as[(String, Long)].collect().toSeq
      assert(got == Seq(("g1", 2L)), s"got $got") // 7 raw rows, 2 live
    } finally spark.catalog.dropTempView("cl_lim")
  }
}
