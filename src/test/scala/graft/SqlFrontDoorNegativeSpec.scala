package graft

import org.scalatest.funsuite.AnyFunSuite

/** Negative-space sweep for the SQL front door (Engine.sql → SqlComposer
  * → dialect lowerings): the regex front end's failure mode is SILENT —
  * a missed marker falls through to batch spark.sql, a false marker
  * drags a plain statement through the composer — so this spec pins the
  * boundary from BOTH sides. Three groups:
  *
  *   1. must FALL THROUGH unchanged: extended-dialect marker text hiding
  *      in string literals, line/bracketed/nested comments, and
  *      marker-adjacent identifiers (`MY_MATCH_RECOGNIZE(`) must not
  *      trigger detection — and must not desync the paren walk;
  *   2. must REJECT LOUDLY: WITH RECURSIVE + extended constructs,
  *      non-TEMPORARY CREATE VIEW over an extended body, unbalanced
  *      parentheses, correlated subqueries containing extended
  *      constructs (unliftable — the inner lowering names the missing
  *      column), malformed WITH clauses;
  *   3. must STILL LOWER: a real extended construct next to a decoy
  *      literal spelling the same marker.
  *
  * The detection-level cases drive SqlComposer.blank/hasMarker directly;
  * the behavior-level cases run end to end through Engine.sql. */
class SqlFrontDoorNegativeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def blank(s: String) = SqlComposer.blank(s)
  private def marker(s: String) = SqlComposer.hasMarker(blank(s))

  // ---- group 1a: detection must NOT fire ------------------------------

  private val noMarkerCases: Seq[(String, String)] = Seq(
    "single-quoted literal" ->
      "SELECT 'MATCH_RECOGNIZE(' AS s",
    "double-quoted literal" ->
      """SELECT "FOR SYSTEM_TIME AS OF" AS s""",
    "quote-doubled literal" ->
      "SELECT 'it''s MATCH_RECOGNIZE(' AS s",
    "backslash-escaped literal" ->
      """SELECT 'don\'t TABLE(TUMBLE(' AS s""",
    "line comment" ->
      "SELECT 1 AS x -- MATCH_RECOGNIZE( lives here\n",
    "line comment at end of input" ->
      "SELECT 1 AS x -- FOR SYSTEM_TIME AS OF",
    "bracketed comment" ->
      "/* FOR SYSTEM_TIME AS OF */ SELECT 2 AS x",
    "NESTED bracketed comment (SPARK-28880)" ->
      "/* outer /* TABLE(TUMBLE( */ still comment */ SELECT 3 AS x",
    "marker-adjacent identifier prefix" ->
      "SELECT MY_MATCH_RECOGNIZE(1)",
    "marker-adjacent identifier suffix" ->
      "SELECT MATCH_RECOGNIZE_V2(1)",
    "snake-cased temporal phrase as identifier" ->
      "SELECT for_system_time_as_of FROM t",
    "TUMBLE not in TABLE() position" ->
      "SELECT RETABLE(TUMBLE(x)) FROM t",
    "temporal phrase split across identifiers" ->
      "SELECT 1 FROM for_t JOIN system_time_t ON 1=1")

  noMarkerCases.foreach { case (label, stmt) =>
    test(s"no marker: $label") {
      assert(!marker(stmt), s"false marker on: $stmt\nblanked: ${blank(stmt)}")
    }
  }

  // ---- group 1b: detection MUST fire (boundary positives) -------------

  private val markerCases: Seq[(String, String)] = Seq(
    "spaced MATCH_RECOGNIZE" ->
      "SELECT * FROM t MATCH_RECOGNIZE   ( PARTITION BY k )",
    "lower-case temporal join" ->
      "SELECT * FROM a JOIN b for system_time as of a.ts ON a.k = b.k",
    "HOP TVF with inner spacing" ->
      "SELECT * FROM TABLE ( HOP (TABLE t, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '5' MINUTE))",
    "marker AFTER a decoy literal" ->
      "SELECT 'MATCH_RECOGNIZE(' AS s FROM t MATCH_RECOGNIZE (PARTITION BY k)",
    "marker AFTER a decoy comment" ->
      "SELECT 1 /* TABLE(TUMBLE( */ FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '4' MINUTE))")

  markerCases.foreach { case (label, stmt) =>
    test(s"marker fires: $label") {
      assert(marker(stmt), s"missed marker on: $stmt\nblanked: ${blank(stmt)}")
    }
  }

  // ---- group 1c: blanking must preserve geometry and non-literal text --

  test("blanking preserves length and the position of real SQL") {
    val s = "SELECT '--x' AS s, 1 /* c(c */ AS y FROM t -- tail("
    val b = blank(s)
    assert(b.length == s.length, "blanking must be same-length")
    assert(b.indexOf("FROM t") == s.indexOf("FROM t"),
      s"real SQL moved:\n$s\n$b")
    assert(!b.contains("tail("), "line comment text must blank")
    assert(!b.contains("c(c"), "bracketed comment text must blank")
    assert(b.contains("AS s"), "alias outside the literal must survive")
  }

  test("comment openers inside string literals are literal text") {
    // '--' and '/*' inside a literal must not start a comment — the
    // text AFTER the literal is real SQL and must survive blanking
    val s = "SELECT '-- not a comment /* nope' AS s, 42 AS x"
    val b = blank(s)
    assert(b.contains("AS x"), s"statement tail swallowed: $b")
    import spark.implicits._
    val r = Engine.sql(spark, s).as[(String, Int)].collect().head
    assert(r == (("-- not a comment /* nope", 42)), s"got $r")
  }

  test("parens inside literals and comments never desync the subquery walk") {
    import spark.implicits._
    // an unbalanced '(' in a literal + one in a comment, around a REAL
    // subquery — historically either would throw 'unbalanced
    // parentheses' or shift the span splice
    val r = Engine.sql(spark,
      "SELECT s, v FROM (SELECT '((' AS s, /* ) */ 7 AS v) t -- (((")
      .as[(String, Int)].collect().head
    assert(r == (("((", 7)), s"got $r")
  }

  // ---- group 2: behavior — must fall through to batch spark.sql -------

  test("fall-through: literal/comment decoys execute as plain batch SQL") {
    import spark.implicits._
    val decoys = Seq(
      "SELECT 'MATCH_RECOGNIZE(' AS s" -> "MATCH_RECOGNIZE(",
      "/* FOR SYSTEM_TIME AS OF */ SELECT 'x' AS s" -> "x",
      "SELECT 'TABLE(TUMBLE(' AS s -- FOR SYSTEM_TIME AS OF" -> "TABLE(TUMBLE(")
    decoys.foreach { case (stmt, expect) =>
      val got = Engine.sql(spark, stmt).as[String].collect().toSeq
      assert(got == Seq(expect), s"$stmt -> $got")
    }
  }

  test("fall-through: plain correlated EXISTS subquery is never lifted") {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").createOrReplaceTempView("neg_a")
    Seq(1L).toDF("k").createOrReplaceTempView("neg_b")
    try {
      val got = Engine.sql(spark,
        "SELECT v FROM neg_a WHERE EXISTS (SELECT 1 FROM neg_b WHERE neg_b.k = neg_a.k)")
        .as[String].collect().toSeq
      assert(got == Seq("a"), s"got $got")
    } finally {
      spark.catalog.dropTempView("neg_a")
      spark.catalog.dropTempView("neg_b")
    }
  }

  test("fall-through: WITH RECURSIVE without extended constructs is native") {
    import spark.implicits._
    val got = Engine.sql(spark,
      "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3) " +
        "SELECT CAST(sum(n) AS BIGINT) AS s FROM r").as[Long].collect().toSeq
    assert(got == Seq(6L), s"got $got")
  }

  // ---- group 3: behavior — must reject LOUDLY --------------------------

  private def evRows = {
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:40")),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:01:10")))
      .toDF("k", "ts")
  }

  test("reject: WITH RECURSIVE combined with an extended construct") {
    evRows.createOrReplaceTempView("neg_ev")
    try {
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "WITH RECURSIVE r(n) AS (SELECT 1) SELECT * FROM TABLE(TUMBLE(" +
            "TABLE neg_ev, DESCRIPTOR(ts), INTERVAL '1' MINUTE))")
      }
      assert(e.getMessage.contains("WITH RECURSIVE"), e.getMessage)
    } finally spark.catalog.dropTempView("neg_ev")
  }

  test("reject: non-TEMPORARY CREATE VIEW over an extended body") {
    evRows.createOrReplaceTempView("neg_ev")
    try {
      val e = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "CREATE VIEW neg_perm_v AS SELECT * FROM TABLE(TUMBLE(" +
            "TABLE neg_ev, DESCRIPTOR(ts), INTERVAL '1' MINUTE))")
      }
      assert(e.getMessage.contains("TEMPORARY"), e.getMessage)
      assert(!spark.catalog.tableExists("neg_perm_v"),
        "rejected CREATE VIEW must not half-create")
    } finally spark.catalog.dropTempView("neg_ev")
  }

  test("reject: unbalanced parentheses in an extended statement") {
    val e = intercept[IllegalArgumentException] {
      Engine.sql(spark, "SELECT 1 FROM (SELECT 2 WHERE TABLE(TUMBLE(")
    }
    assert(e.getMessage.contains("unbalanced"), e.getMessage)
  }

  test("reject: correlated subquery CONTAINING an extended construct " +
      "fails naming the unresolvable column") {
    import spark.implicits._
    evRows.createOrReplaceTempView("neg_ev")
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("neg_outer")
    try {
      // the lift cannot bind outer.k inside a standalone view: the inner
      // lowering must fail LOUDLY (Spark's unresolved-column error),
      // never silently drop the correlation
      val e = intercept[Exception] {
        Engine.sql(spark,
          "SELECT k FROM neg_outer o WHERE EXISTS (SELECT 1 FROM TABLE(" +
            "TUMBLE(TABLE neg_ev, DESCRIPTOR(ts), INTERVAL '1' MINUTE)) w " +
            "WHERE w.k = o.k)")
      }
      val msg = Option(e.getMessage).getOrElse("")
      assert(msg.toUpperCase.contains("O.K") || msg.contains("`o`.`k`") ||
        msg.toUpperCase.contains("UNRESOLVED") || msg.toUpperCase.contains("RESOLVE"),
        s"rejection must name the unresolvable reference: $msg")
    } finally {
      spark.catalog.dropTempView("neg_ev")
      spark.catalog.dropTempView("neg_outer")
    }
  }

  test("reject: EXECUTE STATEMENT SET with an empty body") {
    val e = intercept[IllegalArgumentException] {
      Engine.sql(spark, "EXECUTE STATEMENT SET BEGIN END")
    }
    assert(e.getMessage.contains("empty body"), e.getMessage)
  }

  test("reject: continuous append INSERT into an undeclared sink") {
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"fdn_src_$h", s"fdn_nosink_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v BIGINT, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)""")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-nosink").toString
      val running = spark.streams.active.length
      val e = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark,
          s"INSERT INTO $sink SELECT k, v FROM $src WHERE v > 0", ckpt)
      }
      assert(e.getMessage.contains(s"INSERT INTO $sink: no such table"),
        e.getMessage)
      assert(!spark.catalog.tableExists(sink), "the sink was created")
      assert(spark.streams.active.length == running, "a query started")
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    }
  }

  test("reject: extended WITH missing AS / missing main statement") {
    evRows.createOrReplaceTempView("neg_ev")
    try {
      val e1 = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "WITH c (SELECT 1) SELECT * FROM neg_ev MATCH_RECOGNIZE (" +
            "PARTITION BY k ORDER BY ts MEASURES FIRST(A.ts) AS t0 " +
            "PATTERN (A) DEFINE A AS true)")
      }
      assert(e1.getMessage.contains("expected AS"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Engine.sql(spark,
          "WITH c AS (SELECT * FROM neg_ev MATCH_RECOGNIZE (PARTITION BY k " +
            "ORDER BY ts MEASURES FIRST(A.ts) AS t0 PATTERN (A) DEFINE A AS true))")
      }
      assert(e2.getMessage.contains("missing main statement"), e2.getMessage)
    } finally spark.catalog.dropTempView("neg_ev")
  }

  // ---- group 5 (r12): adversarial cases for the TOKEN path -------------
  // the composer's marker detection and clause slicing now walk
  // SqlTokens streams; these pin the lexical corners regex-over-blanked
  // text historically got wrong (or right only by luck)

  private val tokenNoMarkerCases: Seq[(String, String)] = Seq(
    "$-carrying identifier fused to a marker word" ->
      "SELECT MATCH_RECOGNIZE$v2(1) FROM t", // \b regex split at '$' and false-fired
    "$$ identifier in relation position" ->
      "SELECT a$$b FROM t$$v WHERE c$ > 0",
    "backtick-quoted marker word is an identifier" ->
      "SELECT `match_recognize`(1) FROM t",
    "quote inside a backticked identifier stays an identifier" ->
      "SELECT `it's MATCH_RECOGNIZE(` FROM t",
    "unicode quotation marks are not string delimiters" ->
      "SELECT '‘MATCH_RECOGNIZE(’' AS s, '«TABLE(TUMBLE(»' AS r",
    "unterminated literal swallows the marker tail" ->
      "SELECT 'MATCH_RECOGNIZE( FROM t",
    "nested comment containing quotes and a marker" ->
      "/* 'not /* a string */ still comment' MATCH_RECOGNIZE( */ SELECT 4 AS x",
    "literal comment-opener then real comment with quote + marker" ->
      "SELECT '/*' AS a, 5 AS x /* ') TABLE(TUMBLE( */")

  tokenNoMarkerCases.foreach { case (label, stmt) =>
    test(s"token path, no marker: $label") {
      assert(!marker(stmt), s"false marker on: $stmt\nblanked: ${blank(stmt)}")
    }
  }

  private val tokenMarkerCases: Seq[(String, String)] = Seq(
    "comment BETWEEN temporal marker words (comment = whitespace)" ->
      "SELECT * FROM a JOIN b FOR /* sure */ SYSTEM_TIME AS OF a.ts ON a.k = b.k",
    "comment between TABLE and the TVF paren" ->
      "SELECT * FROM TABLE /* hop */ (HOP(TABLE t, DESCRIPTOR(ts), INTERVAL '1' MINUTE, INTERVAL '5' MINUTE))",
    "line comment + newline inside the temporal phrase" ->
      "SELECT * FROM a JOIN b FOR -- x\n SYSTEM_TIME AS OF a.ts ON a.k = b.k")

  tokenMarkerCases.foreach { case (label, stmt) =>
    test(s"token path, marker fires: $label") {
      assert(marker(stmt), s"missed marker on: $stmt\nblanked: ${blank(stmt)}")
    }
  }

  test("token path: literal/comment interleavings execute end to end") {
    import spark.implicits._
    val r = Engine.sql(spark,
      "SELECT 'it''s /* not */ a string' AS s, 1 AS x /* ')(' */ -- ('")
      .as[(String, Int)].collect().head
    assert(r == (("it's /* not */ a string", 1)), s"got $r")
    // a backticked alias carrying a quote must survive the walk
    val r2 = Engine.sql(spark,
      "SELECT v FROM (SELECT 7 AS v) `it's a name`").as[Int].collect().head
    assert(r2 == 7, s"got $r2")
  }

  // ---- hint-block negative space (r12, SqlHints) ----

  test("hints: malformed blocks reject loudly, benign shapes survive") {
    import spark.implicits._
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("neg_h")
    try {
      // a nested comment INSIDE a hint block is whitespace to the parser
      val ok = Engine.sql(spark,
        "SELECT /*+ BROADCAST(neg_h) /* why: tiny */ */ a FROM neg_h")
        .as[Int].collect().head
      assert(ok == 1)
      // empty block, kv-missing-=, ident args on OPTIONS: all loud
      for (bad <- Seq(
          "SELECT /*+ */ a FROM neg_h",
          "SELECT /*+ LOOKUP('table' 'd') */ a FROM neg_h",
          "SELECT a FROM neg_h /*+ OPTIONS(x) */")) {
        val e = intercept[IllegalArgumentException](Engine.sql(spark, bad))
        assert(e.getMessage.toLowerCase.contains("hint"), s"$bad -> ${e.getMessage}")
      }
      // a hint block in a position that is neither after SELECT nor after
      // a relation is a grammar error, not a silent comment
      intercept[IllegalArgumentException](Engine.sql(spark,
        "SELECT a FROM neg_h WHERE /*+ BROADCAST(neg_h) */ a > 0"))
      // a '*/' INSIDE a hint option value ends the bracketed comment at
      // the lexical layer (hints ride comment tokens here, unlike
      // Calcite's grammar-level hints) — the truncated block must fail
      // LOUDLY as unbalanced, never silently half-apply
      intercept[IllegalArgumentException](Engine.sql(spark,
        "SELECT a FROM neg_h /*+ OPTIONS('x'='*/') */"))
    } finally spark.catalog.dropTempView("neg_h")
  }

  test("hints: a join hint over a changelog aggregate keeps retract semantics") {
    import spark.implicits._
    // the hint text rides through the changelog rewrite as a comment —
    // the retraction-consuming lowering must still produce the
    // final-state answer, never the raw change-row count
    Seq(("+I", 1L, "g1", 4.0), ("+I", 1L, "g1", 6.0), ("-D", 2L, "g1", 4.0))
      .toDF("row_kind", "cdc_ts", "g", "x").createOrReplaceTempView("neg_hcl")
    Seq(("g1", "n1")).toDF("g", "nm").createOrReplaceTempView("neg_hdim")
    try {
      val r = Engine.sql(spark,
        "SELECT /*+ BROADCAST(d) */ d.nm AS nm, COUNT(*) AS n, SUM(c.x) AS t " +
          "FROM neg_hcl c JOIN neg_hdim d ON c.g = d.g GROUP BY d.nm")
        .as[(String, Long, Double)].collect().toSeq
      assert(r == Seq(("n1", 1L, 6.0)), s"got $r")
    } finally {
      spark.catalog.dropTempView("neg_hcl")
      spark.catalog.dropTempView("neg_hdim")
    }
  }

  // ---- group 3b: a changelog SELECT is read off Spark's parsed plan ----
  // The batch front door parses each statement once with Spark's parser
  // and reads clauses, calls and relations off that plan: clause
  // keywords hiding in literals/comments, comments splitting two-word
  // clauses, backtick-quoted keyword-named columns and relations listed
  // anywhere in a comma-listed FROM must all come out right — each case
  // pins the FINAL-STATE answer (1 group, count 1, sum 6.0), which the
  // raw change rows (3 rows) would break.

  private def withChangelog[A](f: String => A): A = {
    import spark.implicits._
    val v = "neg_cltok"
    Seq(("+I", 1L, "g1", 4.0), ("+I", 1L, "g1", 6.0), ("-D", 2L, "g1", 4.0))
      .toDF("row_kind", "cdc_ts", "g", "x").createOrReplaceTempView(v)
    try f(v) finally spark.catalog.dropTempView(v)
  }

  test("clause boundary: ' from ' inside a literal never splits the statement") {
    import spark.implicits._
    withChangelog { v =>
      val r = Engine.sql(spark,
        s"SELECT ' from where group by ' AS tag, COUNT(*) AS n, SUM(x) AS t " +
          s"FROM $v GROUP BY g")
        .as[(String, Long, Double)].collect().toSeq
      assert(r == Seq((" from where group by ", 1L, 6.0)), s"got $r")
    }
  }

  test("clause boundary: a bracketed comment carrying FROM and a stray paren") {
    import spark.implicits._
    withChangelog { v =>
      val r = Engine.sql(spark,
        s"SELECT /* from ( where */ COUNT(*) AS n, SUM(x) AS t FROM $v " +
          "/* ) group by */ GROUP BY g")
        .as[(Long, Double)].collect().toSeq
      assert(r == Seq((1L, 6.0)), s"got $r")
    }
  }

  test("clause boundary: a comment between GROUP and BY still pairs the clause") {
    import spark.implicits._
    withChangelog { v =>
      val r = Engine.sql(spark,
        s"SELECT g, COUNT(*) AS n FROM $v GROUP /* two-word clause */ BY g")
        .as[(String, Long)].collect().toSeq
      assert(r == Seq(("g1", 1L)), s"got $r")
    }
  }

  test("clause boundary: a line comment naming WHERE/LIMIT mid-statement") {
    import spark.implicits._
    withChangelog { v =>
      val r = Engine.sql(spark,
        s"SELECT COUNT(*) AS n, -- where limit 1\n  SUM(x) AS t\nFROM $v")
        .as[(Long, Double)].collect().toSeq
      assert(r == Seq((1L, 6.0)), s"got $r")
    }
  }

  test("clause boundary: a backtick-quoted `limit` column is not a LIMIT clause") {
    import spark.implicits._
    val v = "neg_cltok_kw"
    // a changelog whose payload column is NAMED limit
    Seq(("+I", 1L, 5.0), ("+I", 1L, 7.0), ("-D", 2L, 5.0))
      .toDF("row_kind", "cdc_ts", "limit").createOrReplaceTempView(v)
    try {
      val r = Engine.sql(spark,
        s"SELECT COUNT(*) AS n, SUM(`limit`) AS t FROM $v WHERE `limit` > 0")
        .as[(Long, Double)].collect().toSeq
      assert(r == Seq((1L, 7.0)), s"got $r")
    } finally spark.catalog.dropTempView(v)
  }

  test("relation census: an aggregate over a static FROM whose subquery reads a changelog rejects") {
    import spark.implicits._
    Seq("g1", "g2").toDF("g").createOrReplaceTempView("neg_cldim")
    try withChangelog { cl =>
      // read as plain SQL, the subquery would see the raw change rows
      val e = intercept[IllegalArgumentException](Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM neg_cldim WHERE g IN (SELECT g FROM $cl)"))
      assert(e.getMessage.contains("composite FROM"), e.getMessage)
    } finally spark.catalog.dropTempView("neg_cldim"): Unit
  }

  test("relation census: a non-aggregate SELECT whose subquery reads a changelog rejects") {
    import spark.implicits._
    Seq("g1", "g2").toDF("g").createOrReplaceTempView("neg_cldim2")
    try withChangelog { cl =>
      // g1's only live row survives, g2 never existed: as plain SQL the
      // subquery would also match rows the changelog retracted
      val e = intercept[IllegalArgumentException](Engine.sql(spark,
        s"SELECT * FROM neg_cldim2 WHERE g IN (SELECT g FROM $cl WHERE x = 4.0)"))
      assert(e.getMessage.contains("change rows as live rows"), e.getMessage)
      assert(e.getMessage.contains(cl), e.getMessage)
      // naming row_kind is the documented raw read
      val raw = Engine.sql(spark, s"SELECT * FROM neg_cldim2 WHERE g IN " +
        s"(SELECT g FROM $cl WHERE x = 4.0 AND row_kind = '-D')").as[String].collect()
      assert(raw.toSeq == Seq("g1"), raw.toSeq)
      // the live state through FINAL_STATE: x = 4.0 was deleted
      val live = Engine.sql(spark, s"SELECT * FROM neg_cldim2 WHERE g IN " +
        s"(SELECT g FROM FINAL_STATE($cl) WHERE x = 4.0)").as[String].collect()
      assert(live.isEmpty, live.toSeq)
    } finally spark.catalog.dropTempView("neg_cldim2"): Unit
  }

  test("relation census: a comma-listed FROM normalizes an upsert table in any position") {
    import spark.implicits._
    val (u, d) = ("neg_cltok_ups", "neg_cltok_dim")
    spark.sql(s"DROP TABLE IF EXISTS $u")
    // the upsert form of the changelog above: g1 set to 4.0, then 6.0
    Seq(("+U", 1L, "g1", 4.0), ("+U", 2L, "g1", 6.0))
      .toDF("row_kind", "cdc_ts", "g", "x").write.saveAsTable(u)
    spark.sql(s"ALTER TABLE $u SET TBLPROPERTIES ('graft.upsert.keys' = 'g')")
    Seq(("g1", "n1")).toDF("g", "nm").createOrReplaceTempView(d)
    try {
      for (from <- Seq(s"$d d, $u p", s"$u p, $d d")) {
        val r = Engine.sql(spark,
          s"SELECT COUNT(*) AS n, SUM(p.x) AS t FROM $from WHERE d.g = p.g")
          .as[(Long, Double)].collect().toSeq
        assert(r == Seq((1L, 6.0)), s"FROM $from got $r")
      }
    } finally {
      spark.catalog.dropTempView(d)
      spark.sql(s"DROP TABLE IF EXISTS $u"): Unit
    }
  }

  // ---- group 5: WatermarkDdl clause boundaries are token-walked (r14
  // re-base — the old greedy-regex WITH/body split ran on RAW text)

  test("DDL boundary: a ')' and a 'WITH (' inside a property VALUE survive") {
    val t = "neg_ddl_props"
    Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    try {
      // both hazards in ONE quoted value: a close paren that the old
      // (.*\)) head-match could shear on, and a 'WITH (' decoy
      Engine.sql(spark, s"""CREATE TABLE $t (k BIGINT, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND)
        WITH ('custom.note' = 'use WITH (care) always', 'custom.opt' = 'a)b')""")
      val opts = WatermarkDdl.tableOptions(spark, t)
      assert(opts.get("custom.note").contains("use WITH (care) always"), opts.toString)
      assert(opts.get("custom.opt").contains("a)b"), opts.toString)
      assert(WatermarkDdl.watermarkCol(spark, t).contains("ts"),
        "watermark lost to a property-value decoy")
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base"): Unit
    }
  }

  test("DDL boundary: comments inside and after the column body are inert") {
    val t = "neg_ddl_comment"
    Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    try {
      Engine.sql(spark, s"""CREATE TABLE $t (
        k BIGINT, -- trailing ( paren and WITH ( decoy
        ts TIMESTAMP /* ) ; WITH ('x'='y') */ ,
        WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
      ) WITH ('real.opt' = 'v');""")
      val opts = WatermarkDdl.tableOptions(spark, t)
      assert(opts.get("real.opt").contains("v"), opts.toString)
      assert(!opts.contains("x"), s"comment decoy leaked an option: $opts")
      assert(WatermarkDdl.watermarkCol(spark, t).contains("ts"))
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base"): Unit
    }
  }

  test("statement-set boundary: ';' inside literals/comments never splits") {
    val stmts = graft.util.SqlSplit.splitStatements(
      "SELECT 'a;b' AS x; SELECT 1 /* ; not a split ; */ AS y; " +
        "SELECT \"c;d\" AS z -- trailing ; comment")
    assert(stmts.length == 3, stmts.toString)
    assert(stmts(0) == "SELECT 'a;b' AS x", stmts(0))
    assert(stmts(1).startsWith("SELECT 1"), stmts(1))
  }

  test("split boundary: commas/ANDs in literals, backticks, comments are inert") {
    val cols = graft.util.SqlSplit.splitTopLevel(
      "k BIGINT, label AS concat(g, ','), note AS 'a,b' /* , */, x DOUBLE")
    assert(cols.length == 4, cols.toString)
    assert(cols(2).startsWith("note AS 'a,b'"), cols(2))
    val ands = graft.util.SqlSplit.splitTopLevelAnd(
      "x = 'p AND q' AND `and` = 1 AND /* AND */ y < 2")
    assert(ands == Seq("x = 'p AND q'", "`and` = 1", "/* AND */ y < 2"),
      ands.toString)
  }

  test("paren boundary: parens in literals, backticks, comments are inert") {
    import graft.util.SqlSplit.matchParen
    val s = "f(a, ')', `b)`, /* ) */ g(c)) + (d"
    assert(matchParen(s, 1) == s.indexOf(") +"))
    assert(matchParen(s, s.indexOf("g(") + 1) == s.indexOf(")) +"))
    // the same offsets on the blanked text
    assert(matchParen(graft.util.SqlSplit.blankLiterals(s), 1) == s.indexOf(") +"))
    assert(matchParen(s, s.lastIndexOf('(')) == -1, "unclosed")
    assert(matchParen(s, 0) == -1, "no '(' at the offset")
  }

  test("window TVF boundary: literal parens/commas inside TVF-adjacent text") {
    import spark.implicits._
    evRows.createOrReplaceTempView("neg_ev_tvf")
    try {
      val got = Engine.sql(spark, """
        SELECT window_start, COUNT(*) AS c, ' (,TUMBLE(,) ' AS decoy
        FROM TABLE(TUMBLE(TABLE neg_ev_tvf, DESCRIPTOR(ts), INTERVAL '1' MINUTE))
        WHERE CAST(k AS STRING) <> 'no)match'
        GROUP BY window_start ORDER BY window_start""")
        .select($"c").as[Long].collect().toSeq
      assert(got == Seq(2L, 1L), s"got $got")
    } finally spark.catalog.dropTempView("neg_ev_tvf")
  }

  /** r15 tokenizer re-base of WindowTvfSql's clause surgery: the GROUP
    * BY / HAVING / SELECT / FROM anchors come from the token walk and
    * the window-column substitution is blanked-position based, so (a) a
    * comment-LED statement with decoy marker text inside the comment
    * still lowers, (b) TVF-adjacent literals carrying commas, parens
    * and clause keywords never split a clause, and (c) a quoted
    * 'window_start' survives the streaming rewrite verbatim while the
    * bare column rewrites. */
  test("comment-led TVF statement with clause keywords in comments lowers") {
    import spark.implicits._
    evRows.createOrReplaceTempView("neg_ev_cmt")
    try {
      val got = Engine.sql(spark, """
        /* lead comment: TABLE(TUMBLE( GROUP BY LIMIT ) */
        SELECT /* GROUP BY */ window_start, COUNT(*) AS c,
               ' GROUP BY window_end, LIMIT 1 ' AS decoy
        FROM TABLE(TUMBLE(TABLE neg_ev_cmt, DESCRIPTOR(ts),
                          INTERVAL '1' MINUTE)) -- ORDER BY trap
        GROUP BY /* nested /* comment */ here */ window_start
        ORDER BY window_start""")
        .select($"c").as[Long].collect().toSeq
      assert(got == Seq(2L, 1L), s"got $got")
    } finally spark.catalog.dropTempView("neg_ev_cmt")
  }

  test("streaming window rewrite: quoted 'window_start' survives verbatim") {
    val q0 = "SELECT window_start, 'window_start' AS lit, SUM(x) AS s " +
      "FROM TABLE(TUMBLE(TABLE __t__, DESCRIPTOR(ts), INTERVAL '1' MINUTE)) " +
      "WHERE note <> 'window_end' " +
      "GROUP BY window_start, window_end"
    val span0 = q0.indexOf("TABLE(")
    val fnClose = q0.indexOf("))", span0) // TUMBLE's close; TABLE's is +1
    val spanEnd = fnClose + 1
    val args = q0.substring(q0.indexOf("TUMBLE(") + 7, fnClose)
    val out = WindowTvfSql.rewriteStreamingWindow(
      q0, span0, spanEnd, "TUMBLE", args)
    // literals untouched; bare window columns rewritten to the struct
    assert(out.contains("'window_start' AS lit"), out)
    assert(out.contains("'window_end'"), out)
    assert(out.contains("window.start AS window_start"), out)
    assert(out.contains("GROUP BY window(ts, '1 minutes')"), out)
    assert(!out.contains("GROUP BY window_start"), out)
  }

  // ---- group 4: a decoy literal next to the REAL construct still lowers

  test("decoy literal does not mask a real window TVF") {
    import spark.implicits._
    evRows.createOrReplaceTempView("neg_ev")
    try {
      val got = Engine.sql(spark,
        "SELECT window_start, COUNT(*) AS c, 'TABLE(TUMBLE(' AS decoy " +
          "FROM TABLE(TUMBLE(TABLE neg_ev, DESCRIPTOR(ts), INTERVAL '1' MINUTE)) " +
          "GROUP BY window_start ORDER BY window_start")
        .select($"c", $"decoy").as[(Long, String)].collect().toSeq
      assert(got == Seq((2L, "TABLE(TUMBLE("), (1L, "TABLE(TUMBLE(")),
        s"got $got")
    } finally spark.catalog.dropTempView("neg_ev")
  }
}
