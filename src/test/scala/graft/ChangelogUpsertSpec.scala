package graft

import graft.streaming.StatefulOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** UPSERT-mode changelogs (ChangelogNormalize analogs): a relation whose
  * row_kind stream carries only +U/-D keyed by declared columns must
  * normalize to its CURRENT state before ANY read — two +U rows for one
  * key are one logical row (the retract-mode netting would double-count
  * them). Batch: ChangelogSql.normalizeUpsertRels shadows declared
  * upsert tables (graft.upsert.keys) with their keep-last collapse.
  * Stream: StatefulOps.normalizeUpsert is the full
  * StreamExecChangelogNormalize — +I / -U,+U / -D transition emission
  * from keyed state. */
class ChangelogUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val h = math.abs(getClass.getName.hashCode)

  /** Starts `select` into `sink` on the sign-algebra route, which must be
    * the route chosen for it. */
  private def startSignAgg(sink: String, select: String, ckpt: String) =
    ChangelogSql.route(spark, select) match {
      case Some(r: ChangelogSql.Route.SignAgg) =>
        ChangelogSql.start(spark, sink, r, ckpt)
      case other => fail(s"expected the sign-algebra route, got $other")
    }

  /** An upsert changelog table: k1 set twice (4.0 then 7.5), k2 set then
    * deleted, k3 set once. Current state: k1=7.5, k3=2.0. */
  private def mkUpsertTable(t: String): Unit = {
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq(
      ("+U", 1L, "k1", 4.0), ("+U", 1L, "k2", 9.0),
      ("+U", 2L, "k1", 7.5), ("+U", 2L, "k3", 2.0),
      ("-D", 3L, "k2", 9.0))
      .toDF("row_kind", "cdc_ts", "k", "v")
      .write.saveAsTable(t)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.upsert.keys' = 'k')"): Unit
  }

  test("aggregates over a declared upsert table read the normalized state") {
    import spark.implicits._
    val t = s"ups_tbl_$h"
    mkUpsertTable(t)
    try {
      val got = Engine.sql(spark,
        s"SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total, " +
          s"CAST(MAX(v) AS DOUBLE) AS hi FROM $t")
        .as[(Long, Double, Double)].collect().head
      assert(got == ((2L, 9.5, 7.5)), got.toString)
      // grouped form
      val per = Engine.sql(spark,
        s"SELECT k, COUNT(*) AS n FROM $t GROUP BY k ORDER BY k")
        .as[(String, Long)].collect().toSeq
      assert(per == Seq(("k1", 1L), ("k3", 1L)), per.toString)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
  }

  test("plain reads show current state; encoding reads fall through raw") {
    import spark.implicits._
    val t = s"ups_tbl2_$h"
    mkUpsertTable(t)
    try {
      // SELECT * = the table's logical content (Flink: the upsert
      // encoding belongs to the source, not the query)
      val rows = Engine.sql(spark, s"SELECT k, v FROM $t ORDER BY k")
        .as[(String, Double)].collect().toSeq
      assert(rows == Seq(("k1", 7.5), ("k3", 2.0)), rows.toString)
      // referencing the encoding columns is a deliberate raw read
      val raw = Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM $t WHERE row_kind = '+U'")
        .as[Long].collect().head
      assert(raw == 4L, s"raw read must see all change rows, got $raw")
      // a join of the upsert table with a static side normalizes too
      Seq(("k1", "alpha"), ("k3", "beta"), ("k2", "gone"))
        .toDF("k", "name").createOrReplaceTempView("ups_dim")
      val joined = Engine.sql(spark, s"""
        SELECT d.name AS name, COUNT(*) AS n
        FROM $t u JOIN ups_dim d ON u.k = d.k
        GROUP BY d.name ORDER BY name""")
        .as[(String, Long)].collect().toSeq
      assert(joined == Seq(("alpha", 1L), ("beta", 1L)), joined.toString)
      spark.catalog.dropTempView("ups_dim")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
  }

  test("a streamInsert sink re-queried through the front door equals its materialization") {
    // the loop-closer: the sign-algebra route writes an upsert
    // changelog and declares graft.upsert.keys on it; a plain aggregate
    // over that sink must therefore aggregate the CURRENT groups — not
    // the +U/-D history rows
    import spark.implicits._
    val (src, sink) = (s"ups_loop_src_$h", s"ups_loop_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, g STRING, x DOUBLE) USING parquet""")
    // two commits so groups REFRESH (g1 gets updated totals -> multiple
    // +U rows per key in the sink history)
    def put(rows: (String, Long, String, Double)*): Unit = {
      rows.toSeq.toDF("row_kind", "cdc_ts", "g", "x")
        .createOrReplaceTempView(s"__${src}_in")
      spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ups-loop").toString
    val q = startSignAgg(sink,
      s"SELECT g, COUNT(*) AS n, SUM(x) AS total FROM $src GROUP BY g", ckpt)
    try {
      put(("+I", 1L, "g1", 10.0), ("+I", 1L, "g2", 5.0))
      q.processAllAvailable()
      put(("+I", 2L, "g1", 3.0), ("-D", 2L, "g2", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable(sink)
    val viaFrontDoor = Engine.sql(spark,
      s"SELECT g, n, CAST(total AS DOUBLE) AS total FROM $sink ORDER BY g")
      .as[(String, Long, Double)].collect().toSeq
    val viaMaterialize = ChangelogSql.materializeUpsertSink(spark, sink)
      .select($"g", $"n", $"total".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(viaFrontDoor == viaMaterialize, s"$viaFrontDoor vs $viaMaterialize")
    assert(viaFrontDoor == Seq(("g1", 2L, 13.0)), viaFrontDoor.toString)
    // and an aggregate OVER the sink consumes the normalized state
    val n = Engine.sql(spark, s"SELECT COUNT(*) AS n FROM $sink")
      .as[Long].collect().head
    assert(n == 1L, s"history rows leaked into the aggregate: $n")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
  }

  test("DDL-DECLARED upsert keys resolve base-aware (the __t_base props route)") {
    // a connector table created through the extended DDL persists its
    // WITH options — graft.upsert.keys included — on `__<t>_base`; the
    // user-facing name is a props-less catalog view. Key resolution must
    // check the base, or ChangelogNormalize is SILENTLY skipped and a
    // batch read returns the raw changelog (re-upserted keys
    // double-counted, tombstoned keys surviving).
    import spark.implicits._
    val t = s"ups_ddl_$h"
    val dir = java.nio.file.Files.createTempDirectory("graft-ups-ddl").toString
    // same history as mkUpsertTable, landed as parquet FILES the
    // filesystem connector reads
    Seq(
      ("+U", 1L, "k1", 4.0), ("+U", 1L, "k2", 9.0),
      ("+U", 2L, "k1", 7.5), ("+U", 2L, "k3", 2.0),
      ("-D", 3L, "k2", 9.0))
      .toDF("row_kind", "cdc_ts", "k", "v")
      .write.mode("overwrite").parquet(dir)
    def dropDdl(): Unit = {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base"): Unit
    }
    dropDdl()
    try {
      Engine.sql(spark, s"""
        CREATE TABLE $t (row_kind STRING, cdc_ts BIGINT, k STRING, v DOUBLE)
        WITH ('connector' = 'filesystem', 'path' = '$dir',
              'format' = 'parquet', 'graft.upsert.keys' = 'k')""")
      val got = Engine.sql(spark,
        s"SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total FROM $t")
        .as[(Long, Double)].collect().head
      // normalized state: k1=7.5, k3=2.0 — NOT the 4 raw +U rows
      assert(got == ((2L, 9.5)), s"PK-DDL upsert keys not applied: $got")
      val rows = Engine.sql(spark, s"SELECT k, v FROM $t ORDER BY k")
        .as[(String, Double)].collect().toSeq
      assert(rows == Seq(("k1", 7.5), ("k3", 2.0)), rows.toString)
    } finally dropDdl()
  }

  test("INSERT INTO a connector table FROM an upsert table keeps both routings") {
    // shadows active (the upsert source normalizes) AND the statement
    // must still dispatch through WatermarkDdl — the INSERT writes
    // through the jdbc connector, never the catalog view
    import spark.implicits._
    val src = s"ups_insrc_$h"
    val snk = s"ups_insnk_$h"
    val dbUrl = s"jdbc:derby:memory:graftupsins$h"
    mkUpsertTable(src)
    val c = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE normed (k VARCHAR(32), v DOUBLE)")
      st.close()
    } finally c.close()
    Engine.sql(spark, s"DROP VIEW IF EXISTS $snk")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${snk}_base")
    try {
      Engine.sql(spark, s"""
        CREATE TABLE $snk (k STRING, v DOUBLE)
        WITH ('connector' = 'jdbc', 'url' = '$dbUrl',
              'table-name' = 'normed')""")
      Engine.sql(spark, s"INSERT INTO $snk SELECT k, v FROM $src")
      val back = {
        val cc = java.sql.DriverManager.getConnection(dbUrl)
        try {
          val rs = cc.createStatement()
            .executeQuery("SELECT k, v FROM normed ORDER BY k")
          val out = Seq.newBuilder[(String, Double)]
          while (rs.next()) out += ((rs.getString(1), rs.getDouble(2)))
          out.result()
        } finally cc.close()
      }
      // normalized current state reached the database: k1=7.5, k3=2.0
      assert(back == Seq(("k1", 7.5), ("k3", 2.0)), back.toString)
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $snk")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${snk}_base")
      spark.sql(s"DROP TABLE IF EXISTS $src"): Unit
    }
  }

  test("rich EXPLAIN never executes a side-effecting body") {
    import spark.implicits._
    val t = s"ups_expl_sink_$h"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k STRING, v DOUBLE) USING parquet")
    try {
      Seq("CHANGELOG_MODE", "ESTIMATED_COST", "JSON_EXECUTION_PLAN")
        .foreach { mode =>
          val e = intercept[IllegalArgumentException](Engine.sql(spark,
            s"EXPLAIN $mode INSERT INTO $t VALUES ('a', 1.0)"))
          assert(e.getMessage.contains("side effects"), e.getMessage)
        }
      // CHANGELOG_MODE over an INSERT ... SELECT body PLANS the
      // streaming job without starting it (Flink's EXPLAIN over INSERT)
      Seq(("+I", 1L, "g1", 2.0)).toDF("row_kind", "cdc_ts", "g", "x")
        .createOrReplaceTempView("expl_ins_cl")
      val sp = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE INSERT INTO $t " +
        "SELECT g, COUNT(*) AS n FROM expl_ins_cl GROUP BY g")
        .as[String].collect().head
      assert(sp.contains("Streaming Insert") &&
        sp.contains("retraction-consuming aggregate (update mode)"), sp)
      val tp = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE INSERT INTO $t " +
        "SELECT g, x, rn FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g " +
        "ORDER BY x DESC) AS rn FROM expl_ins_cl) z WHERE rn <= 2")
        .as[String].collect().head
      // r14: the route line names the chosen RankProcessStrategy
      assert(tp.contains("RetractStrategy (RetractableTopNFunction"), tp)
      // r14: EXPLAIN over a whole STATEMENT SET (SqlRichExplain accepts
      // SqlStatementSet) — each member planned, nothing executes
      val setPlan = Engine.sql(spark, s"""EXPLAIN CHANGELOG_MODE
        EXECUTE STATEMENT SET BEGIN
          INSERT INTO $t SELECT g, COUNT(*) AS n FROM expl_ins_cl GROUP BY g;
          INSERT INTO $t SELECT g, SUM(x) AS s FROM expl_ins_cl GROUP BY g;
        END""").as[String].collect().head
      assert(setPlan.contains("== Member 1 ==") &&
        setPlan.contains("== Member 2 ==") &&
        "Streaming Insert".r.findAllIn(setPlan).size == 2, setPlan)
      spark.catalog.dropTempView("expl_ins_cl")
      // an ESTIMATED_COST/JSON INSERT still rejects, and nothing wrote
      val n = spark.table(t).count()
      assert(n == 0, s"EXPLAIN committed a write: $n rows")
      // query bodies still explain — parenthesized and comment-led too
      val plan = Engine.sql(spark,
        s"EXPLAIN ESTIMATED_COST SELECT COUNT(*) FROM $t")
        .as[String].collect().head
      assert(plan.nonEmpty)
      val plan2 = Engine.sql(spark,
        s"EXPLAIN ESTIMATED_COST (SELECT COUNT(*) FROM $t)")
        .as[String].collect().head
      assert(plan2.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
  }

  test("a CONTINUOUS aggregate over an upsert table chains ChangelogNormalize") {
    // r12 rejected this shape with manual-composition guidance; the
    // reference plans StreamExecChangelogNormalize -> GroupAggregate as
    // one topology, and r13 does too: the sign algebra consumes the
    // normalize's emitted retract stream, so re-upserted keys are NOT
    // double-counted and tombstoned keys leave their groups
    import spark.implicits._
    val t = s"ups_stream_$h"
    val sink = s"${t}_sink"
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    mkUpsertTable(t)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ups-chain").toString
    val q = startSignAgg(sink,
      s"SELECT k, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total FROM $t " +
        "GROUP BY k", ckpt)
    try {
      q.processAllAvailable()
      val got = ChangelogSql.materializeUpsertSink(spark, sink)
        .as[(String, Long, Option[Double])].collect().toSet
      // history: k1 upserted twice (4.0 -> 7.5), k2 deleted, k3 = 2.0
      assert(got == Set(("k1", 1L, Some(7.5)), ("k3", 1L, Some(2.0))),
        s"normalize not chained (double-count / surviving tombstone): $got")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("EXPLAIN CHANGELOG_MODE annotates modes and the inference route") {
    import spark.implicits._
    val t = s"ups_expl_$h"
    mkUpsertTable(t)
    Seq(("+I", 1L, "g1", 4.0), ("-D", 2L, "g1", 4.0))
      .toDF("row_kind", "cdc_ts", "g", "x").createOrReplaceTempView("expl_cl")
    try {
      // upsert table: mode + normalize route
      val up = Engine.sql(spark,
        s"EXPLAIN CHANGELOG_MODE SELECT COUNT(*) AS n FROM $t")
        .as[String].collect().head
      assert(up.contains(s"$t: upsert [+U, -D] keyed by (k)"), up)
      assert(up.contains("ChangelogNormalize"), up)
      assert(up.contains("== Physical Plan =="), up)
      // retract changelog: sign route for COUNT/SUM, netted for MIN
      val sgn = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT g, COUNT(*) AS n FROM expl_cl GROUP BY g")
        .as[String].collect().head
      assert(sgn.contains("expl_cl: retract [+I, -U, +U, -D]") &&
        sgn.contains("sign algebra"), sgn)
      val net = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT g, MIN(x) AS lo FROM expl_cl GROUP BY g")
        .as[String].collect().head
      assert(net.contains("NETTED live multiset"), net)
      // raw-encoding reads and plain tables annotate honestly
      val raw = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT row_kind, g FROM expl_cl")
        .as[String].collect().head
      assert(raw.contains("RAW changelog read"), raw)
      val plain = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT 1 AS one FROM expl_cl WHERE cdc_ts > 0")
        .as[String].collect().head
      assert(plain.contains("RAW changelog read"), plain)
      // JOIN statements name the lowering's per-side weight columns
      Seq(("g1", "west"), ("g2", "east")).toDF("g", "nm")
        .createOrReplaceTempView("expl_dim")
      Seq(("+I", 1L, "g1", 2.0), ("-D", 2L, "g1", 2.0))
        .toDF("row_kind", "cdc_ts", "g", "y").createOrReplaceTempView("expl_cl2")
      val jn = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT d.nm AS nm, COUNT(*) AS n " +
          "FROM expl_cl c JOIN expl_dim d ON c.g = d.g GROUP BY d.nm")
        .as[String].collect().head
      assert(jn.contains("changelog join lowering") &&
        jn.contains("expl_cl -> __sign_0") &&
        jn.contains("sign products"), jn)
      // two changelogs under MIN: netted weights, joint product
      val jn2 = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT MIN(c.x) AS lo " +
          "FROM expl_cl c JOIN expl_cl2 e ON c.g = e.g")
        .as[String].collect().head
      assert(jn2.contains("expl_cl -> __net_0") &&
        jn2.contains("expl_cl2 -> __net_1") &&
        jn2.contains("__net_0 * __net_1") &&
        jn2.contains("netted multiplicities"), jn2)
      // inadmissible shape announces the reject
      val badj = Engine.sql(spark,
        "EXPLAIN CHANGELOG_MODE SELECT d.nm AS nm, COUNT(*) AS n " +
          "FROM expl_dim d LEFT JOIN expl_cl c ON c.g = d.g GROUP BY d.nm")
        .as[String].collect().head
      assert(badj.contains("INADMISSIBLE"), badj)
      spark.catalog.dropTempView("expl_dim")
      spark.catalog.dropTempView("expl_cl2")
      // the other rich-explain details
      val cost = Engine.sql(spark,
        s"EXPLAIN ESTIMATED_COST SELECT k FROM $t").as[String].collect().head
      assert(cost.contains("Statistics") || cost.contains("sizeInBytes"), cost)
      val js = Engine.sql(spark,
        s"EXPLAIN JSON_EXECUTION_PLAN SELECT k FROM $t").as[String].collect().head
      assert(js.trim.startsWith("[{") && js.contains("\"class\""), js.take(200))
    } finally {
      spark.catalog.dropTempView("expl_cl")
      spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
    }
  }

  test("EXPLAIN CHANGELOG_MODE pins every batch mode and route line byte for byte") {
    import spark.implicits._
    val t = s"ups_pin_$h"
    mkUpsertTable(t)
    Seq(("+I", 1L, "g1", 4.0), ("-D", 2L, "g1", 4.0))
      .toDF("row_kind", "cdc_ts", "g", "x").createOrReplaceTempView("pin_cl")
    Seq(("+I", 1L, "g1", 2.0)).toDF("row_kind", "cdc_ts", "g", "y")
      .createOrReplaceTempView("pin_cl2")
    Seq(("g1", "west")).toDF("g", "nm").createOrReplaceTempView("pin_dim")
    val retract = "retract [+I, -U, +U, -D]"
    val upsert = s"  $t: upsert [+U, -D] keyed by (k)"
    val sign = "  route: retraction-consuming aggregate — single-exchange " +
      "±1 sign algebra (COUNT/SUM/AVG distribute over change signs)"
    val netted = "  route: retraction-consuming aggregate — NETTED live " +
      "multiset (net<>0 filter; MIN/MAX or DISTINCT need surviving rows)"
    val composite = "  route: composite statement — see this module's " +
      "admissible-shape guards"
    // (statement, the "== Changelog Modes ==" block)
    val rows = Seq(
      s"SELECT COUNT(*) AS n FROM $t" -> Seq(upsert,
        s"  route: ChangelogNormalize (keep-last per key) applied to: $t"),
      "SELECT g, COUNT(*) AS n FROM pin_cl GROUP BY g" ->
        Seq(s"  pin_cl: $retract", sign),
      "SELECT g, MIN(x) AS lo FROM pin_cl GROUP BY g" ->
        Seq(s"  pin_cl: $retract", netted),
      "SELECT DISTINCT g FROM pin_cl" -> Seq(s"  pin_cl: $retract", netted),
      "SELECT row_kind, g FROM pin_cl" -> Seq(s"  pin_cl: $retract",
        "  route: RAW changelog read (encoding columns referenced) — no rewrite"),
      "SELECT g, x FROM pin_cl WHERE x > 0" -> Seq(s"  pin_cl: $retract",
        "  route: raw changelog projection — no rewrite"),
      "SELECT nm FROM pin_dim" -> Seq("  pin_dim: insert-only [+I]"),
      "SELECT d.nm AS nm, COUNT(*) AS n FROM pin_cl c JOIN pin_dim d " +
        "ON c.g = d.g GROUP BY d.nm" -> Seq(s"  pin_cl: $retract",
        "  pin_dim: insert-only [+I]",
        "  route: changelog join lowering — per-side weight columns: " +
          "pin_cl -> __sign_0; joint weight = __sign_0 (±1 sign products, " +
          "zero extra exchange)"),
      "SELECT MIN(c.x) AS lo FROM pin_cl c JOIN pin_cl2 e ON c.g = e.g" ->
        Seq(s"  pin_cl: $retract", s"  pin_cl2: $retract",
          "  route: changelog join lowering — per-side weight columns: " +
            "pin_cl -> __net_0, pin_cl2 -> __net_1; joint weight = " +
            "__net_0 * __net_1 (netted multiplicities; live = all nets > 0)"),
      s"SELECT COUNT(*) AS n FROM $t u JOIN pin_cl c ON u.k = c.g" ->
        Seq(upsert, s"  pin_cl: $retract",
          s"  route: ChangelogNormalize (keep-last per key) applied to: $t",
          "  route: changelog join lowering — per-side weight columns: " +
            s"$t -> __sign_0, pin_cl -> __sign_1; joint weight = " +
            "__sign_0 * __sign_1 (±1 sign products, zero extra exchange)"),
      "SELECT d.nm AS nm, COUNT(*) AS n FROM pin_dim d LEFT JOIN pin_cl c " +
        "ON c.g = d.g GROUP BY d.nm" -> Seq("  pin_dim: insert-only [+I]",
        s"  pin_cl: $retract",
        "  route: INADMISSIBLE join shape — changelog on the padded side " +
          "of a LEFT JOIN (the statement will reject loudly)"),
      "SELECT c.g, d.nm FROM pin_cl c JOIN pin_dim d ON c.g = d.g" ->
        Seq(s"  pin_cl: $retract", "  pin_dim: insert-only [+I]",
          "  route: raw changelog join read — no rewrite"),
      "WITH w AS (SELECT 1 AS one) SELECT COUNT(*) AS n FROM pin_cl" ->
        Seq(s"  pin_cl: $retract", composite),
      // a comma-listed FROM is no join chain: every relation it lists
      // has its mode line, and the statement takes the composite guard
      "SELECT COUNT(*) AS n FROM pin_dim d, pin_cl c WHERE d.g = c.g" ->
        Seq("  pin_dim: insert-only [+I]", s"  pin_cl: $retract", composite),
      "SELECT COUNT(*) AS n FROM pin_cl c, pin_dim d WHERE d.g = c.g" ->
        Seq(s"  pin_cl: $retract", "  pin_dim: insert-only [+I]", composite))
    try rows.foreach { case (stmt, lines) =>
      val plan = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
        .as[String].collect().head
      val modes = plan.stripPrefix("== Changelog Modes ==\n")
        .split("\n\n== Physical Plan ==").head
      assert(modes == lines.mkString("\n"), s"\n$stmt\n$modes")
    } finally {
      Seq("pin_cl", "pin_cl2", "pin_dim").foreach(spark.catalog.dropTempView)
      spark.sql(s"DROP TABLE IF EXISTS $t"): Unit
    }
  }

  test("normalizeUpsert emits the full retract transition stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, String, Boolean)]
    val out = StatefulOps.normalizeUpsert(in.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(s"norm_out_$h").start()
    try {
      // batch 1: first sight of k1, k2
      in.addData(("k1", 1L, "v1", false), ("k2", 1L, "w1", false))
      q.processAllAvailable()
      // batch 2: k1 changes, k2 deleted, k3 appears; a STALE row for k1
      // (seq 0) must be dropped; an idempotent re-set of k3 emits nothing
      in.addData(("k1", 2L, "v2", false), ("k1", 0L, "old", false),
        ("k2", 2L, "w1", true), ("k3", 2L, "z1", false),
        ("k9", 2L, "ghost", true)) // delete of an absent key: no-op
      q.processAllAvailable()
      in.addData(("k3", 3L, "z1", false)) // same payload: no transition
      q.processAllAvailable()
      val got = spark.table(s"norm_out_$h")
        .as[(String, String, Long, String)].collect().toSet
      assert(got == Set(
        ("+I", "k1", 1L, "v1"), ("+I", "k2", 1L, "w1"),
        ("-U", "k1", 2L, "v1"), ("+U", "k1", 2L, "v2"),
        ("-D", "k2", 2L, "w1"), ("+I", "k3", 2L, "z1")), got.toString)
    } finally q.stop()
  }

  test("normalizeUpsert output feeds retraction consumers: collapse == keep-last") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, String, Boolean)]
    val out = StatefulOps.normalizeUpsert(in.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(s"norm_out2_$h").start()
    try {
      in.addData(("a", 1L, "x", false), ("b", 1L, "y", false),
        ("a", 2L, "x2", false), ("b", 3L, "y", true),
        ("c", 1L, "q", false), ("c", 2L, "q2", false))
      q.processAllAvailable()
    } finally q.stop()
    // net the emitted changelog: +1 for +I/+U, -1 for -U/-D — surviving
    // rows are exactly the final state (the retract-agg consumption path)
    val live = spark.table(s"norm_out2_$h").toDF("kind", "k", "seq", "payload")
      .withColumn("sign", when(col("kind").isin("+I", "+U"), 1).otherwise(-1))
      .groupBy("k", "payload").agg(sum("sign").as("net"))
      .filter(col("net") > 0).select("k", "payload")
      .as[(String, String)].collect().toSet
    assert(live == Set(("a", "x2"), ("c", "q2")), live.toString)
  }
}
