package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Planner hints at the SQL front door (SqlHints): join-strategy hints
  * translate onto Spark's native hints with loud argument validation,
  * OPTIONS table hints merge dynamic connector options (FlinkHints),
  * LOOKUP hints validate per LookupJoinHintOptions and reroute the
  * temporal join onto the per-row lookup path. */
class SqlHintsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtures(): Unit = {
    import spark.implicits._
    (1L to 1000L).map(i => (i, s"name$i", i % 7 + 1))
      .toDF("id", "name", "grp").createOrReplaceTempView("hints_big")
    (1L to 10L).map(i => (i, s"g$i")).toDF("grp", "label")
      .createOrReplaceTempView("hints_small")
  }

  // ------------------------------------------------ join strategy hints

  test("Flink join hint names translate onto Spark's and execute") {
    fixtures()
    val h = SqlHints(spark,
      "SELECT /*+ SHUFFLE_MERGE(s), BROADCAST(b) */ b.id, s.label " +
        "FROM hints_big b JOIN hints_small s ON b.grp = s.grp")
    assert(h.joinHints && h.lookup.isEmpty && h.lifted.isEmpty)
    assert(h.query.contains("/*+ MERGE(s), BROADCAST(b) */"), h.query)

    // end-to-end: SHUFFLE_MERGE forces a sort-merge join where the tiny
    // build side would otherwise broadcast
    val merged = Engine.sql(spark,
      "SELECT /*+ SHUFFLE_MERGE(s) */ b.id, s.label " +
        "FROM hints_big b JOIN hints_small s ON b.grp = s.grp")
    assert(merged.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "SHUFFLE_MERGE hint must pick the sort-merge strategy")
    assert(merged.count() == 1000)

    val nl = Engine.sql(spark,
      "SELECT /*+ NEST_LOOP(s) */ b.id, s.label " +
        "FROM hints_big b JOIN hints_small s ON b.grp = s.grp")
    assert(nl.count() == 1000, "NEST_LOOP translation must keep semantics")
  }

  test("hint args must name a relation or alias; unknown hints reject") {
    fixtures()
    val e1 = intercept[IllegalArgumentException](SqlHints(spark,
      "SELECT /*+ BROADCAST(nope) */ b.id FROM hints_big b"))
    assert(e1.getMessage.contains("not a relation or alias"), e1.getMessage)

    val e2 = intercept[IllegalArgumentException](SqlHints(spark,
      "SELECT /*+ BRODCAST(b) */ b.id FROM hints_big b"))
    assert(e2.getMessage.contains("unknown query hint BRODCAST"), e2.getMessage)

    // OPTIONS is a table hint — rejected at SELECT position
    val e3 = intercept[IllegalArgumentException](SqlHints(spark,
      "SELECT /*+ OPTIONS('a'='b') */ id FROM hints_big"))
    assert(e3.getMessage.contains("table hint"), e3.getMessage)

    // join hints are query hints — rejected at table position
    val e4 = intercept[IllegalArgumentException](SqlHints(spark,
      "SELECT id FROM hints_big /*+ BROADCAST(hints_big) */"))
    assert(e4.getMessage.contains("query hint"), e4.getMessage)
  }

  test("Spark's own hint spellings pass through; literals stay literal") {
    fixtures()
    val h = SqlHints(spark,
      "SELECT /*+ REPARTITION(3), MERGE(s) */ b.id FROM hints_big b " +
        "JOIN hints_small s ON b.grp = s.grp")
    assert(h.query.contains("REPARTITION(3)") && h.query.contains("MERGE(s)"))

    // a hint-shaped string literal is CONTENT, not a hint
    val lit = SqlHints(spark,
      "SELECT '/*+ BROADCAST(x) */' AS s FROM hints_big")
    assert(lit.query.contains("'/*+ BROADCAST(x) */'") && !lit.joinHints)

    // a plain (non-hint) comment is untouched
    val c = SqlHints(spark, "SELECT /* just a comment */ id FROM hints_big")
    assert(c.query == "SELECT /* just a comment */ id FROM hints_big")
  }

  test("relationNames sees FROM lists, joins, aliases and subquery aliases") {
    val names = SqlHints.relationNames(
      "SELECT * FROM db.orders o, lineitem JOIN (SELECT 1 AS x) sub " +
        "ON sub.x = o.k JOIN nation AS n ON n.k = o.k")
    assert(names == Set("orders", "o", "lineitem", "sub", "nation", "n"),
      names.toString)
  }

  // --------------------------------------------- OPTIONS dynamic options

  private def mkDatagen(t: String): Unit = {
    Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    Engine.sql(spark, s"""
      CREATE TABLE $t (id BIGINT)
      WITH ('connector' = 'datagen', 'number-of-rows' = '7',
            'fields.id.kind' = 'sequence', 'fields.id.start' = '0')""")
  }

  test("OPTIONS hint merges dynamic options over the DDL's WITH clause") {
    val t = s"hints_dg_${math.abs(getClass.getName.hashCode)}"
    mkDatagen(t)
    try {
      assert(Engine.sql(spark, s"SELECT COUNT(*) AS n FROM $t")
        .collect()(0).getLong(0) == 7)
      // hint wins over the static 'number-of-rows' = '7'
      assert(Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM $t /*+ OPTIONS('number-of-rows'='19') */")
        .collect()(0).getLong(0) == 19)
      // alias-carrying reference keeps resolving
      val aliased = Engine.sql(spark,
        s"SELECT g.id FROM $t /*+ OPTIONS('number-of-rows'='3') */ AS g " +
          "WHERE g.id >= 0 ORDER BY g.id")
      assert(aliased.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
      // un-aliased qualified references keep resolving (re-bound name)
      val bare = Engine.sql(spark,
        s"SELECT $t.id FROM $t /*+ OPTIONS('number-of-rows'='2') */ " +
          s"WHERE $t.id >= 0")
      assert(bare.count() == 2)
      // the statement-scoped views are dropped afterwards
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("__graft_opts_")))
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    }
  }

  test("OPTIONS hint is gated by table.dynamic-table-options.enabled") {
    val t = s"hints_dg2_${math.abs(getClass.getName.hashCode)}"
    mkDatagen(t)
    try {
      spark.conf.set("table.dynamic-table-options.enabled", "false")
      val e = intercept[IllegalArgumentException](Engine.sql(spark,
        s"SELECT COUNT(*) FROM $t /*+ OPTIONS('number-of-rows'='19') */"))
      assert(e.getMessage.contains("table.dynamic-table-options.enabled"))
    } finally {
      spark.conf.unset("table.dynamic-table-options.enabled")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    }
  }

  test("SET 'k'='v' / RESET 'k' statements drive the session conf") {
    val t = s"hints_dg3_${math.abs(getClass.getName.hashCode)}"
    mkDatagen(t)
    try {
      // the SqlClient quoted spelling, which Spark's own SET grammar
      // rejects — end to end against the hints gate
      Engine.sql(spark, "SET 'table.dynamic-table-options.enabled' = 'false'")
      val e = intercept[IllegalArgumentException](Engine.sql(spark,
        s"SELECT COUNT(*) FROM $t /*+ OPTIONS('number-of-rows'='19') */"))
      assert(e.getMessage.contains("dynamic-table-options"))
      Engine.sql(spark, "RESET 'table.dynamic-table-options.enabled'")
      assert(Engine.sql(spark,
        s"SELECT COUNT(*) AS n FROM $t /*+ OPTIONS('number-of-rows'='19') */")
        .collect()(0).getLong(0) == 19)
      // bare SET lists the session configuration
      val all = Engine.sql(spark, "SET")
      assert(all.columns.toSeq == Seq("key", "value") && all.count() > 10)
      // Spark's UNQUOTED spelling still reaches spark.sql untouched
      Engine.sql(spark, "SET spark.sql.shuffle.partitions=4")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    } finally {
      spark.conf.unset("table.dynamic-table-options.enabled")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base")
    }
  }

  test("OPTIONS on a non-connector relation rejects loudly") {
    fixtures()
    val e = intercept[Exception](Engine.sql(spark,
      "SELECT COUNT(*) FROM hints_big /*+ OPTIONS('a'='b') */"))
    assert(e.getMessage.contains("connector"), e.getMessage)
  }

  // ------------------------------------------------ LOOKUP validation

  test("LOOKUP options validate per LookupJoinHintOptions") {
    def v(kv: (String, String)*) = SqlHints.validateLookup(kv)
    v("table" -> "d")
    v("table" -> "d", "async" -> "true", "output-mode" -> "allow_unordered",
      "capacity" -> "64", "timeout" -> "300 s")
    v("table" -> "d", "retry-predicate" -> "lookup_miss",
      "retry-strategy" -> "fixed_delay", "fixed-delay" -> "10 ms",
      "max-attempts" -> "3")

    assert(intercept[IllegalArgumentException](v("async" -> "true"))
      .getMessage.contains("'table'"))
    assert(intercept[IllegalArgumentException](v("table" -> "d", "nope" -> "1"))
      .getMessage.contains("unknown LOOKUP hint option"))
    assert(intercept[IllegalArgumentException](
      v("table" -> "d", "output-mode" -> "fast"))
      .getMessage.contains("output-mode"))
    assert(intercept[IllegalArgumentException](
      v("table" -> "d", "retry-predicate" -> "lookup_miss"))
      .getMessage.contains("fixed_delay"))
    assert(intercept[IllegalArgumentException](
      v("table" -> "d", "capacity" -> "-1"))
      .getMessage.contains("capacity"))
  }

  // ------------------------------------------------ LOOKUP e2e (Derby)

  private val dbUrl =
    s"jdbc:derby:memory:graftlkp${math.abs(getClass.getName.hashCode)}"

  private lazy val derbyDim: Unit = {
    val c = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try {
      val st = c.createStatement()
      st.execute(
        "CREATE TABLE dim_cust (cid BIGINT NOT NULL, cname VARCHAR(32), tier DOUBLE)")
      (1 to 8).foreach(i =>
        st.execute(s"INSERT INTO dim_cust VALUES ($i, 'c$i', ${i * 0.5})"))
      st.close()
    } finally c.close()
  }

  private def mkLookupTables(): String = {
    import spark.implicits._
    derbyDim
    val d = s"hints_dim_${math.abs(getClass.getName.hashCode)}"
    Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
    Engine.sql(spark, s"""
      CREATE TABLE $d (cid BIGINT, cname STRING, tier DOUBLE)
      WITH ('connector' = 'jdbc', 'url' = '$dbUrl',
            'table-name' = 'dim_cust')""")
    Seq((1L, 10L, 100.0), (2L, 3L, 50.0), (3L, 99L, 25.0), (4L, 5L, 12.5))
      .toDF("oid", "cust", "amount")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
      .createOrReplaceTempView("hints_fact")
    d
  }

  private def dropLookupTables(d: String): Unit = {
    Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
    spark.catalog.dropTempView("hints_fact")
  }

  test("LOOKUP-hinted temporal join probes per row; misses drop (inner)") {
    val d = mkLookupTables()
    try {
      // cust 10 and 99 miss the dim (only 1..8 exist) -> dropped
      val got = Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d') */ o.oid, o.amount, d.cname, d.tier
        FROM hints_fact AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid
        ORDER BY o.oid""")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getDouble(3)))
      assert(got.toSeq == Seq((2L, 50.0, "c3", 1.5), (4L, 12.5, "c5", 2.5)), got.toSeq)
    } finally dropLookupTables(d)
  }

  test("two LOOKUP statements probing DIFFERENT key columns never share a cache") {
    // the cache identity carries the key column: a key VALUE cached
    // under one keyspace (cid) must not serve payload rows to a probe
    // on another keyspace (altid) of the same dim table
    import spark.implicits._
    val c = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE dim_two (cid BIGINT NOT NULL, " +
        "altid BIGINT NOT NULL, label VARCHAR(32))")
      // altid = 9 - cid: the same probe VALUE names different rows in
      // the two keyspaces
      (1 to 8).foreach(i =>
        st.execute(s"INSERT INTO dim_two VALUES ($i, ${9 - i}, 'row$i')"))
      st.close()
    } finally c.close()
    val d = s"hints_dim2_${math.abs(getClass.getName.hashCode)}"
    Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
    Engine.sql(spark, s"""
      CREATE TABLE $d (cid BIGINT, altid BIGINT, label STRING)
      WITH ('connector' = 'jdbc', 'url' = '$dbUrl',
            'table-name' = 'dim_two',
            'lookup.cache' = 'PARTIAL',
            'lookup.partial-cache.max-rows' = '100',
            'lookup.partial-cache.expire-after-write' = '10 min')""")
    Seq((1L, 3L)).toDF("oid", "k")
      .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
      .createOrReplaceTempView("hints_fact2")
    try {
      def probe(keyCol: String): Seq[(Long, String)] = Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d') */ o.oid, d.label
        FROM hints_fact2 AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.k = d.$keyCol""")
        .as[(Long, String)].collect().toSeq
      // prime the cid cache with value 3 -> row3, then probe altid=3,
      // which is cid 6's row
      assert(probe("cid") == Seq((1L, "row3")))
      assert(probe("altid") == Seq((1L, "row6")),
        "altid probe served payloads from the cid keyspace cache")
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
      spark.catalog.dropTempView("hints_fact2")
    }
  }

  test("async ordered and allow_unordered modes return the same rows") {
    val d = mkLookupTables()
    try {
      def run(extra: String) = Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d'$extra) */ o.oid, d.cname
        FROM hints_fact AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid
        ORDER BY o.oid""").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val sync = run("")
      assert(run(", 'async'='true', 'capacity'='4', 'timeout'='30 s'") == sync)
      assert(run(", 'async'='true', 'output-mode'='allow_unordered'") == sync)
      // WHERE over fact + dim columns runs post-join
      val w = Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d') */ o.oid
        FROM hints_fact AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid
        WHERE d.tier > 2 AND o.amount > 1""").collect().map(_.getLong(0)).toSeq
      assert(w == Seq(4L), w.toString)
    } finally dropLookupTables(d)
  }

  test("LOOKUP guards: non-jdbc dim, wrong table option, composite key") {
    val d = mkLookupTables()
    try {
      val e1 = intercept[IllegalArgumentException](Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='x') */ o.oid, d.cname
        FROM hints_fact AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid"""))
      assert(e1.getMessage.contains("does not name"), e1.getMessage)

      val e2 = intercept[IllegalArgumentException](Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d') */ o.oid, d.cname
        FROM hints_fact AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d
        ON o.cust = d.cid AND o.oid = d.tier"""))
      assert(e2.getMessage.contains("one key column"), e2.getMessage)

      // LOOKUP without a temporal join shape
      val e3 = intercept[IllegalArgumentException](Engine.sql(spark,
        "SELECT /*+ LOOKUP('table'='hints_big') */ id FROM hints_big"))
      assert(e3.getMessage.contains("FOR SYSTEM_TIME"), e3.getMessage)
    } finally dropLookupTables(d)
  }

  test("STREAMING lookup join probes the dim's CURRENT state per micro-batch") {
    // the reference's lookup join is a streaming operator: each arriving
    // fact row probes the dimension's PRESENT state, so a dim update
    // between micro-batches is visible to later rows only
    derbyDim
    val hh = math.abs(getClass.getName.hashCode)
    val d = s"hints_sdim_$hh"
    val fct = s"hints_sfact_$hh"
    val sink = s"hints_lkp_sink_$hh"
    Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $fct")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${fct}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $d (cid BIGINT, cname STRING, tier DOUBLE)
      WITH ('connector' = 'jdbc', 'url' = '$dbUrl',
            'table-name' = 'dim_cust')""")
    Engine.sql(spark, s"""
      CREATE TABLE $fct (oid BIGINT, cust BIGINT, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)""")
    Engine.sql(spark, s"CREATE TABLE $sink (oid BIGINT, cname STRING) USING parquet")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-slkp").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT /*+ LOOKUP('table'='d') */ o.oid, d.cname
      FROM $fct AS o
      JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid""", ckpt)
    def derby(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(dbUrl)
      try { val st = c.createStatement(); st.execute(sql); st.close() }
      finally c.close()
    }
    try {
      Engine.sql(spark,
        s"INSERT INTO $fct VALUES (1, 3, TIMESTAMP '2024-01-01 00:00:01')")
      q.processAllAvailable()
      // the dim row CHANGES between batches
      derby("UPDATE dim_cust SET cname = 'c3_v2' WHERE cid = 3")
      Engine.sql(spark,
        s"INSERT INTO $fct VALUES (2, 3, TIMESTAMP '2024-01-01 00:00:02')")
      q.processAllAvailable()
      import spark.implicits._
      val got = spark.table(sink).as[(Long, String)].collect().toSet
      assert(got == Set((1L, "c3"), (2L, "c3_v2")),
        s"each batch must see the dim state AT PROBE TIME, got $got")
    } finally {
      q.stop()
      derby("UPDATE dim_cust SET cname = 'c3' WHERE cid = 3")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $d")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${d}_base")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $fct")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${fct}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("retry-on-miss re-probes until the row appears (lookup_miss)") {
    val d = mkLookupTables()
    try {
      // key 42 missing; insert it from a helper thread after ~300ms —
      // fixed_delay retry keeps probing and catches the late row
      val inserter = new Thread(() => {
        Thread.sleep(300)
        val c = java.sql.DriverManager.getConnection(dbUrl)
        try {
          val st = c.createStatement()
          st.execute("INSERT INTO dim_cust VALUES (42, 'late', 9.0)")
          st.close()
        } finally c.close()
      })
      import spark.implicits._
      Seq((7L, 42L, 1.0)).toDF("oid", "cust", "amount")
        .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())
        .createOrReplaceTempView("hints_fact_late")
      inserter.start()
      val got = Engine.sql(spark, s"""
        SELECT /*+ LOOKUP('table'='d', 'retry-predicate'='lookup_miss',
                          'retry-strategy'='fixed_delay',
                          'fixed-delay'='200 ms', 'max-attempts'='20') */
               o.oid, d.cname
        FROM hints_fact_late AS o
        JOIN $d FOR SYSTEM_TIME AS OF o.ts AS d ON o.cust = d.cid""")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      inserter.join()
      assert(got == Seq((7L, "late")), got.toString)
      // cleanup the late row for other tests
      val c = java.sql.DriverManager.getConnection(dbUrl)
      try { val st = c.createStatement()
        st.execute("DELETE FROM dim_cust WHERE cid = 42"); st.close()
      } finally c.close()
      spark.catalog.dropTempView("hints_fact_late")
    } finally dropLookupTables(d)
  }
}
