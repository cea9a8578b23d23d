package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Changelog-mode SQL in STREAMING mode (the ChangelogSql routes via
  * Engine.sqlStreamInsert): a debezium envelope stream decodes to a
  * row_kind table, a continuous `INSERT INTO sink SELECT <agg>` consumes
  * retractions while the stream runs, and the materialized upsert sink
  * equals the BATCH ChangelogSql answer over the same prefix at every
  * commit — the FlinkChangelogModeInferenceProgram behavior end to end
  * (GroupAggFunction.java:43 retraction inputs; MIN/MAX through the
  * MinWithRetractAggFunction-shaped value-multiset state). */
class ChangelogStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val payload = new StructType()
    .add("g", StringType).add("k", StringType).add("x", DoubleType)

  /** Debezium JSON batches: inserts at ts 1, an update (k1: 10 -> 25) at
    * ts 2, a delete emptying group g3 at ts 3. */
  private def envelopes: Seq[Seq[String]] = Seq(
    Seq(
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"k1","x":10.0}}""",
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"k2","x":4.0}}""",
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g3","k":"k5","x":9.0}}"""),
    Seq(
      """{"op":"u","ts_ms":2,"before":{"g":"g1","k":"k1","x":10.0},"after":{"g":"g1","k":"k1","x":25.0}}""",
      """{"op":"c","ts_ms":2,"before":null,"after":{"g":"g2","k":"k4","x":7.0}}"""),
    Seq(
      """{"op":"d","ts_ms":3,"before":{"g":"g3","k":"k5","x":9.0},"after":null}"""))

  private def decoded(batch: Seq[String]) = {
    import spark.implicits._
    graft.streaming.Cdc.decodeDebezium(batch.toDF("value"), payload)
  }

  private def createChangelogTable(name: String): Unit =
    spark.sql(s"""CREATE TABLE $name
      (row_kind STRING, cdc_ts BIGINT, g STRING, k STRING, x DOUBLE)
      USING parquet"""): Unit

  private def append(name: String, batch: Seq[String]): Unit = {
    decoded(batch).createOrReplaceTempView(s"__${name}_in")
    try spark.sql(s"INSERT INTO $name SELECT * FROM __${name}_in"): Unit
    finally spark.catalog.dropTempView(s"__${name}_in"): Unit
  }

  test("continuous changelog aggregate equals the batch answer at every commit") {
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_stream_src_$h", s"cl_stream_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    // the decoded changelog lands in a catalog table the stream tails —
    // envelope decode happens at ingest, exactly once per message
    createChangelogTable(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clstream").toString
    val stmt = s"""
      INSERT INTO $sink
      SELECT g, COUNT(*) AS n, SUM(x) AS total, MIN(x) AS lo, MAX(x) AS hi
      FROM $src GROUP BY g"""
    val q = Engine.sqlStreamInsert(spark, stmt, ckpt)
    try {
      envelopes.zipWithIndex.foreach { case (batch, i) =>
        append(src, batch)
        q.processAllAvailable()
        // batch oracle over the SAME prefix through the batch front door
        import spark.implicits._
        val batchAns = Engine.sql(spark,
          s"SELECT g, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS total, " +
            s"CAST(MIN(x) AS DOUBLE) AS lo, CAST(MAX(x) AS DOUBLE) AS hi " +
            s"FROM $src GROUP BY g")
          .as[(String, Long, Option[Double], Option[Double], Option[Double])]
          .collect().toSet
        val streamAns = ChangelogSql.materializeUpsertSink(spark, sink)
          .select(col("g"), col("n"), col("total").cast("double"),
            col("lo").cast("double"), col("hi").cast("double"))
          .as[(String, Long, Option[Double], Option[Double], Option[Double])]
          .collect().toSet
        assert(streamAns == batchAns,
          s"commit $i: stream $streamAns != batch $batchAns")
      }
      // after batch 2 the g3 group emptied: the sink's changelog must
      // carry its -D and the materialized view must not show it
      import spark.implicits._
      spark.catalog.refreshTable(sink)
      val kinds = spark.table(sink)
        .filter(col("g") === "g3").select("row_kind")
        .as[String].collect().toSeq
      assert(kinds.contains("-D"), s"g3 delete not recorded: $kinds")
      assert(!ChangelogSql.materializeUpsertSink(spark, sink)
        .filter(col("g") === "g3").collect().nonEmpty,
        "fully-retracted group visible in the materialized sink")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("HAVING emits deletes when a group leaves the set; UDAs stream too") {
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_having_src_$h", s"cl_having_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    createChangelogTable(src)
    object GeoMeanS extends graft.streaming.StatefulOps.RetractableOverAgg {
      val size = 2
      def zero = Array(0.0, 0.0)
      def reduce(b: Array[Double], x: Double): Unit = { b(0) += math.log(x); b(1) += 1 }
      def retract(b: Array[Double], x: Double): Unit = { b(0) -= math.log(x); b(1) -= 1 }
      def merge(a: Array[Double], b: Array[Double]): Unit = { a(0) += b(0); a(1) += b(1) }
      def finish(b: Array[Double]): Double =
        if (b(1) <= 0) Double.NaN else math.exp(b(0) / b(1))
    }
    StreamOverSql.registerAggregate("GEO_MEAN_ST", GeoMeanS)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clhaving").toString
    // HAVING COUNT(*) >= 2: g1 enters the set once its second row lands,
    // then LEAVES it when the deletes drop it back to one row
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT g, COUNT(*) AS n, GEO_MEAN_ST(x) AS gm
      FROM $src GROUP BY g HAVING COUNT(*) >= 2""", ckpt)
    try {
      import spark.implicits._
      def current(): Map[String, (Long, Double)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, Long, Option[Double])].collect()
          .map(r => r._1 -> ((r._2, r._3.getOrElse(Double.NaN)))).toMap
      append(src, Seq(
        """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"a","x":2.0}}"""))
      q.processAllAvailable()
      assert(current().isEmpty, s"below HAVING threshold: ${current()}")
      append(src, Seq(
        """{"op":"c","ts_ms":2,"before":null,"after":{"g":"g1","k":"b","x":8.0}}"""))
      q.processAllAvailable()
      val in = current()
      assert(in.keySet == Set("g1") && in("g1")._1 == 2L &&
        math.abs(in("g1")._2 - 4.0) < 1e-9, // geomean(2, 8) = 4
        s"got $in")
      append(src, Seq(
        """{"op":"d","ts_ms":3,"before":{"g":"g1","k":"b","x":8.0},"after":null}"""))
      q.processAllAvailable()
      // back below the HAVING threshold: the sink saw a -D for g1
      assert(current().isEmpty, s"group must leave the HAVING set: ${current()}")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("continuous changelog aggregate THROUGH a static join equals batch") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink, dim) = (s"cl_j_src_$h", s"cl_j_sink_$h", s"cl_j_dim_$h")
    Seq(src, sink, dim).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    createChangelogTable(src)
    Seq(("g1", "west"), ("g2", "east"), ("g3", "west"))
      .toDF("g", "region").write.saveAsTable(dim)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cljoin").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT d.region AS region, COUNT(*) AS n, SUM(c.x) AS total
      FROM $src c JOIN $dim d ON c.g = d.g GROUP BY d.region""", ckpt)
    try {
      envelopes.zipWithIndex.foreach { case (batch, i) =>
        append(src, batch)
        q.processAllAvailable()
        import org.apache.spark.sql.functions.col
        val batchAns = Engine.sql(spark,
          s"SELECT d.region AS region, COUNT(*) AS n, CAST(SUM(c.x) AS DOUBLE) " +
            s"AS total FROM $src c JOIN $dim d ON c.g = d.g GROUP BY d.region")
          .as[(String, Long, Option[Double])].collect().toSet
        val streamAns = ChangelogSql.materializeUpsertSink(spark, sink)
          .select(col("region"), col("n"), col("total").cast("double"))
          .as[(String, Long, Option[Double])].collect().toSet
        assert(streamAns == batchAns,
          s"commit $i: stream $streamAns != batch $batchAns")
      }
      // changelog x changelog WITH an aggregate routes to the composed
      // agg-over-join topology now (one statement, join feeding the
      // retraction-consuming group aggregate) — EXPLAIN names both
      // operators without starting anything
      val ex = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE INSERT INTO " +
        s"nowhere_$h SELECT COUNT(*) AS n FROM $src a JOIN $src b " +
        "ON a.k = b.k").as[String].collect().head
      assert(ex.contains("two-sided retraction JOIN"), ex)
      assert(ex.contains("GROUP AGGREGATE"), ex)
      // a THREE-changelog aggregate still rejects loudly
      val e = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark,
          s"INSERT INTO nowhere_$h SELECT COUNT(*) AS n FROM $src a " +
            s"JOIN $src b ON a.k = b.k JOIN $src c ON b.k = c.k",
          "/tmp/never2")
      }
      assert(e.getMessage.contains("exactly TWO changelog relations"),
        e.getMessage)
    } finally {
      q.stop()
      Seq(src, sink, dim).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("continuous retractable TOP-N statement equals batch ROW_NUMBER at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_topn_src_$h", s"cl_topn_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    createChangelogTable(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cltopn").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
        FROM $src) t
      WHERE rn <= 2""", ckpt)
    try {
      def batchTopN(): Set[(String, String, Double, Long)] = {
        // batch oracle: row_number over the MATERIALIZED current state
        val cur = graft.streaming.Cdc.upsertMaterialize(
          spark.table(src), Seq("g", "k"), "cdc_ts", "cdc_ts")
          .drop("row_kind", "cdc_ts")
        cur.createOrReplaceTempView("topn_cur")
        try spark.sql("""SELECT g, k, x, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
            FROM topn_cur) WHERE rn <= 2""")
          .as[(String, String, Double, Long)].collect().toSet
        finally spark.catalog.dropTempView("topn_cur")
      }
      def streamTopN(): Set[(String, String, Double, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, String, Double, Long)].collect().toSet
      // commit 1: inserts (g1: k1=10 > k2=4; g3: k5=9)
      // commit 2: UPDATE k1 10->25 + insert g2
      // commit 3: delete g3's only row — rank 1 must VANISH
      envelopes.zipWithIndex.foreach { case (batch, i) =>
        append(src, batch)
        q.processAllAvailable()
        assert(streamTopN() == batchTopN(),
          s"commit $i: stream ${streamTopN()} != batch ${batchTopN()}")
      }
      assert(!streamTopN().exists(_._1 == "g3"),
        "deleted group's ranks must not survive in the sink")
      // a backfill case: third row enters g1, then the leader retracts
      append(src, Seq(
        """{"op":"c","ts_ms":4,"before":null,"after":{"g":"g1","k":"k9","x":1.0}}"""))
      q.processAllAvailable()
      assert(streamTopN() == batchTopN(), "after third-row insert")
      append(src, Seq(
        """{"op":"d","ts_ms":5,"before":{"g":"g1","k":"k1","x":25.0},"after":null}"""))
      q.processAllAvailable()
      val end = streamTopN()
      assert(end == batchTopN(), s"after leader retraction: $end")
      assert(end.contains(("g1", "k9", 1.0, 2L)),
        s"k9 must backfill into rank 2: $end")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  /** Composite ORDER BY (r14): rank on (k DESC, x ASC) — a DESC
    * variable-width STRING field concatenated with an ASC numeric field
    * — must equal batch ROW_NUMBER over the materialized state at every
    * commit, including an update that moves a row WITHIN its string
    * group (the second field re-ranks it) and a delete that backfills
    * across the composite boundary. */
  test("MULTI-COLUMN ORDER BY top-N statement equals batch at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode) + 2
    val (src, sink) = (s"cl_mc_src_$h", s"cl_mc_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    createChangelogTable(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clmc").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g
          ORDER BY k DESC, x ASC) AS rn
        FROM $src) t
      WHERE rn <= 2""", ckpt)
    try {
      def batch(): Set[(String, String, Double, Long)] = {
        val cur = graft.streaming.Cdc.upsertMaterialize(
          spark.table(src), Seq("g", "k"), "cdc_ts", "cdc_ts")
          .drop("row_kind", "cdc_ts")
        cur.createOrReplaceTempView("mc_cur")
        try spark.sql("""SELECT g, k, x, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g
              ORDER BY k DESC, x ASC) AS rn
            FROM mc_cur) WHERE rn <= 2""")
          .as[(String, String, Double, Long)].collect().toSet
        finally spark.catalog.dropTempView("mc_cur")
      }
      def stream(): Set[(String, String, Double, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, String, Double, Long)].collect().toSet
      envelopes.zipWithIndex.foreach { case (b, i) =>
        append(src, b)
        q.processAllAvailable()
        assert(stream() == batch(), s"commit $i: ${stream()} != ${batch()}")
      }
      // a new key below the cut (k0 sorts LAST under k DESC), then the
      // string leader deletes: ranks backfill across the composite key
      // (first-field TIES broken by the second field are q159's oracle
      // territory — priorities tie massively there, dval decides)
      append(src, Seq(
        """{"op":"c","ts_ms":6,"before":null,"after":{"g":"g1","k":"k0","x":7.0}}"""))
      q.processAllAvailable()
      assert(stream() == batch(), "below-the-cut insert must not disturb ranks")
      append(src, Seq(
        """{"op":"d","ts_ms":7,"before":{"g":"g1","k":"k2","x":4.0},"after":null}"""))
      q.processAllAvailable()
      assert(stream() == batch(), s"after composite delete: ${stream()}")
      assert(stream().contains(("g1", "k0", 7.0, 2L)),
        s"k0 must backfill into rank 2: ${stream()}")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  /** CHECKPOINT RECOVERY (r14): the continuous top-N must RESUME from
    * its checkpoint — a second query on the same checkpoint dir picks
    * up the transformWithState ranking state (RocksDB), so retractions
    * landing AFTER the restart still find the rows their +I built and
    * ranks stay exact. A lost-state bug would leave the deleted rows
    * ranked forever (the -D would no-op against empty state). */
  test("continuous top-N resumes from its checkpoint across a restart") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode) + 3
    val (src, sink) = (s"cl_rc_src_$h", s"cl_rc_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    createChangelogTable(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clrc").toString
    val stmt = s"""
      INSERT INTO $sink
      SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
        FROM $src) t
      WHERE rn <= 2"""
    // first incarnation: inserts only
    val q1 = Engine.sqlStreamInsert(spark, stmt, ckpt)
    try {
      append(src, envelopes(0))
      q1.processAllAvailable()
    } finally q1.stop()
    // between incarnations: an update AND a delete land in the source
    append(src, envelopes(1))
    append(src, envelopes(2))
    // second incarnation, SAME checkpoint: must consume both commits
    // against the RESTORED ranking state
    val q2 = Engine.sqlStreamInsert(spark, stmt, ckpt)
    try q2.processAllAvailable()
    finally q2.stop()
    val cur = graft.streaming.Cdc.upsertMaterialize(
      spark.table(src), Seq("g", "k"), "cdc_ts", "cdc_ts")
      .drop("row_kind", "cdc_ts")
    cur.createOrReplaceTempView("rc_cur")
    val batch = try spark.sql("""SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
        FROM rc_cur) WHERE rn <= 2""")
      .as[(String, String, Double, Long)].collect().toSet
    finally spark.catalog.dropTempView("rc_cur")
    val stream = ChangelogSql.materializeUpsertSink(spark, sink)
      .as[(String, String, Double, Long)].collect().toSet
    assert(stream == batch, s"post-restart: $stream != $batch")
    assert(!stream.exists(_._1 == "g3"),
      "the post-restart delete must retract g3's restored rank")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
  }

  /** `graft.stream.statePartitions` (r14) — the per-job parallelism
    * lever: the continuous front door starts the query with that many
    * shuffle partitions (pinned into the checkpoint), so every stateful
    * operator carries exactly that many state stores, independent of
    * the session's batch-sized default. */
  test("graft.stream.statePartitions sizes the job's state stores") {
    val h = math.abs(getClass.getName.hashCode) + 4
    val (src, sink) = (s"cl_sp_src_$h", s"cl_sp_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    createChangelogTable(src)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clsp").toString
    val prevDefault = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("graft.stream.statePartitions", "3")
    val q = try Engine.sqlStreamInsert(spark,
      s"INSERT INTO $sink SELECT g, COUNT(*) AS n FROM $src GROUP BY g", ckpt)
    finally spark.conf.unset("graft.stream.statePartitions")
    try {
      append(src, envelopes(0))
      q.processAllAvailable()
    } finally q.stop()
    // the session default is untouched after start
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevDefault)
    // the checkpoint carries exactly 3 state partitions for operator 0
    val parts = new java.io.File(s"$ckpt/state/0").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.forall(_.isDigit)).sorted
    assert(parts.toSeq == Seq("0", "1", "2"), parts.mkString(","))
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
  }

  /** TIME-typed ORDER BY (r14): Spark 4.1's TimeType ranks through the
    * decimal field path (exact fractional seconds-of-day). Stream must
    * equal batch ROW_NUMBER at every commit, including a retraction of
    * the latest time forcing backfill. */
  test("TIME-typed ORDER BY ranks exactly (stream == batch)") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode) + 5
    val (src, sink) = (s"cl_tt_src_$h", s"cl_tt_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, g STRING, k STRING, tt TIME(6))
      USING parquet""")
    def ins(rows: Seq[(String, String, String, String)], ts: Long): Unit = {
      rows.toDF("row_kind", "g", "k", "t")
        .select($"row_kind", lit(ts).as("cdc_ts"), $"g", $"k",
          $"t".cast("time(6)").as("tt"))
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cltt").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT g, k, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY tt DESC) AS rn
        FROM $src) t
      WHERE rn <= 2""", ckpt)
    try {
      def batch(): Set[(String, String, Long)] = {
        val cur = graft.streaming.Cdc.upsertMaterialize(
          spark.table(src), Seq("g", "k"), "cdc_ts", "cdc_ts")
          .drop("row_kind", "cdc_ts")
        cur.createOrReplaceTempView("tt_cur")
        try spark.sql("""SELECT g, k, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY tt DESC)
              AS rn FROM tt_cur) WHERE rn <= 2""")
          .as[(String, String, Long)].collect().toSet
        finally spark.catalog.dropTempView("tt_cur")
      }
      def stream(): Set[(String, String, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, String, Long)].collect().toSet
      ins(Seq(("+I", "g1", "k1", "10:30:01.123456"),
        ("+I", "g1", "k2", "10:30:01.123455"),
        ("+I", "g1", "k3", "09:00:00"),
        ("+I", "g2", "k4", "23:59:59.999999")), 1L)
      q.processAllAvailable()
      assert(stream() == batch(), s"after inserts: ${stream()} != ${batch()}")
      assert(stream().contains(("g1", "k1", 1L)),
        s"microsecond-adjacent times must rank exactly: ${stream()}")
      // retract the g1 leader: k2 promotes, k3 backfills
      ins(Seq(("-D", "g1", "k1", "10:30:01.123456")), 2L)
      q.processAllAvailable()
      assert(stream() == batch(), s"after delete: ${stream()}")
      assert(stream().contains(("g1", "k3", 2L)), s"backfill: ${stream()}")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  /** A DECLARED UPSERT source with a TIME payload column must survive
    * the ChangelogNormalize chain too (retractStreamOf shares the
    * string-shuttle codec): a re-upsert moving an id's time re-ranks it
    * and the declared type comes out intact. */
  test("TIME payload survives the upsert normalize chain into a top-N") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode) + 6
    val (src, sink) = (s"cl_ut_src_$h", s"cl_ut_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, id STRING, tt TIME(6))
      USING parquet""")
    spark.sql(s"ALTER TABLE $src SET TBLPROPERTIES " +
      "('graft.upsert.keys' = 'id')")
    def up(rows: Seq[(String, String)], ts: Long): Unit = {
      rows.toDF("id", "t")
        .select(lit("+U").as("row_kind"), lit(ts).as("cdc_ts"), $"id",
          $"t".cast("time(6)").as("tt"))
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clut").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT id, tt, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY tt DESC) AS rn
        FROM $src) t
      WHERE rn <= 2""", ckpt)
    try {
      up(Seq(("a", "10:00:00"), ("b", "11:00:00"), ("c", "09:00:00")), 1L)
      q.processAllAvailable()
      def top(): Seq[(String, String, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .select($"id", $"tt".cast("string"), $"rn")
          .as[(String, String, Long)].collect().toSeq.sortBy(_._3)
      assert(top() == Seq(("b", "11:00:00", 1L), ("a", "10:00:00", 2L)),
        top().toString)
      // re-upsert c to the new latest time: normalize emits the -U/+U
      // pair, c takes rank 1
      up(Seq(("c", "12:30:00.000001")), 2L)
      q.processAllAvailable()
      assert(top() == Seq(("c", "12:30:00.000001", 1L),
        ("b", "11:00:00", 2L)), top().toString)
      // the declared type survives end to end
      assert(ChangelogSql.materializeUpsertSink(spark, sink)
        .schema("tt").dataType.isInstanceOf[
          org.apache.spark.sql.types.TimeType], "tt lost its TIME type")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("GLOBAL (no PARTITION BY) ASC top-N statement streams correctly") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_gtopn_src_$h", s"cl_gtopn_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, k STRING, x DOUBLE) USING parquet""")
    def put(rows: (String, Long, String, Double)*): Unit = {
      rows.toSeq.toDF("row_kind", "cdc_ts", "k", "x")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gtopn").toString
    // NO direction keyword: SQL defaults to ASCENDING — the ranks
    // below pin that default (a DESC misread would invert every rank)
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM $src) t
      WHERE rn <= 2""", ckpt)
    try {
      def state(): Set[(String, Double, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, Double, Long)].collect().toSet
      put(("+I", 1L, "k1", 5.0), ("+I", 1L, "k2", 3.0), ("+I", 1L, "k3", 9.0))
      q.processAllAvailable()
      assert(state() == Set(("k2", 3.0, 1L), ("k1", 5.0, 2L)), state().toString)
      // retract the ASC leader: k1 promotes, k3 backfills
      put(("-D", 2L, "k2", 3.0))
      q.processAllAvailable()
      assert(state() == Set(("k1", 5.0, 1L), ("k3", 9.0, 2L)), state().toString)
      // a smaller value enters at rank 1
      put(("+I", 3L, "k0", 1.0))
      q.processAllAvailable()
      assert(state() == Set(("k0", 1.0, 1L), ("k1", 5.0, 2L)), state().toString)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("top-N over a DECLARED UPSERT stream with a composite partition key") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_utopn_src_$h", s"cl_utopn_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, id STRING, ga STRING, gb STRING,
       x DOUBLE) USING parquet""")
    spark.sql(s"ALTER TABLE $src SET TBLPROPERTIES ('graft.upsert.keys' = 'id')")
    def put(rows: (String, Long, String, String, String, Double)*): Unit = {
      rows.toSeq.toDF("row_kind", "cdc_ts", "id", "ga", "gb", "x")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-utopn").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT ga, gb, id, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY x DESC)
          AS rn FROM $src) t
      WHERE rn <= 1""", ckpt)
    try {
      def state(): Set[(String, String, String, Double, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .as[(String, String, String, Double, Long)].collect().toSet
      put(("+U", 1L, "a", "g1", "h1", 4.0), ("+U", 1L, "b", "g1", "h1", 7.0),
        ("+U", 1L, "c", "g1", "h2", 2.0))
      q.processAllAvailable()
      assert(state() == Set(("g1", "h1", "b", 7.0, 1L), ("g1", "h2", "c", 2.0, 1L)),
        state().toString)
      // RE-UPSERT the (g1,h1) leader DOWN: the normalize chain must
      // retract b=7 (not leave a phantom) so a takes rank 1
      put(("+U", 2L, "b", "g1", "h1", 1.0))
      q.processAllAvailable()
      assert(state() == Set(("g1", "h1", "a", 4.0, 1L), ("g1", "h2", "c", 2.0, 1L)),
        state().toString)
      // tombstone (g1,h2)'s only key: its rank must vanish
      put(("-D", 3L, "c", "g1", "h2", 0.0))
      q.processAllAvailable()
      assert(state() == Set(("g1", "h1", "a", 4.0, 1L)), state().toString)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("ONE statement aggregates a DECLARED UPSERT stream continuously") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_ups_src_$h", s"cl_ups_sink_$h")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    // q152's convention: +U/-D keyed by k, cdc_ts as the commit order,
    // declared via graft.upsert.keys — the statement must chain
    // ChangelogNormalize -> GroupAggregate as one topology
    spark.sql(s"""CREATE TABLE $src
      (row_kind STRING, cdc_ts BIGINT, k STRING, g STRING, x DOUBLE)
      USING parquet""")
    spark.sql(s"ALTER TABLE $src SET TBLPROPERTIES ('graft.upsert.keys' = 'k')")
    def put(rows: (String, Long, String, String, Double)*): Unit = {
      rows.toSeq.toDF("row_kind", "cdc_ts", "k", "g", "x")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-clups").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT g, COUNT(*) AS n, SUM(x) AS total, MIN(x) AS lo
      FROM $src GROUP BY g""", ckpt)
    try {
      def batchAns(): Set[(String, Long, Option[Double], Option[Double])] =
        // the batch front door normalizes the upsert table automatically
        Engine.sql(spark,
          s"SELECT g, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS total, " +
            s"CAST(MIN(x) AS DOUBLE) AS lo FROM $src GROUP BY g")
          .as[(String, Long, Option[Double], Option[Double])].collect().toSet
      def streamAns(): Set[(String, Long, Option[Double], Option[Double])] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .select(org.apache.spark.sql.functions.col("g"),
            org.apache.spark.sql.functions.col("n"),
            org.apache.spark.sql.functions.col("total").cast("double"),
            org.apache.spark.sql.functions.col("lo").cast("double"))
          .as[(String, Long, Option[Double], Option[Double])].collect().toSet
      // commit 1: three keys, two groups
      put(("+U", 1L, "k1", "g1", 10.0), ("+U", 1L, "k2", "g1", 4.0),
        ("+U", 1L, "k3", "g2", 7.0))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} vs ${batchAns()}")
      // commit 2: k1 RE-UPSERTED (the double-count trap: without
      // normalize, g1's count would read 3) + k2 tombstoned
      put(("+U", 2L, "k1", "g1", 25.0), ("-D", 3L, "k2", "g1", 0.0))
      q.processAllAvailable()
      val s2 = streamAns()
      assert(s2 == batchAns(), s"c2: $s2 vs ${batchAns()}")
      assert(s2.exists(r => r._1 == "g1" && r._2 == 1L && r._3 == Some(25.0)),
        s"re-upserted key double-counted: $s2")
      // commit 3: g2's only key tombstoned -> group deleted from sink
      put(("-D", 4L, "k3", "g2", 0.0))
      q.processAllAvailable()
      assert(streamAns() == batchAns() && !streamAns().exists(_._1 == "g2"),
        s"c3: ${streamAns()}")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      spark.sql(s"DROP TABLE IF EXISTS $sink"): Unit
    }
  }

  test("a changelog aggregate feeds a KEYED JDBC sink: upserts + deletes per commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, snk) = (s"cl_jsink_src_$h", s"cl_jsink_$h")
    val dbUrl = s"jdbc:derby:memory:graftclsink$h"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $snk")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${snk}_base")
    createChangelogTable(src)
    val c = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE live_groups (grp VARCHAR(16) NOT NULL " +
        "PRIMARY KEY, n BIGINT, total DOUBLE)")
      st.close()
    } finally c.close()
    Engine.sql(spark, s"""
      CREATE TABLE $snk (grp STRING, n BIGINT, total DOUBLE,
        PRIMARY KEY (grp) NOT ENFORCED)
      WITH ('connector' = 'jdbc', 'url' = '$dbUrl',
            'table-name' = 'live_groups')""")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cljsink").toString
    // select-output name g maps positionally onto the declared pk 'grp'
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $snk
      SELECT g, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS total
      FROM $src GROUP BY g""", ckpt)
    def dbState(): Set[(String, Long, Double)] = {
      val cc = java.sql.DriverManager.getConnection(dbUrl)
      try {
        val rs = cc.createStatement()
          .executeQuery("SELECT grp, n, total FROM live_groups ORDER BY grp")
        val out = Set.newBuilder[(String, Long, Double)]
        while (rs.next()) out += ((rs.getString(1), rs.getLong(2), rs.getDouble(3)))
        out.result()
      } finally cc.close()
    }
    try {
      envelopes.zipWithIndex.foreach { case (batch, i) =>
        append(src, batch)
        q.processAllAvailable()
        import spark.implicits._
        val batchAns = Engine.sql(spark,
          s"SELECT g, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS total " +
            s"FROM $src GROUP BY g")
          .as[(String, Long, Double)].collect().toSet
        assert(dbState() == batchAns,
          s"commit $i: db ${dbState()} != batch $batchAns")
      }
      // commit 3 emptied g3: its DB row must be GONE (the -D route)
      assert(!dbState().exists(_._1 == "g3"), dbState().toString)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $src")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $snk")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${snk}_base"): Unit
    }
  }

  test("UPDATE streams into keyless/append sinks reject loudly") {
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_badsink_src_$h"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    createChangelogTable(src)
    val dbUrl = s"jdbc:derby:memory:graftbadsink$h"
    val c = java.sql.DriverManager.getConnection(s"$dbUrl;create=true")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE nokey_t (g VARCHAR(16), n BIGINT)")
      st.close()
    } finally c.close()
    def mk(name: String, withClause: String): Unit = {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $name")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${name}_base")
      Engine.sql(spark,
        s"CREATE TABLE $name (g STRING, n BIGINT) WITH ($withClause)"): Unit
    }
    val jl = s"cl_badsink_j_$h"
    val fl = s"cl_badsink_f_$h"
    val dir = java.nio.file.Files.createTempDirectory("graft-badsink").toString
    mk(jl, s"'connector' = 'jdbc', 'url' = '$dbUrl', 'table-name' = 'nokey_t'")
    mk(fl, s"'connector' = 'filesystem', 'path' = '$dir', 'format' = 'parquet'")
    try {
      val e1 = intercept[IllegalArgumentException](Engine.sqlStreamInsert(spark,
        s"INSERT INTO $jl SELECT g, COUNT(*) AS n FROM $src GROUP BY g",
        "/tmp/never1"))
      assert(e1.getMessage.contains("PRIMARY KEY"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](Engine.sqlStreamInsert(spark,
        s"INSERT INTO $fl SELECT g, COUNT(*) AS n FROM $src GROUP BY g",
        "/tmp/never2"))
      assert(e2.getMessage.contains("update and delete"), e2.getMessage)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $src")
      Seq(jl, fl).foreach { t =>
        Engine.sql(spark, s"DROP VIEW IF EXISTS $t")
        Engine.sql(spark, s"DROP TABLE IF EXISTS __${t}_base"): Unit
      }
    }
  }

  /** RankProcessStrategy routing (FastTop1Function.java:54 /
    * RankProcessStrategy.java): a DESC top-1 over a changelog produced
    * by COUNT over an insert-only input lowers onto the O(1)-state
    * FastTop1 route; everything else keeps the generic retractable
    * route. The derivation chain is end-to-end: the SOURCE declares
    * 'graft.changelog.mode' = 'insert-only', the sign-algebra route
    * derives and records 'graft.monotone.cols' on its sink, the top-N
    * route reads it,
    * and EXPLAIN CHANGELOG_MODE names the chosen strategy. */
  test("DESC top-1 over a monotone aggregate picks UpdateFastStrategy") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_fast_src_$h"
    val aggSink = s"cl_fast_agg_$h"
    val topSink = s"cl_fast_top_$h"
    Seq(src, aggSink, topSink).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    createChangelogTable(src)
    spark.sql(s"ALTER TABLE $src SET TBLPROPERTIES " +
      "('graft.changelog.mode' = 'insert-only')")
    def ins(rows: Seq[(String, String)]): Unit = {
      rows.toDF("g", "k")
        .select(lit("+I").as("row_kind"), lit(1L).as("cdc_ts"),
          $"g", $"k", lit(1.0).as("x"))
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    val ck1 = java.nio.file.Files.createTempDirectory("graft-fast-agg").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft-fast-top").toString
    val qa = Engine.sqlStreamInsert(spark,
      s"INSERT INTO $aggSink SELECT g, COUNT(*) AS n FROM $src GROUP BY g", ck1)
    try {
      ins(Seq(("g1", "a"), ("g1", "b"), ("g2", "c")))
      qa.processAllAvailable()
      // the sink records BOTH the upsert keys and the derived monotone cols
      val props = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(aggSink)).properties
      assert(props.get("graft.upsert.keys").contains("g"), props.toString)
      assert(props.get("graft.monotone.cols").contains("n"), props.toString)
      // EXPLAIN names the strategy — fast for DESC top-1, generic otherwise
      val topStmt = s"""INSERT INTO $topSink
        SELECT g, n, rn FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC) AS rn
          FROM $aggSink) x
        WHERE rn <= 1"""
      val explained = Engine.sql(spark,
        s"EXPLAIN CHANGELOG_MODE $topStmt").as[String].collect().head
      assert(explained.contains("UpdateFastStrategy"), explained)
      val genericStmt = topStmt.replace("rn <= 1", "rn <= 2")
      val explained2 = Engine.sql(spark,
        s"EXPLAIN CHANGELOG_MODE $genericStmt").as[String].collect().head
      assert(explained2.contains("RetractStrategy"), explained2)
      // ASC top-1 must NOT take the fast route (monotone NON-DECREASING
      // sort values can demote an ASC leader)
      assert(Engine.sql(spark, "EXPLAIN CHANGELOG_MODE " +
        topStmt.replace("ORDER BY n DESC", "ORDER BY n"))
        .as[String].collect().head.contains("RetractStrategy"))
      // run the fast route end to end while commits land
      graft.streaming.Retract.FastTop1Stats.reset()
      val qt = Engine.sqlStreamInsert(spark, topStmt, ck2)
      try {
        qt.processAllAvailable()
        assert(graft.streaming.Retract.FastTop1Stats.lowered.get() == 1L,
          "fast route did not engage")
        def leader(): Seq[(String, Long, Long)] =
          graft.ChangelogSql.materializeUpsertSink(spark, topSink)
            .select($"g", $"n".cast("long"), $"rn")
            .as[(String, Long, Long)].collect().toSeq
        assert(leader() == Seq(("g1", 2L, 1L)), leader().toString)
        // g2 overtakes: counts 2 -> 4
        ins(Seq(("g2", "d"), ("g2", "e"), ("g2", "f")))
        qa.processAllAvailable(); qt.processAllAvailable()
        assert(leader() == Seq(("g2", 4L, 1L)), leader().toString)
      } finally qt.stop()
      // the generic statement on the SAME input agrees (identical answer)
      graft.streaming.Retract.FastTop1Stats.reset()
      val ck3 = java.nio.file.Files.createTempDirectory("graft-gen-top").toString
      val genSink = s"cl_fast_gen_$h"
      spark.sql(s"DROP TABLE IF EXISTS $genSink")
      val qg = Engine.sqlStreamInsert(spark,
        genericStmt.replace(s"INSERT INTO $topSink", s"INSERT INTO $genSink"),
        ck3)
      try {
        qg.processAllAvailable()
        assert(graft.streaming.Retract.FastTop1Stats.lowered.get() == 0L,
          "generic statement must NOT take the fast route")
        val top2 = graft.ChangelogSql.materializeUpsertSink(spark, genSink)
          .select($"g", $"n".cast("long"), $"rn").orderBy($"rn")
          .as[(String, Long, Long)].collect().toSeq
        assert(top2 == Seq(("g2", 4L, 1L), ("g1", 2L, 2L)), top2.toString)
      } finally qg.stop()
    } finally {
      qa.stop()
      Seq(src, aggSink, topSink, s"cl_fast_gen_$h").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
    }
  }

  /** Reusing a sink table for a NEW job must not leave a PRIOR job's
    * 'graft.monotone.cols' declaration in place: a downstream top-1
    * would plan-route onto FastTop1 whose runtime contract the new
    * (non-monotone) aggregate cannot honor. The writer rewrites the
    * property — empty when the new job derives no monotone columns —
    * at batch 0. */
  test("a reused sink's stale monotone declaration is unset by a non-monotone job") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_stale_src_$h"
    val sink = s"cl_stale_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    createChangelogTable(src) // NOT declared insert-only: nothing monotone
    append(src, Seq(
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"a","x":1.0}}""",
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"b","x":2.0}}""",
      """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g2","k":"c","x":3.0}}"""))
    // the sink carries a stale declaration from a previous (monotone) job
    spark.sql(s"CREATE TABLE $sink (g STRING, n BIGINT, row_kind STRING, " +
      s"${ChangelogSql.SeqCol} BIGINT) USING parquet")
    spark.sql(s"ALTER TABLE $sink SET TBLPROPERTIES " +
      "('graft.upsert.keys' = 'g', 'graft.monotone.cols' = 'n')")
    assert(ChangelogSql.monotoneColsOf(spark, sink) == Seq("n"))
    val ck = java.nio.file.Files.createTempDirectory("graft-stale-mono").toString
    val q = Engine.sqlStreamInsert(spark,
      s"INSERT INTO $sink SELECT g, COUNT(*) AS n FROM $src GROUP BY g", ck)
    try q.processAllAvailable() finally q.stop()
    assert(ChangelogSql.monotoneColsOf(spark, sink).isEmpty,
      "stale graft.monotone.cols survived the new job's batch 0")
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  test("raw changelog passthrough and malformed shapes keep their contracts") {
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_raw_src_$h"
    spark.sql(s"DROP TABLE IF EXISTS $src")
    createChangelogTable(src)
    try {
      def signAgg(select: String): Boolean =
        ChangelogSql.route(spark, select)
          .exists(_.isInstanceOf[ChangelogSql.Route.SignAgg])
      // raw SELECT (references row_kind) is NOT the changelog-agg shape
      assert(!signAgg(s"SELECT row_kind, g, x FROM $src"))
      // plain projection without aggregates: not this path either
      assert(!signAgg(s"SELECT g, x FROM $src"))
      // the aggregate shape IS matched
      assert(signAgg(s"SELECT g, COUNT(*) AS n FROM $src GROUP BY g"))
      // a non-comparable order column (ARRAY) has no sort-key encoding;
      // STRING order columns are supported since r14 (memcmp sort keys)
      val arrSrc = s"cl_raw_arr_$h"
      spark.sql(s"DROP TABLE IF EXISTS $arrSrc")
      spark.sql(s"""CREATE TABLE $arrSrc
        (row_kind STRING, cdc_ts BIGINT, g STRING, v ARRAY<DOUBLE>)
        USING parquet""")
      val et = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO nowhere_t_$h
          SELECT g, v, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC)
              AS rn FROM $arrSrc) z
          WHERE rn <= 2""", "/tmp/never-t")
      }
      spark.sql(s"DROP TABLE IF EXISTS $arrSrc")
      assert(et.getMessage.contains("order-preserving"), et.getMessage)
      // ORDER BY on a continuous aggregate rejects loudly
      val e = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark,
          s"INSERT INTO nowhere_$h SELECT g, COUNT(*) AS n FROM $src " +
            "GROUP BY g ORDER BY n", "/tmp/never")
      }
      assert(e.getMessage.contains("ORDER BY"), e.getMessage)
    } finally spark.sql(s"DROP TABLE IF EXISTS $src"): Unit
  }

  /** COMPUTED ORDER BY items (r15): expressions project into derived
    * columns before the state boundary; retraction matching re-encodes
    * a -D to the identical composite key its +I produced; encoding
    * columns inside an expression reject loudly; non-encodable
    * expression TYPES reject loudly. */
  test("top-N ORDER BY expressions: stream equals batch; bad shapes reject") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sink) = (s"cl_oexpr_src_$h", s"cl_oexpr_sink_$h")
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    createChangelogTable(src) // (row_kind, cdc_ts, g, k, x)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-oexpr").toString
    val stmt = s"""INSERT INTO $sink
      SELECT g, k, x, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g
          ORDER BY LENGTH(k) DESC, x < 5.0, k) AS rn
        FROM $src) t
      WHERE rn <= 2"""
    val q = Engine.sqlStreamInsert(spark, stmt, ckpt)
    try {
      append(src, Seq(
        """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"kk1","x":10.0}}""",
        """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"k2","x":4.0}}""",
        """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"kkk3","x":2.0}}""",
        """{"op":"c","ts_ms":1,"before":null,"after":{"g":"g1","k":"kkk4","x":9.0}}"""))
      q.processAllAvailable()
      def top(): Seq[(String, String, Double, Long)] =
        ChangelogSql.materializeUpsertSink(spark, sink)
          .select($"g", $"k", $"x".cast("double"), $"rn")
          .as[(String, String, Double, Long)].collect().toSeq.sortBy(_._4)
      // LENGTH 4 first (kkk3, kkk4); x<5 false first -> kkk4 (9.0) rank 1
      assert(top() == Seq(("g1", "kkk4", 9.0, 1L), ("g1", "kkk3", 2.0, 2L)),
        top().toString)
      // retracting kkk4 must re-encode the same composite key: kkk3
      // promotes, kk1 backfills
      append(src, Seq(
        """{"op":"d","ts_ms":2,"before":{"g":"g1","k":"kkk4","x":9.0},"after":null}"""))
      q.processAllAvailable()
      assert(top() == Seq(("g1", "kkk3", 2.0, 1L), ("g1", "kk1", 10.0, 2L)),
        top().toString)
    } finally q.stop()
    // encoding columns inside an ORDER BY expression reject loudly
    val e1 = intercept[Exception] {
      Engine.sqlStreamInsert(spark, s"""INSERT INTO nowhere_oe_$h
        SELECT g, k, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g
            ORDER BY LENGTH(row_kind) DESC) AS rn
          FROM $src) t
        WHERE rn <= 2""", "/tmp/never-oe")
    }
    assert(e1.getMessage.contains("encoding column"), e1.getMessage)
    // a non-encodable expression type rejects loudly
    val e2 = intercept[IllegalArgumentException] {
      Engine.sqlStreamInsert(spark, s"""INSERT INTO nowhere_oe_$h
        SELECT g, k, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g
            ORDER BY ARRAY(x) DESC) AS rn
          FROM $src) t
        WHERE rn <= 2""", "/tmp/never-oe2")
    }
    assert(e2.getMessage.contains("order-preserving"), e2.getMessage)
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** Continuous two-sided retraction JOIN (StreamExecJoin.java:132 →
    * StreamingJoinOperator.java:36): one `INSERT INTO s SELECT ... FROM
    * a JOIN b ON ...` over two changelog relations, inserts + updates +
    * deletes on BOTH sides across three commits; FINAL_STATE of the
    * retract sink equals the batch join of the final states at every
    * commit. */
  test("continuous two-sided JOIN equals the batch join at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_join_l_$h"
    val rt = s"cl_join_r_$h"
    val sink = s"cl_join_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price DOUBLE) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, name STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, Double)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "price")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "name")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    // duplicate (1, a, 10.0): the join output is a MULTISET — both
    // instances must materialize
    appL(Seq(("+I", 1L, 1L, "a", 10.0), ("+I", 1L, 1L, "a", 10.0),
      ("+I", 1L, 2L, "a", 20.0), ("+I", 1L, 3L, "b", 30.0)))
    appR(Seq(("+I", 1L, "a", "A"), ("+I", 1L, "b", "B")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-join").toString
    val stmt = s"""INSERT INTO $sink
      SELECT l.id, l.price, r.name FROM $lt l JOIN $rt r ON l.cust = r.cust"""
    // EXPLAIN names the operator, per-side state shape and key
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-sided retraction JOIN"), explained)
    assert(explained.contains("MapState[payload -> live count]"), explained)
    assert(explained.contains("cust = cust"), explained)
    def live(): Seq[(Long, Double, String)] = {
      spark.catalog.refreshTable(sink)
      Engine.sql(spark,
        s"SELECT id, price, name FROM FINAL_STATE($sink) ORDER BY id, price")
        .as[(Long, Double, String)].collect().toSeq
    }
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(live() == Seq((1L, 10.0, "A"), (1L, 10.0, "A"),
        (2L, 20.0, "A"), (3L, 30.0, "B")), live().toString)
      // commit 2: updates on BOTH sides (-U/+U price bump on the left,
      // -U/+U rename on the right)
      appL(Seq(("-U", 2L, 2L, "a", 20.0), ("+U", 2L, 2L, "a", 25.0)))
      appR(Seq(("-U", 2L, "a", "A"), ("+U", 2L, "a", "A2")))
      q.processAllAvailable()
      assert(live() == Seq((1L, 10.0, "A2"), (1L, 10.0, "A2"),
        (2L, 25.0, "A2"), (3L, 30.0, "B")), live().toString)
      // commit 3: deletes on BOTH sides (one dup instance of id 1 on
      // the left; customer b on the right cascades id 3 out)
      appL(Seq(("-D", 3L, 1L, "a", 10.0)))
      appR(Seq(("-D", 3L, "b", "B")))
      q.processAllAvailable()
      assert(live() == Seq((1L, 10.0, "A2"), (2L, 25.0, "A2")),
        live().toString)
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** OUTER variants of the continuous join (r15 second pass —
    * OuterJoinRecordStateViews.java:335's pad bookkeeping): a LEFT JOIN
    * pads unmatched left rows with NULLs, retracts the pad when the
    * first match arrives, and restores it when the last match
    * retracts; FINAL_STATE equals the batch outer join of the final
    * states at every commit. */
  test("continuous LEFT OUTER JOIN pads, unpads and re-pads across commits") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_ojoin_l_$h"
    val rt = s"cl_ojoin_r_$h"
    val sink = s"cl_ojoin_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price DOUBLE) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, name STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, Double)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "price")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "name")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", 10.0), ("+I", 1L, 2L, "b", 20.0)))
    appR(Seq(("+I", 1L, "a", "A")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-ojoin").toString
    val stmt = s"""INSERT INTO $sink
      SELECT l.id, l.price, r.name
      FROM $lt l LEFT JOIN $rt r ON l.cust = r.cust"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("LEFT") &&
      explained.contains("two-sided retraction JOIN"), explained)
    def live(): Seq[(Long, Double, Option[String])] = {
      spark.catalog.refreshTable(sink)
      Engine.sql(spark,
        s"SELECT id, price, name FROM FINAL_STATE($sink) ORDER BY id")
        .as[(Long, Double, Option[String])].collect().toSeq
    }
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      // id 2 unmatched: padded
      assert(live() == Seq((1L, 10.0, Some("A")), (2L, 20.0, None)),
        live().toString)
      // b arrives: id 2's pad retracts, the real pair lands
      appR(Seq(("+I", 2L, "b", "B")))
      q.processAllAvailable()
      assert(live() == Seq((1L, 10.0, Some("A")), (2L, 20.0, Some("B"))),
        live().toString)
      // b retracts: id 2 falls back to the pad; id 1 deletes entirely
      appR(Seq(("-D", 3L, "b", "B")))
      appL(Seq(("-D", 3L, 1L, "a", 10.0)))
      q.processAllAvailable()
      assert(live() == Seq((2L, 20.0, None)), live().toString)
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** WHERE on the continuous join (r15 second pass): single-side
    * conjuncts push down to their side's changelog BEFORE the join
    * state (a deterministic payload predicate commutes with the
    * changelog — a retraction passes iff the row it retracts did);
    * cross-side predicates reject loudly. */
  test("continuous JOIN WHERE pushes single-side predicates to their sides") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_wjoin_l_$h"
    val rt = s"cl_wjoin_r_$h"
    val sink = s"cl_wjoin_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price DOUBLE) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, name STRING) USING parquet""")
    Seq(("+I", 1L, 1L, "a", 10.0), ("+I", 1L, 2L, "a", 20.0),
      ("+I", 1L, 3L, "b", 30.0))
      .toDF("row_kind", "cdc_ts", "id", "cust", "price")
      .createOrReplaceTempView(s"__${lt}_in")
    try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
    finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    Seq(("+I", 1L, "a", "A"), ("+I", 1L, "b", "SKIP"))
      .toDF("row_kind", "cdc_ts", "cust", "name")
      .createOrReplaceTempView(s"__${rt}_in")
    try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
    finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-wjoin").toString
    val q = Engine.sqlStreamInsert(spark, s"""INSERT INTO $sink
      SELECT l.id, r.name FROM $lt l JOIN $rt r ON l.cust = r.cust
      WHERE l.price > 15.0 AND r.name <> 'SKIP'""", ck)
    try {
      q.processAllAvailable()
      spark.catalog.refreshTable(sink)
      val live = Engine.sql(spark,
        s"SELECT id, name FROM FINAL_STATE($sink) ORDER BY id")
        .as[(Long, String)].collect().toSeq
      // price filter drops id 1; name filter drops side b entirely
      assert(live == Seq((2L, "A")), live.toString)
    } finally q.stop()
    // a cross-side WHERE conjunct is a join condition, not a filter
    val e = intercept[IllegalArgumentException] {
      Engine.sqlStreamInsert(spark, s"""INSERT INTO nowhere_w_$h
        SELECT l.id, r.name FROM $lt l JOIN $rt r ON l.cust = r.cust
        WHERE l.id > LENGTH(r.name)""", "/tmp/never-wjoin")
    }
    assert(e.getMessage.contains("one side"), e.getMessage)
    // a bare conjunct over a SHARED column name resolves on both sides
    // — ambiguous, like SQL; it must not silently filter one side
    val e2 = intercept[IllegalArgumentException] {
      Engine.sqlStreamInsert(spark, s"""INSERT INTO nowhere_w_$h
        SELECT l.id, r.name FROM $lt l JOIN $rt r ON l.cust = r.cust
        WHERE cust <> 'zzz'""", "/tmp/never-wjoin2")
    }
    assert(e2.getMessage.contains("ambiguous"), e2.getMessage)
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  test("continuous JOIN inadmissible shapes reject with the join path's error") {
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_joinneg_l_$h"
    val rt = s"cl_joinneg_r_$h"
    Seq(lt, rt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price DOUBLE) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, name STRING) USING parquet""")
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, sql, "/tmp/never-join")
      }
      assert(e.getMessage.contains(needle), s"$sql ->\n${e.getMessage}")
    }
    try {
      // outer joins are supported since the r15 second pass, but a
      // predicate on the null-padded side would erase pads — reject
      rejects(s"INSERT INTO nowhere_j_$h SELECT l.id, r.name FROM $lt l " +
        s"LEFT JOIN $rt r ON l.cust = r.cust WHERE r.name <> 'X'",
        "null-padded side")
      rejects(s"INSERT INTO nowhere_j_$h SELECT l.id, r.name FROM $lt l " +
        s"FULL JOIN $rt r ON l.cust = r.cust WHERE l.price > 5",
        "null-padded side")
      // aggregating the join is the agg-over-join route's shape now;
      // ITS inadmissible variants get that path's specific errors
      rejects(s"INSERT INTO nowhere_j_$h SELECT r.name, COUNT(*) " +
        s"FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.name",
        "alias the aggregate")
      rejects(s"INSERT INTO nowhere_j_$h SELECT r.name, SUM(DISTINCT " +
        s"l.price) AS s FROM $lt l JOIN $rt r ON l.cust = r.cust " +
        "GROUP BY r.name", "COUNT(DISTINCT")
      rejects(s"INSERT INTO nowhere_j_$h SELECT r.name, SUM(l.price + 1) " +
        s"AS s FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.name",
        "bare column")
      rejects(s"INSERT INTO nowhere_j_$h SELECT r.name, l.id, " +
        s"SUM(l.price) AS s FROM $lt l JOIN $rt r ON l.cust = r.cust " +
        "GROUP BY r.name", "not in GROUP BY")
      rejects(s"INSERT INTO nowhere_j_$h SELECT SUM(l.price) AS s " +
        s"FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.name",
        "must appear in the select list")
      rejects(s"INSERT INTO nowhere_j_$h SELECT r.name, SUM(l.price) AS s " +
        s"FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.name " +
        "HAVING MAX(l.price) > 5", "does not match any select-list")
      // nested-composition boundaries stay loud: a rank cannot nest
      // UNDER an aggregate (its upsert output would need another
      // normalize stage)...
      rejects(s"INSERT INTO nowhere_j_$h SELECT cust, SUM(price) AS s " +
        s"FROM ( SELECT *, ROW_NUMBER() OVER (PARTITION BY cust ORDER BY " +
        s"price DESC) AS rn FROM $lt ) GROUP BY cust",
        "bare column or an aggregate call")
      // ...and a nested level that does not aggregate has no pair
      // emission to chain
      rejects(s"INSERT INTO nowhere_j_$h SELECT cust, SUM(s) AS t " +
        s"FROM ( SELECT cust, price AS s FROM ( SELECT cust, " +
        s"SUM(price) AS p FROM $lt GROUP BY cust ) ) GROUP BY cust",
        "must aggregate")
      rejects(s"INSERT INTO nowhere_j_$h SELECT cust, name FROM $lt l " +
        s"JOIN $rt r ON l.cust = r.cust", "ambiguous")
      rejects(s"INSERT INTO nowhere_j_$h SELECT l.id, r.name FROM $lt l " +
        s"JOIN $rt r ON l.price < 5", "equality conjuncts only")
      rejects(s"INSERT INTO nowhere_j_$h SELECT l.id, r.name FROM $lt l " +
        s"CROSS JOIN $rt r", "no key to partition")
    } finally Seq(lt, rt).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** ONE continuous statement aggregates a two-changelog join — the
    * composed StreamExecJoin -> StreamExecGroupAggregate topology
    * (GroupAggFunction.java:43 consuming the join's retract stream):
    * the TWS join port chains into the retraction-consuming TWS group
    * aggregate, and the materialized upsert sink equals the batch
    * join+GROUP BY over the two FINAL states at every commit —
    * including a right-side update that MIGRATES rows between groups
    * and deletes that empty a group. */
  test("continuous agg over a two-changelog JOIN equals batch at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_jagg_l_$h"
    val rt = s"cl_jagg_r_$h"
    val sink = s"cl_jagg_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price DECIMAL(10,2)) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "p")
        .withColumn("price", col("p").cast("decimal(10,2)")).drop("p")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", "10.00"), ("+I", 1L, 2L, "a", "4.50"),
      ("+I", 1L, 3L, "b", "30.00"), ("+I", 1L, 4L, "c", "7.00")))
    appR(Seq(("+I", 1L, "a", "S1"), ("+I", 1L, "b", "S1"),
      ("+I", 1L, "c", "S2")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-jagg").toString
    val stmt = s"""INSERT INTO $sink
      SELECT r.seg, COUNT(*) AS n, SUM(l.price) AS total,
             MIN(l.price) AS lo, MAX(l.price) AS hi,
             COUNT(DISTINCT l.cust) AS custs, AVG(l.price) AS avgp
      FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.seg"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-sided retraction JOIN"), explained)
    assert(explained.contains("GROUP AGGREGATE"), explained)
    assert(explained.contains("upsert changelog keyed by the GROUP BY"),
      explained)
    type Row7 = (String, Long, Option[Double], Option[Double],
      Option[Double], Long, Option[Double])
    implicit val row7Enc: org.apache.spark.sql.Encoder[Row7] =
      org.apache.spark.sql.Encoders.product[(String, Long, Option[Double],
        Option[Double], Option[Double], Long, Option[Double])]
    def batchAns(): Set[Row7] = Engine.sql(spark, s"""
      SELECT r.seg, COUNT(*) AS n, CAST(SUM(l.price) AS DOUBLE) AS total,
             CAST(MIN(l.price) AS DOUBLE) AS lo,
             CAST(MAX(l.price) AS DOUBLE) AS hi,
             COUNT(DISTINCT l.cust) AS custs,
             CAST(SUM(l.price) AS DOUBLE) / COUNT(l.price) AS avgp
      FROM FINAL_STATE($lt) l JOIN FINAL_STATE($rt) r
        ON l.cust = r.cust GROUP BY r.seg""")
      .as[Row7].collect().toSet
    def streamAns(): Set[Row7] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("seg"), col("n"), col("total").cast("double"),
          col("lo").cast("double"), col("hi").cast("double"),
          col("custs"), col("avgp"))
        .as[Row7].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      // commit 2: cust a MIGRATES S1 -> S2 (right-side update moves its
      // two orders between groups); left price update for id 3
      appR(Seq(("-U", 2L, "a", "S1"), ("+U", 2L, "a", "S2")))
      appL(Seq(("-U", 2L, 3L, "b", "30.00"), ("+U", 2L, 3L, "b", "35.25")))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      // commit 3: delete cust b entirely — group S1 empties and the
      // sink must show its -D
      appR(Seq(("-D", 3L, "b", "S1")))
      appL(Seq(("-D", 3L, 4L, "c", "7.00")))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(!streamAns().exists(_._1 == "S1"), streamAns().toString)
      spark.catalog.refreshTable(sink)
      val s1Kinds = spark.table(sink).filter(col("seg") === "S1")
        .select("row_kind").as[String].collect().toSeq
      assert(s1Kinds.contains("-D"), s"S1 delete not recorded: $s1Kinds")
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** Agg over a continuous LEFT OUTER join: NULL-padded rows group
    * under the NULL grouping key (SQL GROUP BY semantics), and pad-era
    * transitions MIGRATE rows between the NULL group and their real
    * group — first match retracts the pad (NULL group shrinks), last
    * retraction restores it. */
  test("agg over a LEFT OUTER join groups pads under NULL and migrates") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_jaggo_l_$h"
    val rt = s"cl_jaggo_r_$h"
    val sink = s"cl_jaggo_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, v BIGINT) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "v")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", 10L), ("+I", 1L, 2L, "b", 20L),
      ("+I", 1L, 3L, "b", 5L)))
    appR(Seq(("+I", 1L, "a", "S1"))) // b unmatched: pads -> NULL group
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-jaggo").toString
    val stmt = s"""INSERT INTO $sink
      SELECT r.seg, COUNT(*) AS n, SUM(l.v) AS total
      FROM $lt l LEFT JOIN $rt r ON l.cust = r.cust GROUP BY r.seg"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("LEFT"), explained)
    assert(explained.contains("pad bookkeeping"), explained)
    assert(explained.contains("GROUP AGGREGATE"), explained)
    def batchAns(): Set[(Option[String], Long, Long)] = Engine.sql(spark, s"""
      SELECT r.seg, COUNT(*) AS n, SUM(l.v) AS total
      FROM FINAL_STATE($lt) l LEFT JOIN FINAL_STATE($rt) r
        ON l.cust = r.cust GROUP BY r.seg""")
      .as[(Option[String], Long, Long)].collect().toSet
    def streamAns(): Set[(Option[String], Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("seg"), col("n"), col("total").cast("long"))
        .as[(Option[String], Long, Long)].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains((None, 2L, 25L)), streamAns().toString)
      // cust b arrives: its two orders migrate NULL -> S2; cust a
      // deletes: its order migrates S1 -> NULL (pad restored)
      appR(Seq(("+I", 2L, "b", "S2"), ("-D", 2L, "a", "S1")))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns() == Set((None: Option[String], 1L, 10L),
        (Some("S2"), 2L, 25L)), streamAns().toString)
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** COUNT(DISTINCT) over ONE changelog relation: the one aggregate the
    * sign-algebra route cannot express (Spark bans distinct aggregation
    * on a streaming DataFrame) lowers onto the TWS aggregate — the
    * counted-value MapState tracks live distinct values through
    * retractions. */
  test("continuous COUNT(DISTINCT) over a changelog equals batch") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_cdist_src_$h"
    val sink = s"cl_cdist_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $src (row_kind STRING, cdc_ts BIGINT,
      g STRING, u STRING, v BIGINT) USING parquet""")
    def app(rows: Seq[(String, Long, String, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "g", "u", "v")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    app(Seq(("+I", 1L, "g1", "ua", 1L), ("+I", 1L, "g1", "ua", 2L),
      ("+I", 1L, "g1", "ub", 3L), ("+I", 1L, "g2", "uc", 4L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-cdist").toString
    val stmt = s"""INSERT INTO $sink
      SELECT g, COUNT(DISTINCT u) AS users, COUNT(*) AS n
      FROM $src GROUP BY g"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("COUNT DISTINCT via counted-value MapState"),
      explained)
    def batchAns(): Set[(String, Long, Long)] = Engine.sql(spark,
      s"SELECT g, COUNT(DISTINCT u) AS users, COUNT(*) AS n " +
        s"FROM FINAL_STATE($src) GROUP BY g")
      .as[(String, Long, Long)].collect().toSet
    def streamAns(): Set[(String, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("g"), col("users").cast("long"), col("n").cast("long"))
        .as[(String, Long, Long)].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 2L, 3L)), streamAns().toString)
      // retract ONE of ua's two rows: the distinct count must NOT drop
      app(Seq(("-D", 2L, "g1", "ua", 2L), ("+I", 2L, "g2", "uc", 5L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 2L, 2L)), streamAns().toString)
      // retract ua's LAST row: now the distinct count drops
      app(Seq(("-D", 3L, "g1", "ua", 1L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 1L, 1L)), streamAns().toString)
    } finally q.stop()
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** TWO-LEVEL rollup in ONE statement: an aggregate over an aggregate
    * subquery — the inner emits retract pairs, the outer consumes them
    * (StreamExecGroupAggregate feeding a second one). Changing a
    * sub-group's sum must retract its OLD contribution from the outer
    * SUM/MAX before adding the new one. */
  test("aggregate OVER an aggregate: two-level rollup equals batch") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_rollup_src_$h"
    val sink = s"cl_rollup_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $src (row_kind STRING, cdc_ts BIGINT,
      g STRING, sub STRING, v BIGINT) USING parquet""")
    def app(rows: Seq[(String, Long, String, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "g", "sub", "v")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    app(Seq(("+I", 1L, "g1", "a", 10L), ("+I", 1L, "g1", "a", 5L),
      ("+I", 1L, "g1", "b", 7L), ("+I", 1L, "g2", "c", 100L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-rollup").toString
    val stmt = s"""INSERT INTO $sink
      SELECT g, COUNT(*) AS subs, SUM(s) AS total, MAX(s) AS top
      FROM ( SELECT g, sub, SUM(v) AS s FROM $src GROUP BY g, sub )
      GROUP BY g"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-level continuous aggregation"), explained)
    def batchAns(): Set[(String, Long, Long, Long)] = Engine.sql(spark, s"""
      SELECT g, COUNT(*) AS subs, SUM(s) AS total, MAX(s) AS top
      FROM ( SELECT g, sub, SUM(v) AS s FROM FINAL_STATE($src)
             GROUP BY g, sub ) GROUP BY g""")
      .as[(String, Long, Long, Long)].collect().toSet
    def streamAns(): Set[(String, Long, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("g"), col("subs").cast("long"),
          col("total").cast("long"), col("top").cast("long"))
        .as[(String, Long, Long, Long)].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns() == Set(("g1", 2L, 22L, 15L), ("g2", 1L, 100L, 100L)),
        streamAns().toString)
      // sub-group g1/a shrinks 15 -> 4: the outer MAX must fall to b's 7
      app(Seq(("-D", 2L, "g1", "a", 10L), ("-U", 2L, "g1", "a", 5L),
        ("+U", 2L, "g1", "a", 4L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 2L, 11L, 7L)), streamAns().toString)
      // sub-group g1/b empties: outer COUNT drops; g2 empties entirely
      app(Seq(("-D", 3L, "g1", "b", 7L), ("-D", 3L, "g2", "c", 100L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(streamAns() == Set(("g1", 1L, 4L, 4L)), streamAns().toString)
    } finally q.stop()
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** THREE-level aggregation tree in ONE statement: each level consumes
    * the deeper level's retract pairs (the recursion in
    * innerAggRetractStream) — a leaf update must ripple through all
    * three accumulator layers. */
  test("three-level aggregation tree equals batch at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_tree3_src_$h"
    val sink = s"cl_tree3_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $src (row_kind STRING, cdc_ts BIGINT,
      g STRING, sub STRING, leaf STRING, v BIGINT) USING parquet""")
    def app(rows: Seq[(String, Long, String, String, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "g", "sub", "leaf", "v")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    app(Seq(("+I", 1L, "g1", "a", "x", 10L), ("+I", 1L, "g1", "a", "x", 5L),
      ("+I", 1L, "g1", "a", "y", 3L), ("+I", 1L, "g1", "b", "z", 7L),
      ("+I", 1L, "g2", "c", "w", 100L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-tree3").toString
    val inner2 = s"""SELECT g, sub, SUM(s1) AS s2, COUNT(*) AS leafs
      FROM ( SELECT g, sub, leaf, SUM(v) AS s1 FROM $src
             GROUP BY g, sub, leaf ) GROUP BY g, sub"""
    val stmt = s"""INSERT INTO $sink
      SELECT g, COUNT(*) AS subs, SUM(s2) AS total, MAX(s2) AS top,
             SUM(leafs) AS leaf_total
      FROM ( $inner2 ) GROUP BY g"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-level continuous aggregation") ||
      explained.contains("nested"), explained)
    def batchAns(): Set[(String, Long, Long, Long, Long)] =
      Engine.sql(spark, s"""
        SELECT g, COUNT(*) AS subs, SUM(s2) AS total, MAX(s2) AS top,
               SUM(leafs) AS leaf_total
        FROM ( SELECT g, sub, SUM(s1) AS s2, COUNT(*) AS leafs
               FROM ( SELECT g, sub, leaf, SUM(v) AS s1
                      FROM FINAL_STATE($src) GROUP BY g, sub, leaf )
               GROUP BY g, sub ) GROUP BY g""")
        .as[(String, Long, Long, Long, Long)].collect().toSet
    def streamAns(): Set[(String, Long, Long, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("g"), col("subs").cast("long"),
          col("total").cast("long"), col("top").cast("long"),
          col("leaf_total").cast("long"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 2L, 25L, 18L, 3L)),
        streamAns().toString)
      // a LEAF update ripples: (g1,a,x) 15 -> 2, so (g1,a) 18 -> 5 and
      // g1's MAX falls to b's 7
      app(Seq(("-D", 2L, "g1", "a", "x", 10L),
        ("-U", 2L, "g1", "a", "x", 5L), ("+U", 2L, "g1", "a", "x", 2L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 2L, 12L, 7L, 3L)),
        streamAns().toString)
      // leaf (g1,b,z) empties: sub b dies, g1 loses a sub and a leaf
      app(Seq(("-D", 3L, "g1", "b", "z", 7L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(streamAns().contains(("g1", 1L, 5L, 5L, 2L)),
        streamAns().toString)
    } finally q.stop()
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** Rank over a ROLLUP: the composed top-N's inner is itself a nested
    * aggregate — three TWS aggregate/rank stages chained behind the
    * source, every level in retract-pair emission except the rank's
    * upsert sink. */
  test("top-N over a two-level rollup ranks the outer groups") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_rankroll_src_$h"
    val sink = s"cl_rankroll_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $src (row_kind STRING, cdc_ts BIGINT,
      g STRING, sub STRING, v BIGINT) USING parquet""")
    def app(rows: Seq[(String, Long, String, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "g", "sub", "v")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    app(Seq(("+I", 1L, "g1", "a", 10L), ("+I", 1L, "g1", "b", 20L),
      ("+I", 1L, "g2", "c", 25L), ("+I", 1L, "g3", "d", 5L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-rankroll").toString
    val stmt = s"""INSERT INTO $sink
      SELECT g, total, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY total DESC, g ASC) AS rn
        FROM ( SELECT g, SUM(s) AS total
               FROM ( SELECT g, sub, SUM(v) AS s FROM $src GROUP BY g, sub )
               GROUP BY g )
      ) WHERE rn <= 2"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("nested continuous aggregation tree"),
      explained)
    assert(explained.contains("RetractStrategy"), explained)
    def batchAns(): Seq[(String, Long, Long)] = Engine.sql(spark, s"""
      SELECT g, total, rn FROM (
        SELECT g, total, ROW_NUMBER() OVER (ORDER BY total DESC, g ASC) AS rn
        FROM ( SELECT g, SUM(s) AS total
               FROM ( SELECT g, sub, SUM(v) AS s FROM FINAL_STATE($src)
                      GROUP BY g, sub ) GROUP BY g )
      ) WHERE rn <= 2 ORDER BY rn""")
      .as[(String, Long, Long)].collect().toSeq
    def streamAns(): Seq[(String, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("g"), col("total").cast("long"), col("rn").cast("long"))
        .orderBy(col("rn"))
        .as[(String, Long, Long)].collect().toSeq
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("g1", "g2"), streamAns().toString)
      // g3 leaps to the top; g1 shrinks below g2
      app(Seq(("+I", 2L, "g3", "e", 40L), ("-U", 2L, "g1", "b", 20L),
        ("+U", 2L, "g1", "b", 1L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("g3", "g2"), streamAns().toString)
    } finally q.stop()
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** Top-N OVER an aggregate in ONE statement (StreamExecGroupAggregate
    * -> StreamExecRank): the inner aggregate emits retract pairs
    * (-U old / +U new), the sorted rank consumes them, and the
    * materialized sink equals batch ROW_NUMBER over the final-state
    * aggregate at every commit — including leader churn and a group
    * emptying out of the ranking. An inner HAVING filters the pair
    * stream statelessly. */
  test("top-N over an aggregate in ONE statement equals batch at every commit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val src = s"cl_topnagg_src_$h"
    val sink = s"cl_topnagg_sink_$h"
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $src (row_kind STRING, cdc_ts BIGINT,
      g STRING, v BIGINT) USING parquet""")
    def app(rows: Seq[(String, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "g", "v")
        .createOrReplaceTempView(s"__${src}_in")
      try spark.sql(s"INSERT INTO $src SELECT * FROM __${src}_in"): Unit
      finally spark.catalog.dropTempView(s"__${src}_in"): Unit
    }
    app(Seq(("+I", 1L, "g1", 10L), ("+I", 1L, "g1", 20L),
      ("+I", 1L, "g2", 20L), ("+I", 1L, "g3", 4L)))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-topnagg").toString
    val stmt = s"""INSERT INTO $sink
      SELECT g, total, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY total DESC, g ASC) AS rn
        FROM ( SELECT g, SUM(v) AS total FROM $src GROUP BY g
               HAVING SUM(v) > 5 )
      ) WHERE rn <= 2"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("GROUP AGGREGATE"), explained)
    assert(explained.contains("RETRACT pair emission"), explained)
    assert(explained.contains("RetractStrategy"), explained)
    def batchAns(): Seq[(String, Long, Long)] = Engine.sql(spark, s"""
      SELECT g, total, rn FROM (
        SELECT g, total, ROW_NUMBER() OVER (ORDER BY total DESC, g ASC) AS rn
        FROM (SELECT g, SUM(v) AS total FROM FINAL_STATE($src) GROUP BY g
              HAVING SUM(v) > 5)
      ) WHERE rn <= 2 ORDER BY rn""")
      .as[(String, Long, Long)].collect().toSeq
    def streamAns(): Seq[(String, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("g"), col("total").cast("long"), col("rn").cast("long"))
        .orderBy(col("rn"))
        .as[(String, Long, Long)].collect().toSeq
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("g1", "g2"), streamAns().toString)
      // leader churn: g3 climbs past everyone (4 -> 44); g1 shrinks
      app(Seq(("+I", 2L, "g3", 40L), ("-U", 2L, "g1", 20L),
        ("+U", 2L, "g1", 1L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("g3", "g2"), streamAns().toString)
      // g2 empties entirely: falls out of the ranking; g1 (11) returns
      app(Seq(("-D", 3L, "g2", 20L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("g3", "g1"), streamAns().toString)
    } finally q.stop()
    Seq(src, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** Rank over a PLAIN join (no aggregate stage): the join port's
    * +I/-D delta stream feeds the sorted top-N state directly —
    * StreamExecJoin -> StreamExecRank. Partitioned ranking; right-side
    * re-keying migrates rows between rank partitions. */
  test("top-N over a plain join ranks the join rows per partition") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_jrank_l_$h"
    val rt = s"cl_jrank_r_$h"
    val sink = s"cl_jrank_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, price BIGINT) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "price")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", 10L), ("+I", 1L, 2L, "a", 30L),
      ("+I", 1L, 3L, "a", 20L), ("+I", 1L, 4L, "b", 50L)))
    appR(Seq(("+I", 1L, "a", "S1"), ("+I", 1L, "b", "S2")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-jrank").toString
    val stmt = s"""INSERT INTO $sink
      SELECT seg, id, price, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
          ORDER BY price DESC, id ASC) AS rn
        FROM ( SELECT r.seg, l.id, l.price
               FROM $lt l JOIN $rt r ON l.cust = r.cust )
      ) WHERE rn <= 2"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-sided retraction JOIN"), explained)
    assert(explained.contains("retract +I/-D emission"), explained)
    assert(explained.contains("RetractStrategy"), explained)
    def batchAns(): Set[(String, Long, Long, Long)] = Engine.sql(spark, s"""
      SELECT seg, id, price, rn FROM (
        SELECT seg, id, price, ROW_NUMBER() OVER (PARTITION BY seg
          ORDER BY price DESC, id ASC) AS rn
        FROM (SELECT r.seg, l.id, l.price
              FROM FINAL_STATE($lt) l JOIN FINAL_STATE($rt) r
                ON l.cust = r.cust)
      ) WHERE rn <= 2""")
      .as[(String, Long, Long, Long)].collect().toSet
    def streamAns(): Set[(String, Long, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("seg"), col("id").cast("long"),
          col("price").cast("long"), col("rn").cast("long"))
        .as[(String, Long, Long, Long)].collect().toSet
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(t => (t._1, t._2, t._4)) ==
        Set(("S1", 2L, 1L), ("S1", 3L, 2L), ("S2", 4L, 1L)),
        streamAns().toString)
      // cust a migrates S1 -> S2: its three orders re-rank against b's
      appR(Seq(("-D", 2L, "a", "S1"), ("+I", 2L, "a", "S2")))
      appL(Seq(("-D", 2L, 4L, "b", 50L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(t => (t._1, t._2, t._4)) ==
        Set(("S2", 2L, 1L), ("S2", 3L, 2L)), streamAns().toString)
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** The full composed chain — FOUR stateful operators in ONE
    * statement: ChangelogNormalize (DECLARED UPSERT right side) ->
    * two-sided retraction JOIN -> retraction-consuming GROUP AGGREGATE
    * (retract pairs) -> sorted top-N. Group migration on the right
    * side reshuffles the ranking; every commit equals batch. */
  test("normalize -> join -> agg -> rank: four chained stateful operators") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_chain4_l_$h"
    val rt = s"cl_chain4_r_$h"
    val sink = s"cl_chain4_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, v BIGINT) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    spark.sql(s"ALTER TABLE $rt SET TBLPROPERTIES " +
      "('graft.upsert.keys' = 'cust')")
    def appL(rows: Seq[(String, Long, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "v")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", 10L), ("+I", 1L, 2L, "a", 20L),
      ("+I", 1L, 3L, "b", 25L), ("+I", 1L, 4L, "c", 7L)))
    appR(Seq(("+U", 1L, "a", "S1"), ("+U", 1L, "b", "S2"),
      ("+U", 1L, "c", "S3")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-chain4").toString
    val stmt = s"""INSERT INTO $sink
      SELECT seg, rev, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
        FROM ( SELECT r.seg, SUM(l.v) AS rev
               FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.seg )
      ) WHERE rn <= 2"""
    val explained = Engine.sql(spark, s"EXPLAIN CHANGELOG_MODE $stmt")
      .as[String].collect().head
    assert(explained.contains("two-sided retraction JOIN"), explained)
    assert(explained.contains("GROUP AGGREGATE"), explained)
    assert(explained.contains("RetractStrategy"), explained)
    def batchAns(): Seq[(String, Long, Long)] = Engine.sql(spark, s"""
      SELECT seg, rev, rn FROM (
        SELECT seg, rev, ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
        FROM (SELECT r.seg, SUM(l.v) AS rev
              FROM FINAL_STATE($lt) l JOIN FINAL_STATE($rt) r
                ON l.cust = r.cust GROUP BY r.seg)
      ) WHERE rn <= 2 ORDER BY rn""")
      .as[(String, Long, Long)].collect().toSeq
    def streamAns(): Seq[(String, Long, Long)] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("seg"), col("rev").cast("long"), col("rn").cast("long"))
        .orderBy(col("rn"))
        .as[(String, Long, Long)].collect().toSeq
    val q = Engine.sqlStreamInsert(spark, stmt, ck)
    try {
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c1: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("S1", "S2"), streamAns().toString)
      // cust a RE-SEGMENTS S1 -> S3 through the normalize chain: S3
      // absorbs a's 30, S1 empties out of the ranking
      appR(Seq(("+U", 2L, "a", "S3")))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c2: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("S3", "S2"), streamAns().toString)
      // delete order 3: S2 shrinks to 0 rows and leaves the rank
      appL(Seq(("-D", 3L, 3L, "b", 25L)))
      q.processAllAvailable()
      assert(streamAns() == batchAns(), s"c3: ${streamAns()} != ${batchAns()}")
      assert(streamAns().map(_._1) == Seq("S3"), streamAns().toString)
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** CHECKPOINT RECOVERY of the COMPOSED chain: the four-operator
    * statement (normalize -> join -> agg -> rank) must resume from one
    * checkpoint — the second incarnation applies a group migration and
    * a delete against the RESTORED state of all four operators (the
    * normalize keep-last entry, both join multisets, the group
    * accumulators, the rank's sorted state). Losing any one layer
    * breaks the final ranking. */
  test("the composed join->agg->rank chain resumes from its checkpoint") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode) + 7
    val lt = s"cl_chainrc_l_$h"
    val rt = s"cl_chainrc_r_$h"
    val sink = s"cl_chainrc_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, v BIGINT) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    spark.sql(s"ALTER TABLE $rt SET TBLPROPERTIES " +
      "('graft.upsert.keys' = 'cust')")
    def appL(rows: Seq[(String, Long, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "v")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-chainrc").toString
    val stmt = s"""INSERT INTO $sink
      SELECT seg, rev, rn FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
        FROM ( SELECT r.seg, SUM(l.v) AS rev
               FROM $lt l JOIN $rt r ON l.cust = r.cust GROUP BY r.seg )
      ) WHERE rn <= 2"""
    appL(Seq(("+I", 1L, 1L, "a", 10L), ("+I", 1L, 2L, "a", 20L),
      ("+I", 1L, 3L, "b", 25L), ("+I", 1L, 4L, "c", 7L)))
    appR(Seq(("+U", 1L, "a", "S1"), ("+U", 1L, "b", "S2"),
      ("+U", 1L, "c", "S3")))
    val q1 = Engine.sqlStreamInsert(spark, stmt, ck)
    try q1.processAllAvailable()
    finally q1.stop()
    // between incarnations: cust a RE-SEGMENTS S1 -> S3 (exercises the
    // restored normalize entry AND the join's right multiset) and an
    // order deletes (exercises the restored left multiset + agg + rank)
    appR(Seq(("+U", 2L, "a", "S3")))
    appL(Seq(("-D", 2L, 3L, "b", 25L)))
    val q2 = Engine.sqlStreamInsert(spark, stmt, ck)
    try q2.processAllAvailable()
    finally q2.stop()
    val batch = Engine.sql(spark, s"""
      SELECT seg, rev, rn FROM (
        SELECT seg, rev, ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
        FROM (SELECT r.seg, SUM(l.v) AS rev
              FROM FINAL_STATE($lt) l JOIN FINAL_STATE($rt) r
                ON l.cust = r.cust GROUP BY r.seg)
      ) WHERE rn <= 2 ORDER BY rn""")
      .as[(String, Long, Long)].collect().toSeq
    val stream = ChangelogSql.materializeUpsertSink(spark, sink)
      .select(col("seg"), col("rev").cast("long"), col("rn").cast("long"))
      .orderBy(col("rn"))
      .as[(String, Long, Long)].collect().toSeq
    assert(stream == batch, s"post-restart: $stream != $batch")
    assert(stream.map(_._1) == Seq("S3"),
      s"S3 must be the only surviving ranked segment: $stream")
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }

  /** HAVING over the composed join+aggregate: the predicate evaluates
    * on the refreshed aggregate row (rewritten onto the output columns
    * — by matching the select list's aggregate text AND by alias), and
    * a live group leaving the HAVING set emits a DELETE. */
  test("agg-over-join HAVING tracks set entry and exit") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val lt = s"cl_jagghav_l_$h"
    val rt = s"cl_jagghav_r_$h"
    val sink = s"cl_jagghav_sink_$h"
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"""CREATE TABLE $lt (row_kind STRING, cdc_ts BIGINT,
      id BIGINT, cust STRING, v BIGINT) USING parquet""")
    spark.sql(s"""CREATE TABLE $rt (row_kind STRING, cdc_ts BIGINT,
      cust STRING, seg STRING) USING parquet""")
    def appL(rows: Seq[(String, Long, Long, String, Long)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "id", "cust", "v")
        .createOrReplaceTempView(s"__${lt}_in")
      try spark.sql(s"INSERT INTO $lt SELECT * FROM __${lt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${lt}_in"): Unit
    }
    def appR(rows: Seq[(String, Long, String, String)]): Unit = {
      rows.toDF("row_kind", "cdc_ts", "cust", "seg")
        .createOrReplaceTempView(s"__${rt}_in")
      try spark.sql(s"INSERT INTO $rt SELECT * FROM __${rt}_in"): Unit
      finally spark.catalog.dropTempView(s"__${rt}_in"): Unit
    }
    appL(Seq(("+I", 1L, 1L, "a", 10L), ("+I", 1L, 2L, "a", 20L),
      ("+I", 1L, 3L, "b", 5L)))
    appR(Seq(("+I", 1L, "a", "S1"), ("+I", 1L, "b", "S2")))
    val ck = java.nio.file.Files.createTempDirectory("graft-cl-jagghav").toString
    // HAVING references the aggregate by its select-list expression
    val q = Engine.sqlStreamInsert(spark, s"""INSERT INTO $sink
      SELECT r.seg, SUM(l.v) AS total
      FROM $lt l JOIN $rt r ON l.cust = r.cust
      GROUP BY r.seg HAVING SUM(l.v) >= 25""", ck)
    def live(): Map[String, Long] =
      ChangelogSql.materializeUpsertSink(spark, sink)
        .select(col("seg"), col("total").cast("long"))
        .as[(String, Long)].collect().toMap
    try {
      q.processAllAvailable()
      assert(live() == Map("S1" -> 30L), live().toString) // S2 (5) below cut
      // S2 climbs into the set; S1 falls out (still LIVE, just filtered)
      appL(Seq(("+I", 2L, 4L, "b", 40L), ("-U", 2L, 2L, "a", 20L),
        ("+U", 2L, 2L, "a", 1L)))
      q.processAllAvailable()
      assert(live() == Map("S2" -> 45L), live().toString)
      spark.catalog.refreshTable(sink)
      val s1Kinds = spark.table(sink).filter(col("seg") === "S1")
        .select("row_kind").as[String].collect().toSeq
      assert(s1Kinds.contains("-D"), s"set-exit delete missing: $s1Kinds")
    } finally q.stop()
    Seq(lt, rt, sink).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"): Unit)
  }
}
