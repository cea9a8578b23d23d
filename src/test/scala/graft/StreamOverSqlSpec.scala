package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time OVER through the streaming SQL front door
  * (StreamExecOverAggregate role): `SUM(v) OVER (PARTITION BY k ORDER BY
  * rowtime <frame>)` in a continuous INSERT must produce exactly the
  * batch window-function result once the watermark has passed every row
  * — for the unbounded, ROWS-bounded and RANGE-bounded frames. */
class StreamOverSqlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val h = math.abs(getClass.getName.hashCode)

  private def runOne(tag: String, overClause: String,
      batchFrame: org.apache.spark.sql.expressions.WindowSpec,
      tied: Boolean = false): Unit = {
    val (src, sink) = (s"ovr_src_${tag}_$h", s"ovr_sink_${tag}_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    // 5-MINUTE delay, not seconds: the file source can pick up a
    // multi-file INSERT across TWO micro-batches (the query polls while
    // the write is in flight), and with a tight delay the first file's
    // max ts would mark the second file's earlier rows late. The slack
    // makes any intra-insert split harmless; release still comes from
    // the 01:00/02:00 clock rows, which sit > delay past the cutoff.
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark,
      s"CREATE TABLE $sink (k BIGINT, ts TIMESTAMP, v DOUBLE, agg DOUBLE) USING parquet")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-over-$tag").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, ts, v, SUM(v) OVER (PARTITION BY k ORDER BY ts $overClause) AS agg
      FROM $src WHERE v < 900""", ckpt)
    try {
      // the junk v=5000 row exercises the WHERE path; it is filtered
      // BELOW the watermark node (see StreamOverSql scaladoc) so it
      // cannot be the clock — the watermark-advancing rows pass WHERE
      // the tied pair at 00:00:05 exercises SQL peer semantics: under a
      // RANGE frame (incl. the default) both rows must read one value
      val tieRow = if (tied) ",\n        (1, 3.5, TIMESTAMP '2024-01-01 00:00:05')" else ""
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 10.0, TIMESTAMP '2024-01-01 00:00:01'),
        (1, 2.5,  TIMESTAMP '2024-01-01 00:00:05'),
        (1, 5000.0, TIMESTAMP '2024-01-01 00:00:06'),
        (2, 7.0,  TIMESTAMP '2024-01-01 00:00:03')$tieRow""")
      // twice: the watermark computed at batch end only takes effect in
      // the NEXT (possibly no-data) batch, and processAllAvailable can
      // return between the two — the second call closes that race
      q.processAllAvailable(); q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 4.0,  TIMESTAMP '2024-01-01 00:01:30'),
        (2, 1.0,  TIMESTAMP '2024-01-01 00:01:40')""")
      q.processAllAvailable(); q.processAllAvailable()
      // two watermark-advancing batches (in-WHERE rows): the first makes
      // the real rows releasable, the second triggers their release; the
      // final clock row itself can never release, so both sides compare
      // below the cutoff
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (7, 0.0, TIMESTAMP '2024-01-01 01:00:00')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (7, 0.0, TIMESTAMP '2024-01-01 02:00:00')""")
      q.processAllAvailable(); q.processAllAvailable()

      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
      val got = spark.table(sink)
        .select("k", "ts", "v", "agg")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getDouble(2), r.getDouble(3))).filter(_._2 < cutoff).toSet
      val want = WatermarkDdl.read(spark, src).filter(col("v") < 900)
        .select(col("k"), col("ts"), col("v"),
          sum("v").over(batchFrame).as("agg"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getDouble(2), r.getDouble(3))).filter(_._2 < cutoff).toSet
      assert(got == want && want.size == (if (tied) 6 else 5),
        s"[$tag] stream $got != batch $want")
    } finally {
      q.stop()
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("unbounded running SUM equals the batch window result") {
    runOne("unb", "",
      Window.partitionBy("k").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  test("ROWS n PRECEDING frame equals the batch window result") {
    runOne("rows", "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
      Window.partitionBy("k").orderBy("ts").rowsBetween(-1, 0))
  }

  test("RANGE interval PRECEDING frame equals the batch window result") {
    runOne("range", "RANGE BETWEEN INTERVAL '90' SECOND PRECEDING AND CURRENT ROW",
      Window.partitionBy("k").orderBy(col("ts").cast("long") * 1000)
        .rangeBetween(-90000, 0))
  }

  test("tied rowtimes share the default (RANGE unbounded) frame value") {
    // no frame clause = SQL's RANGE UNBOUNDED PRECEDING: the batch side
    // uses the same default frame, so the tied pair must read one value
    // on both sides — this is the Flink RowTimeRangeUnboundedPreceding
    // peer rule the row-at-a-time running sum would get wrong
    runOne("tieunb", "", Window.partitionBy("k").orderBy("ts"), tied = true)
  }

  test("tied rowtimes share a bounded RANGE frame value") {
    runOne("tierng", "RANGE BETWEEN INTERVAL '90' SECOND PRECEDING AND CURRENT ROW",
      Window.partitionBy("k").orderBy(col("ts").cast("long") * 1000)
        .rangeBetween(-90000, 0), tied = true)
  }

  test("non-partitioned OVER: global running sum equals the batch window") {
    val (src, sink) = (s"ovr_src_glob_$h", s"ovr_sink_glob_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark,
      s"CREATE TABLE $sink (ts TIMESTAMP, v DOUBLE, agg DOUBLE) USING parquet")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-over-glob").toString
    // no PARTITION BY: one global state key, Flink's non-partitioned OVER
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT ts, v, SUM(v) OVER (ORDER BY ts) AS agg FROM $src""", ckpt)
    try {
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 10.0, TIMESTAMP '2024-01-01 00:00:01'),
        (2, 7.0,  TIMESTAMP '2024-01-01 00:00:03'),
        (1, 2.5,  TIMESTAMP '2024-01-01 00:00:05')""")
      q.processAllAvailable(); q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.5, TIMESTAMP '2024-01-01 01:00:00')")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.5, TIMESTAMP '2024-01-01 02:00:00')")
      q.processAllAvailable(); q.processAllAvailable()
      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
      val got = spark.table(sink).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2)))
        .filter(_._1 < cutoff).toSet
      val want = WatermarkDdl.read(spark, src)
        .select(col("ts"), col("v"),
          sum("v").over(Window.orderBy("ts")).as("agg"))
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getDouble(2)))
        .filter(_._1 < cutoff).toSet
      assert(got == want && want.size == 3, s"global stream $got != batch $want")
    } finally {
      q.stop()
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("fused OVER lowering on the RocksDB provider equals the batch window result") {
    // same end-to-end harness, default RANGE frame with tied rowtimes:
    // the fused pass on the RocksDB store must produce the identical
    // batch-window result
    TestSpark.withRocksDB {
      runOne("twsroute", "", Window.partitionBy("k").orderBy("ts"), tied = true)
    }
  }

  test("PROCTIME() attribute: ORDER BY pt runs the arrival-order executors") {
    val (src, sink) = (s"ovr_src_pt_$h", s"ovr_sink_pt_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    // pt is a PROCTIME() computed column — no WATERMARK declared at all
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, pt AS PROCTIME())""")
    Engine.sql(spark,
      s"CREATE TABLE $sink (k BIGINT, v DOUBLE, agg DOUBLE) USING parquet")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-over-pt").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, v, SUM(v) OVER (PARTITION BY k ORDER BY pt
        ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS agg FROM $src""", ckpt)
    try {
      // one row per key per insert: per-key arrival order is insert order
      // no matter how the file source batches the files
      Engine.sql(spark, s"INSERT INTO $src VALUES (1, 10.0), (2, 5.0)")
      q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (1, 2.0), (2, 1.0)")
      q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (1, 4.0)")
      q.processAllAvailable()
      val got = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      // ROWS 1 PRECEDING over arrival order — emitted immediately, no
      // watermark ever needed
      assert(got == Set((1L, 10.0, 10.0), (1L, 2.0, 12.0), (1L, 4.0, 6.0),
        (2L, 5.0, 5.0), (2L, 1.0, 6.0)), s"proc-time stream: $got")
    } finally {
      q.stop()
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("multiple aggregates share one window: SUM + COUNT + AVG in one pass") {
    val (src, sink) = (s"ovr_src_multi_$h", s"ovr_sink_multi_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    // same 5-minute slack as runOne: immune to intra-insert batch splits
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark, s"""CREATE TABLE $sink
      (k BIGINT, ts TIMESTAMP, s DOUBLE, c BIGINT, a DOUBLE,
       lo DOUBLE, hi DOUBLE) USING parquet""")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-over-multi").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, ts,
             SUM(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s,
             COUNT(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS c,
             AVG(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS a,
             MIN(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lo,
             MAX(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS hi
      FROM $src""", ckpt)
    try {
      // the NULL row exercises SQL's NULL-ignoring aggregates: it joins
      // the frame but contributes to neither SUM nor COUNT(v) nor AVG;
      // key 3's lone NULL row is the all-NULL frame — every aggregate
      // except COUNT must read NULL (SUM included, the exact-SQL corner)
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 10.0, TIMESTAMP '2024-01-01 00:00:01'),
        (1, CAST(NULL AS DOUBLE), TIMESTAMP '2024-01-01 00:00:02'),
        (1, 2.0,  TIMESTAMP '2024-01-01 00:00:05'),
        (2, 7.0,  TIMESTAMP '2024-01-01 00:00:03'),
        (3, CAST(NULL AS DOUBLE), TIMESTAMP '2024-01-01 00:00:04')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 4.0, TIMESTAMP '2024-01-01 00:01:30')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.0, TIMESTAMP '2024-01-01 01:00:00')")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.0, TIMESTAMP '2024-01-01 02:00:00')")
      q.processAllAvailable(); q.processAllAvailable()

      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
      def rowOf(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1).getTime,
          if (r.isNullAt(2)) null else r.getDouble(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5),
          if (r.isNullAt(6)) null else r.getDouble(6))
      val got = spark.table(sink).collect().map(rowOf).filter(_._2 < cutoff).toSet
      val w = Window.partitionBy("k").orderBy("ts").rowsBetween(-2, 0)
      val want = WatermarkDdl.read(spark, src)
        .select(col("k"), col("ts"), sum("v").over(w).as("s"),
          count("v").over(w).as("c"), avg("v").over(w).as("a"),
          min("v").over(w).as("lo"), max("v").over(w).as("hi"))
        .collect().map(rowOf).filter(_._2 < cutoff).toSet
      assert(got == want && want.size == 6, s"multi-agg stream $got != batch $want")
    } finally {
      q.stop()
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("different frames per OVER item: one fused pass, per-slot windows " +
      "+ FIRST_VALUE/LAST_VALUE") {
    // r8: every item carries its OWN frame (Slots.Multi — the reference's
    // StreamExecOverAggregate multi-window support, fused into a single
    // operator instead of its chained ones), plus the FIRST_VALUE /
    // LAST_VALUE slots (reference FirstValue/LastValueAggFunction: IGNORE
    // NULLS — the batch side says so explicitly for the same result)
    val (src, sink) = (s"ovr_src_mf_$h", s"ovr_sink_mf_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark, s"""CREATE TABLE $sink
      (k BIGINT, ts TIMESTAMP, s2 DOUBLE, cu BIGINT, ar DOUBLE,
       fv DOUBLE, lv DOUBLE) USING parquet""")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-over-mf").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, ts,
             SUM(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s2,
             COUNT(v) OVER (PARTITION BY k ORDER BY ts) AS cu,
             AVG(v) OVER (PARTITION BY k ORDER BY ts RANGE BETWEEN INTERVAL '90' SECOND PRECEDING AND CURRENT ROW) AS ar,
             FIRST_VALUE(v) OVER (PARTITION BY k ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fv,
             LAST_VALUE(v) IGNORE NULLS OVER (PARTITION BY k ORDER BY ts) AS lv
      FROM $src""", ckpt)
    try {
      // NULL rows exercise the NULL-ignoring slots across ALL frames at
      // once; key 3's lone NULL row is the all-NULL frame for each
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 10.0, TIMESTAMP '2024-01-01 00:00:01'),
        (1, CAST(NULL AS DOUBLE), TIMESTAMP '2024-01-01 00:00:02'),
        (1, 2.0,  TIMESTAMP '2024-01-01 00:00:05'),
        (2, 7.0,  TIMESTAMP '2024-01-01 00:00:03'),
        (3, CAST(NULL AS DOUBLE), TIMESTAMP '2024-01-01 00:00:04')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 4.0, TIMESTAMP '2024-01-01 00:01:30')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.0, TIMESTAMP '2024-01-01 01:00:00')")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"INSERT INTO $src VALUES (7, 0.0, TIMESTAMP '2024-01-01 02:00:00')")
      q.processAllAvailable(); q.processAllAvailable()

      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
      def rowOf(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1).getTime,
          if (r.isNullAt(2)) null else r.getDouble(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5),
          if (r.isNullAt(6)) null else r.getDouble(6))
      val got = spark.table(sink).collect().map(rowOf).filter(_._2 < cutoff).toSet
      val wRows2 = Window.partitionBy("k").orderBy("ts").rowsBetween(-2, 0)
      val wUnb = Window.partitionBy("k").orderBy("ts")
      val wRng90 = Window.partitionBy("k").orderBy(col("ts").cast("long") * 1000)
        .rangeBetween(-90000, 0)
      val want = WatermarkDdl.read(spark, src)
        .select(col("k"), col("ts"),
          sum("v").over(wRows2).as("s2"),
          count("v").over(wUnb).as("cu"),
          avg("v").over(wRng90).as("ar"),
          first(col("v"), ignoreNulls = true).over(wRows2).as("fv"),
          last(col("v"), ignoreNulls = true).over(wUnb).as("lv"))
        .collect().map(rowOf).filter(_._2 < cutoff).toSet
      assert(got == want && want.size == 6,
        s"multi-frame stream $got != batch $want")
    } finally {
      q.stop()
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("mismatched PARTITION BY / RESPECT NULLS are rejected loudly") {
    val (src, sink) = (s"ovr_src_mm_$h", s"ovr_sink_mm_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)""")
    try {
      // differing PARTITION BY -> matches() is false -> falls through to
      // spark.sql -> Spark's own streaming planner rejects the window
      // (frames may differ since r8, partition/order may not)
      val e = intercept[Exception] {
        val q = Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS s,
                 SUM(v) OVER (ORDER BY ts) AS s2
          FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-mm").toString)
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage != null)
      // RESPECT NULLS cannot ride the NaN-sentinel encoding and differs
      // from the reference's IGNORE-NULLS aggregates: rejected in lower()
      val e2 = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, FIRST_VALUE(v) RESPECT NULLS OVER (PARTITION BY k ORDER BY ts) AS f
          FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-rn").toString)
      }
      assert(e2.getMessage.contains("RESPECT NULLS"), e2.getMessage)
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    }
  }

  test("unsupported shapes are rejected loudly") {
    val (src, sink) = (s"ovr_src_rej_$h", s"ovr_sink_rej_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)""")
    try {
      // ORDER BY must be the declared watermark attribute
      val e1 = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY v) AS agg FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-rej").toString)
      }
      assert(e1.getMessage.contains("WATERMARK column"))
      // COUNT's 0/1 indicator slot is NOT the value: an expression
      // aggregated only by COUNT cannot be projected as data
      val eCnt = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, v, COUNT(v) OVER (PARTITION BY k ORDER BY ts) AS c FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-rejc").toString)
      }
      assert(eCnt.getMessage.contains("COUNT-only doesn't"))
      // explicit duplicate aliases would collide in the sink
      val eDup = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS a,
                 COUNT(v) OVER (PARTITION BY k ORDER BY ts) AS a FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-rejd").toString)
      }
      assert(eDup.getMessage.contains("duplicate OVER output aliases"))
      // arbitrary extra select items are out of the supported shape
      val e2 = intercept[IllegalArgumentException] {
        Engine.sqlStreamInsert(spark, s"""
          INSERT INTO $sink
          SELECT k, v + 1 AS w, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS agg
          FROM $src""",
          java.nio.file.Files.createTempDirectory("graft-over-rej2").toString)
      }
      assert(e2.getMessage.contains("select items"))
      // positive counterpart: an expression aggregated ONLY by MIN is
      // still projectable — its slot carries the value itself
      Engine.sql(spark,
        s"CREATE TABLE $sink (k BIGINT, v DOUBLE, lo DOUBLE) USING parquet")
      val ok = Engine.sqlStreamInsert(spark, s"""
        INSERT INTO $sink
        SELECT k, v, MIN(v) OVER (PARTITION BY k ORDER BY ts) AS lo FROM $src""",
        java.nio.file.Files.createTempDirectory("graft-over-okmin").toString)
      ok.stop()
    } finally {
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("NaN data input fails eagerly (sentinel ambiguity guard)") {
    val (src, sink) = (s"ovr_src_nan_$h", s"ovr_sink_nan_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '1' SECOND)""")
    Engine.sql(spark,
      s"CREATE TABLE $sink (k BIGINT, ts TIMESTAMP, v DOUBLE, agg DOUBLE) USING parquet")
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, ts, v, SUM(v) OVER (PARTITION BY k ORDER BY ts) AS agg
      FROM $src""",
      java.nio.file.Files.createTempDirectory("graft-over-nan").toString)
    try {
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, CAST('NaN' AS DOUBLE), TIMESTAMP '2024-01-01 00:00:01')""")
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("NaN input")),
        s"expected the eager NaN guard, got: ${messages(e)}")
    } finally {
      try q.stop() catch { case _: Exception => () }
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }
  test("multi-spec OVER: different PARTITION BY per item runs as chained passes") {
    // round-9: the last StreamExecOverAggregate gap — several window
    // SPECS in one statement (per-key, per-group AND non-partitioned),
    // lowered onto chained transformWithState passes re-keyed per spec;
    // exact stream==batch equality once the watermark passes every row
    val (src, sink) = (s"ovr_src_multi_$h", s"ovr_sink_multi_$h")
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val prevP = spark.conf.getOption(pKey)
    spark.conf.set(pKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, g STRING, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark, s"""CREATE TABLE $sink (k BIGINT, g STRING, ts TIMESTAMP,
      per_k DOUBLE, per_g BIGINT, gmax DOUBLE, kfirst DOUBLE, grng DOUBLE)
      USING parquet""")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-over-multi").toString
    val q = Engine.sqlStreamInsert(spark, s"""
      INSERT INTO $sink
      SELECT k, g, ts,
             SUM(v) OVER (PARTITION BY k ORDER BY ts) AS per_k,
             COUNT(*) OVER (PARTITION BY g ORDER BY ts
                            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS per_g,
             MAX(v) OVER (ORDER BY ts) AS gmax,
             FIRST_VALUE(v) OVER (PARTITION BY k ORDER BY ts) AS kfirst,
             SUM(v) OVER (PARTITION BY g ORDER BY ts
                          RANGE BETWEEN INTERVAL '1' MINUTE PRECEDING
                          AND CURRENT ROW) AS grng
      FROM $src""", ckpt)
    try {
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 'a', 10.0, TIMESTAMP '2024-01-01 00:00:01'),
        (2, 'a', 7.0,  TIMESTAMP '2024-01-01 00:00:03'),
        (1, 'b', 2.5,  TIMESTAMP '2024-01-01 00:00:05'),
        (2, 'b', 1.0,  TIMESTAMP '2024-01-01 00:00:07')""")
      q.processAllAvailable(); q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (1, 'a', 4.0, TIMESTAMP '2024-01-01 00:01:30')""")
      q.processAllAvailable(); q.processAllAvailable()
      // a partition value CONTAINING the composite-key separator byte
      // (\\u0001) must not desync the chained re-keying (components are
      // base64-encoded)
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (9, 'a' || chr(1) || 'b', 3.0, TIMESTAMP '2024-01-01 00:02:00')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (7, 'x', 0.0, TIMESTAMP '2024-01-01 01:00:00')""")
      q.processAllAvailable(); q.processAllAvailable()
      Engine.sql(spark, s"""INSERT INTO $src VALUES
        (7, 'x', 0.0, TIMESTAMP '2024-01-01 02:00:00')""")
      q.processAllAvailable(); q.processAllAvailable()
      val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2).getTime, r.getDouble(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))
        .filter(_._3 < cutoff).toSet
      val got = canon(spark.table(sink)
        .select("k", "g", "ts", "per_k", "per_g", "gmax", "kfirst", "grng"))
      val rangeMs = 60000L
      val want = canon(WatermarkDdl.read(spark, src).select(col("k"), col("g"), col("ts"),
        sum("v").over(Window.partitionBy("k").orderBy("ts")).as("per_k"),
        count(lit(1)).over(Window.partitionBy("g").orderBy("ts")
          .rowsBetween(-1, 0)).as("per_g"),
        max("v").over(Window.orderBy("ts")).as("gmax"),
        first("v", ignoreNulls = true).over(Window.partitionBy("k")
          .orderBy("ts")).as("kfirst"),
        sum("v").over(Window.partitionBy("g")
          .orderBy(col("ts").cast("long") * 1000)
          .rangeBetween(-rangeMs, 0)).as("grng")))
      assert(want.size == 6, s"fixture drift: $want")
      assert(want.exists(_._2 == "a\u0001b"),
        s"separator-byte key missing from the batch oracle: $want")
      assert(got == want, s"chained multi-spec OVER diverged:\n$got\nvs\n$want")
    } finally {
      q.stop()
      prevP match {
        case Some(v) => spark.conf.set(pKey, v)
        case None => spark.conf.unset(pKey)
      }
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    }
  }

  test("multi-spec OVER without the RocksDB provider rejects loudly") {
    val (src, sink) = (s"ovr_src_mrej_$h", s"ovr_sink_mrej_$h")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
    Engine.sql(spark, s"""
      CREATE TABLE $src (k BIGINT, g STRING, v DOUBLE, ts TIMESTAMP,
        WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
    Engine.sql(spark,
      s"CREATE TABLE $sink (a DOUBLE, b DOUBLE) USING parquet")
    val e = intercept[IllegalArgumentException] {
      Engine.sqlStreamInsert(spark, s"""
        INSERT INTO $sink
        SELECT SUM(v) OVER (PARTITION BY k ORDER BY ts) AS a,
               SUM(v) OVER (PARTITION BY g ORDER BY ts) AS b
        FROM $src""",
        java.nio.file.Files.createTempDirectory("graft-over-mrej").toString)
    }
    assert(e.getMessage.contains("RocksDB"),
      s"expected the RocksDB-provider guidance, got: ${e.getMessage}")
    Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
    Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
    Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
  }

  /** Geometric mean as a user-defined OVER aggregate: accumulator =
    * (Σ ln x, count), finish = exp(Σ/count) — batch equivalent
    * EXP(AVG(LN(v)) OVER w), identical double arithmetic (same sum
    * order), so equality is EXACT. finish(zero) = NaN per the OverAgg
    * NULL contract. */
  private object GeoMean extends graft.streaming.StatefulOps.OverAgg {
    val size = 2
    def zero: Array[Double] = Array(0.0, 0.0)
    // StrictMath, not math.*: Spark's LOG/EXP expressions evaluate via
    // StrictMath, and the two differ by an ulp on some inputs — the
    // exact-equality contract needs identical primitives
    def reduce(b: Array[Double], x: Double): Unit = {
      b(0) += StrictMath.log(x); b(1) += 1.0
    }
    def finish(b: Array[Double]): Double =
      if (b(1) == 0.0) Double.NaN else StrictMath.exp(b(0) / b(1))
  }

  test("registerAggregate validates the OverAgg contract at registration") {
    val bad = new graft.streaming.StatefulOps.OverAgg {
      val size = 2
      def zero: Array[Double] = Array(0.0, 0.0, 0.0) // wrong width
      def reduce(b: Array[Double], x: Double): Unit = ()
      def finish(b: Array[Double]): Double = Double.NaN
    }
    val e = intercept[IllegalArgumentException] {
      StreamOverSql.registerAggregate("BAD_AGG", bad)
    }
    assert(e.getMessage.contains("zero.length"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      StreamOverSql.registerAggregate("SUM", GeoMean)
    }
    assert(e2.getMessage.contains("built-in"), e2.getMessage)
  }

  test("user-defined GEO_MEAN OVER aggregate: stream == batch exactly, " +
      "unbounded accumulator-region and bounded re-fold frames") {
    StreamOverSql.registerAggregate("GEO_MEAN", GeoMean)
    val cases = Seq(
      // default frame: RANGE UNBOUNDED — the permanent accumulator
      // REGION path (custom buffer rides the acc state, O(size) per key)
      ("udau", "", (w: org.apache.spark.sql.expressions.WindowSpec) =>
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)),
      // bounded ROWS frame — the retention-buffer re-fold path
      ("udar", "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
        (w: org.apache.spark.sql.expressions.WindowSpec) => w.rowsBetween(-2, 0)))
    cases.foreach { case (tag, overClause, frameOf) =>
      val (src, sink) = (s"ovr_src_${tag}_$h", s"ovr_sink_${tag}_$h")
      Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
      Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
      Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
      Engine.sql(spark, s"""
        CREATE TABLE $src (k BIGINT, v DOUBLE, ts TIMESTAMP,
          WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)""")
      Engine.sql(spark, s"CREATE TABLE $sink " +
        "(k BIGINT, ts TIMESTAMP, v DOUBLE, s DOUBLE, g DOUBLE) USING parquet")
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-over-$tag").toString
      // SUM + GEO_MEAN fused in ONE statement: the custom buffer region
      // sits AFTER the scalar slots in the shared accumulator layout
      val q = Engine.sqlStreamInsert(spark, s"""
        INSERT INTO $sink
        SELECT k, ts, v,
               SUM(v) OVER (PARTITION BY k ORDER BY ts $overClause) AS s,
               GEO_MEAN(v) OVER (PARTITION BY k ORDER BY ts $overClause) AS g
        FROM $src""", ckpt)
      try {
        Engine.sql(spark, s"""INSERT INTO $src VALUES
          (1, 10.0, TIMESTAMP '2024-01-01 00:00:01'),
          (1, 2.5,  TIMESTAMP '2024-01-01 00:00:05'),
          (1, 40.0, TIMESTAMP '2024-01-01 00:00:09'),
          (1, 0.25, TIMESTAMP '2024-01-01 00:00:13'),
          (2, 7.0,  TIMESTAMP '2024-01-01 00:00:03')""")
        q.processAllAvailable(); q.processAllAvailable(); q.processAllAvailable()
        Engine.sql(spark, s"""INSERT INTO $src VALUES
          (7, 1.0, TIMESTAMP '2024-01-01 01:00:00')""")
        q.processAllAvailable(); q.processAllAvailable()
        Engine.sql(spark, s"""INSERT INTO $src VALUES
          (7, 1.0, TIMESTAMP '2024-01-01 02:00:00')""")
        q.processAllAvailable(); q.processAllAvailable()
        val cutoff = java.sql.Timestamp.valueOf("2024-01-01 00:50:00").getTime
        val got = spark.table(sink).select("k", "ts", "v", "s", "g")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getDouble(2), r.getDouble(3), r.getDouble(4)))
          .filter(_._2 < cutoff).toSet
        val w = frameOf(Window.partitionBy(col("k")).orderBy(col("ts")))
        val want = WatermarkDdl.read(spark, src)
          .select(col("k"), col("ts"), col("v"),
            sum("v").over(w).as("s"),
            exp(avg(log(col("v"))).over(w)).as("g"))
          .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
            r.getDouble(2), r.getDouble(3), r.getDouble(4)))
          .filter(_._2 < cutoff).toSet
        assert(got == want && want.size == 5,
          s"[$tag] stream $got != batch $want")
      } finally {
        q.stop()
        Engine.sql(spark, s"DROP VIEW IF EXISTS $src")
        Engine.sql(spark, s"DROP TABLE IF EXISTS __${src}_base")
        Engine.sql(spark, s"DROP TABLE IF EXISTS $sink")
      }
    }
  }
}
