package graft

import graft.streaming.{StatefulOps, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Harness-style tests for the streaming spine (the analog of Flink's
  * runtime/harness tests): drive MemoryStream batches through each operator
  * and assert emitted rows. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  private def runToCompletion(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  test("tumble window aggregation with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "k", "v")
    val agg = StreamOps.tumbleAgg(df, "ts", "10 seconds", "1 minute",
      Seq(col("k")), Seq(count(lit(1)).as("n"), sum($"v").as("s")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumble_out").start()
    in.addData((ts(0), "a", 1.0), (ts(30), "a", 2.0), (ts(70), "a", 4.0), (ts(10), "b", 8.0))
    runToCompletion(q)
    val rows = spark.table("tumble_out")
      .select($"w.start".cast("long"), $"k", $"n", $"s")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(rows == Set((0L, "a", 2L, 3.0), (60L, "a", 1L, 4.0), (0L, "b", 1L, 8.0)))
  }

  test("session window merges within gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.sessionAgg(in.toDF().toDF("ts", "k", "v"), "ts",
      "5 seconds", "30 seconds", Seq(col("k")), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    // 0 and 20 merge (gap<30); 100 is a new session
    in.addData((ts(0), "a", 1.0), (ts(20), "a", 1.0), (ts(100), "a", 1.0))
    runToCompletion(q)
    val rows = spark.table("sess_out")
      .select($"w.start".cast("long"), $"n").as[(Long, Long)].collect().toSet
    assert(rows == Set((0L, 2L), (100L, 1L)))
  }

  test("dropDuplicatesWithinWatermark dedups keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val out = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("ts", "id"), "ts", "10 seconds", Seq("id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    in.addData((ts(0), 1L), (ts(1), 1L), (ts(2), 2L), (ts(3), 1L))
    runToCompletion(q)
    assert(spark.table("dedup_out").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("stateful incremental top-N per key across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double, String)]
    val out = StatefulOps.topNPerKey(in.toDS(), n = 2)
    val q = out.toDF("k", "rank", "score", "payload").writeStream
      .outputMode("update").format("memory").queryName("topn_out").start()
    in.addData(("a", 5.0, "x"), ("a", 9.0, "y"), ("a", 1.0, "z"))
    q.processAllAvailable()
    in.addData(("a", 7.0, "w")) // displaces x from top-2
    runToCompletion(q)
    // last update for key a must be rank1=y(9), rank2=w(7)
    val last = spark.table("topn_out").as[(String, Int, Double, String)]
      .collect().toSeq
    val finalTop = last.takeRight(2).map(r => (r._2, r._4)).toSet
    assert(finalTop == Set((1, "y"), (2, "w")))
  }

  test("window top-N finalizes each tumbling window once, matching batch row_number") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Double, String)]
    val src = in.toDS().toDF("k", "t", "score", "p")
      .withWatermark("t", "0 seconds")
      .as[(String, Timestamp, Double, String)]
    val ranked = StatefulOps.windowTopN(src, sizeUs = 60_000_000L, n = 2)
    val q = ranked.toDF("k", "ws", "we", "rank", "score", "p")
      .writeStream.outputMode("append").format("memory")
      .queryName("wtopn_out").start()
    // window [0,60): a has 3 rows (top-2 must cut one), b has a TIE on
    // score (payload breaks it); window [60,120): one row
    in.addData(("a", ts(5), 1.0, "a1"), ("a", ts(10), 9.0, "a9"),
      ("a", ts(20), 5.0, "a5"), ("b", ts(30), 4.0, "bZ"), ("b", ts(40), 4.0, "bA"))
    q.processAllAvailable()
    in.addData(("a", ts(70), 2.0, "a2")) // closes [0,60)
    q.processAllAvailable(); q.processAllAvailable()
    in.addData(("a", ts(200), 0.0, "clock")) // closes [60,120)
    q.processAllAvailable(); q.processAllAvailable()
    val got = spark.table("wtopn_out")
      .select($"k", $"ws", $"rank", $"score", $"p")
      .as[(String, Long, Int, Double, String)].collect().toSet
    val want = Set(
      ("a", 0L, 1, 9.0, "a9"), ("a", 0L, 2, 5.0, "a5"),
      ("b", 0L, 1, 4.0, "bA"), ("b", 0L, 2, 4.0, "bZ"),
      ("a", 60_000_000L, 1, 2.0, "a2"))
    assert(got == want, s"window top-N diverged: $got")
    // batch equivalence on the same rows (the closed windows)
    val batch = Seq(("a", ts(5), 1.0, "a1"), ("a", ts(10), 9.0, "a9"),
      ("a", ts(20), 5.0, "a5"), ("b", ts(30), 4.0, "bZ"), ("b", ts(40), 4.0, "bA"),
      ("a", ts(70), 2.0, "a2"))
      .toDF("k", "t", "score", "p")
      .withColumn("w", window($"t", "60 seconds"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"w", $"k").orderBy($"score".desc, $"p")))
      .filter($"rank" <= 2)
      .select($"k", unix_micros($"w.start"), $"rank", $"score", $"p")
      .as[(String, Long, Int, Double, String)].collect().toSet
    assert(got == batch, s"stream != batch row_number: $got vs $batch")
    q.stop()
  }

  test("window dedup keeps exactly the first (or last) row per key and window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, String)]
    val src = in.toDS().toDF("k", "t", "p")
      .withWatermark("t", "0 seconds")
      .as[(String, Timestamp, String)]
    val first = StatefulOps.windowDedup(src, sizeUs = 60_000_000L, keepFirst = true)
    val q = first.toDF("k", "ws", "we", "p")
      .writeStream.outputMode("append").format("memory")
      .queryName("wdedup_out").start()
    in.addData(("a", ts(10), "early"), ("a", ts(50), "late"),
      ("b", ts(20), "only"), ("a", ts(70), "next-window"))
    q.processAllAvailable()
    in.addData(("z", ts(300), "clock"))
    q.processAllAvailable(); q.processAllAvailable()
    val got = spark.table("wdedup_out").select($"k", $"ws", $"p")
      .as[(String, Long, String)].collect().toSet
    assert(got == Set(("a", 0L, "early"), ("b", 0L, "only"),
      ("a", 60_000_000L, "next-window")), s"window dedup diverged: $got")
    q.stop()
  }

  test("keepLastByKey emits only on change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val out = StatefulOps.keepLastByKey(in.toDS())
    val q = out.toDF("k", "ts", "v").writeStream
      .outputMode("update").format("memory").queryName("kl_out").start()
    in.addData((1L, 10L, "a"), (1L, 20L, "b"))
    q.processAllAvailable()
    in.addData((1L, 15L, "stale")) // older than current best -> no emission
    runToCompletion(q)
    val rows = spark.table("kl_out").as[(Long, Long, String)].collect().toSeq
    assert(rows.last == ((1L, 20L, "b")))
    assert(rows.count(_._1 == 1L) == 1) // stale row emitted nothing new
  }

  test("keepLastByKey ttl drops idle-key state: a post-expiry stale row " +
      "is treated as fresh") {
    // Flink's table.exec.state.ttl on ChangelogNormalize: without the
    // ttl a (1L, 10L, "a") after (1L, 20L, "b") emits nothing (stale);
    // once the key has been idle past the ttl its state is dropped, so
    // the same stale row emits as a fresh winner — the documented
    // staleness-vs-state trade
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val out = StatefulOps.keepLastByKey(in.toDS(),
      ttl = Some(java.time.Duration.ofMillis(300)))
    val q = out.toDF("k", "ts", "v").writeStream
      .outputMode("update").format("memory").queryName("kl_ttl_out").start()
    // ProcessingTimeTimeout makes fMGWS request a batch per trigger
    // (shouldRunAnotherBatch is clock-driven), so processAllAvailable
    // can spin — poll the sink for the expected emissions instead
    def rows = spark.table("kl_ttl_out").as[(Long, Long, String)].collect().toSeq
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond, s"timed out waiting for $what")
    }
    try {
      in.addData((1L, 20L, "b"))
      await(rows.contains((1L, 20L, "b")), "first emission")
      Thread.sleep(900) // sail past the ttl while key 1 is idle
      in.addData((2L, 5L, "x")) // unrelated data: batches keep running
      await(rows.contains((2L, 5L, "x")), "unrelated emission")
      Thread.sleep(400) // a no-data rerun fires key 1's timeout
      in.addData((1L, 10L, "a")) // OLDER than the forgotten winner
      await(rows.contains((1L, 10L, "a")),
        s"post-expiry stale row to emit as fresh (got $rows)")
    } finally q.stop()
  }

  test("streaming limit passes exactly the first n rows across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StatefulOps.streamingLimit(in.toDS(), n = 3L)
    val q = out.toDF("i", "v").writeStream
      .outputMode("append").format("memory").queryName("sl_out").start()
    in.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    in.addData((3L, "c"), (4L, "d"), (5L, "e")) // only one more passes
    runToCompletion(q)
    val got = spark.table("sl_out").as[(Long, String)].collect().toSeq
    assert(got.size == 3 && got.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)),
      s"wrong limit output: $got")
    assert(got.count(r => r._1 <= 2) == 2, "first batch rows must all pass")
  }

  test("count tumbling window emits every N rows with continuous indices") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val out = StatefulOps.countTumbleWindow(in.toDS(), size = 2)
    val q = out.toDF("k", "win", "sum").writeStream
      .outputMode("append").format("memory").queryName("cw_out").start()
    in.addData(("a", 1.0), ("a", 2.0), ("a", 3.0))
    q.processAllAvailable()
    in.addData(("a", 4.0)) // completes second window across batches
    runToCompletion(q)
    val rows = spark.table("cw_out").as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("a", 0L, 3.0), ("a", 1L, 7.0)))
  }

  test("count sliding window fires every slide rows over the last size rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    // countWindow(3, 2): fire every 2nd row over the last <=3 rows —
    // the GlobalWindow + CountTrigger(2) + CountEvictor(3) composition,
    // early fires (fewer than size rows) included
    val out = StatefulOps.countSlideWindow(in.toDS(), size = 3, slide = 2)
    val q = out.toDF("k", "fire", "sum").writeStream
      .outputMode("append").format("memory").queryName("csw_out").start()
    in.addData(("a", 1.0), ("a", 2.0), ("a", 3.0))
    q.processAllAvailable()
    in.addData(("a", 4.0), ("a", 5.0), ("b", 10.0)) // fires span batches
    runToCompletion(q)
    val rows = spark.table("csw_out").as[(String, Long, Double)].collect().toSet
    // a: fire0 after rows 1,2 -> 3 (early, 2 rows); fire1 after row 4 ->
    // 2+3+4 = 9 (evicted to last 3); b: below slide -> no fire yet
    assert(rows == Set(("a", 0L, 3.0), ("a", 1L, 9.0)))
  }

  test("event-time sort releases rows in order as the watermark advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, String)]
    val out = StatefulOps.eventTimeSort(watermarked)
    val q = out.toDF("k", "t", "v").writeStream
      .outputMode("append").format("memory").queryName("ets_out").start()
    // batch 1: out-of-order 100, 50, 80 -> watermark after batch = 90s
    in.addData((1L, ts(100), "c"), (1L, ts(50), "a"), (1L, ts(80), "b"))
    q.processAllAvailable()
    // batch 2: ts=200 advances watermark to 190 -> 50,80 already out; 100 out now
    in.addData((1L, ts(200), "d"))
    q.processAllAvailable()
    // batch 3: flush the rest
    in.addData((1L, ts(500), "z"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ets_out").as[(Long, Long, String)].collect().toSeq
    val emittedVs = got.map(_._3)
    // all but the last row must be out, in event-time order
    assert(emittedVs.containsSlice(Seq("a", "b", "c", "d")),
      s"wrong order/content: $emittedVs")
    assert(got.map(_._2) == got.map(_._2).sorted, "not emitted in time order")
  }

  test("fused OVER Min/Max slots skip NaN (NULL) inputs; all-NULL frame stays NaN") {
    import spark.implicits._
    import StatefulOps.{OverFrame, SlotOp}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Seq[Double])]
    val watermarked = in.toDF().toDF("k", "ts", "vs")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, Seq[Double])]
    // slot 0 sums, slot 1 takes the frame MIN with NaN-as-NULL inputs
    val out = StatefulOps.overAggsByKey(watermarked, OverFrame.Rows(3),
      Vector(SlotOp.Sum, SlotOp.Min))
    val q = out.toDF("k", "t", "vs", "aggs").writeStream
      .outputMode("append").format("memory").queryName("minmax_out").start()
    in.addData((1L, ts(10), Seq(1.0, Double.NaN)), // NULL min input
      (1L, ts(20), Seq(2.0, 5.0)), (1L, ts(30), Seq(0.5, 2.0)))
    q.processAllAvailable()
    in.addData((1L, ts(100), Seq(0.0, Double.NaN))) // releases 10..30
    q.processAllAvailable()
    in.addData((1L, ts(200), Seq(0.0, Double.NaN))) // releases 100
    q.processAllAvailable()
    q.stop()
    val got = spark.table("minmax_out")
      .selectExpr("t", "aggs[0]", "aggs[1]")
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    // t10: 1-row frame, min input NULL -> NaN sentinel survives;
    // t20: min(NaN, 5) skips the NaN; t30: min over all three = 2;
    // t100: frame rows 20,30,100 -> min(5, 2, NaN) = 2
    assert(got.map(_._2) == Seq(1.0, 3.0, 3.5, 2.5), s"sum slot: $got")
    assert(got.head._3.isNaN, s"all-NULL frame must stay NaN: $got")
    assert(got.map(_._3).drop(1) == Seq(5.0, 2.0, 2.0), s"min slot: $got")
  }

  test("proc-time OVER: arrival-order frames; batch-tick RANGE peers") {
    import spark.implicits._
    import StatefulOps.OverFrame
    implicit val sqlCtx = spark.sqlContext
    def run(frame: OverFrame, sink: String): Seq[(Long, Double, Double)] = {
      val in = MemoryStream[(Long, Seq[Double])]
      val out = StatefulOps.procOverAggsByKey(in.toDS(), frame)
      val q = out.map(r => (r._1, r._3.head, r._4.head))
        .toDF("k", "v", "agg").writeStream
        .outputMode("append").format("memory").queryName(sink).start()
      try {
        in.addData((1L, Seq(10.0)), (1L, Seq(2.0)), (2L, Seq(5.0)))
        q.processAllAvailable()
        in.addData((1L, Seq(4.0)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).as[(Long, Double, Double)].collect().toSeq
    }
    // unbounded ROWS: per-row running sums in arrival order
    assert(run(OverFrame.Unbounded, "pov_unb").toSet ==
      Set((1L, 10.0, 10.0), (1L, 2.0, 12.0), (2L, 5.0, 5.0), (1L, 4.0, 16.0)))
    // ROWS 1 PRECEDING: last-2 frames across batches
    assert(run(OverFrame.Rows(2), "pov_rows").toSet ==
      Set((1L, 10.0, 10.0), (1L, 2.0, 12.0), (2L, 5.0, 5.0), (1L, 4.0, 6.0)))
    // unbounded RANGE: a batch's rows are proc-time PEERS sharing one value
    assert(run(OverFrame.UnboundedRange, "pov_rng").toSet ==
      Set((1L, 10.0, 12.0), (1L, 2.0, 12.0), (2L, 5.0, 5.0), (1L, 4.0, 16.0)))
  }

  test("streaming OVER: running sum released in event-time order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, Double)]
    val out = StatefulOps.runningSumByKey(watermarked)
    val q = out.toDF("k", "t", "v", "running").writeStream
      .outputMode("append").format("memory").queryName("rs_out").start()
    // arrive out of order: 100(v=3), 50(v=1), 80(v=2)
    in.addData((1L, ts(100), 3.0), (1L, ts(50), 1.0), (1L, ts(80), 2.0))
    q.processAllAvailable()
    in.addData((1L, ts(200), 4.0)) // watermark -> 190, releases 50,80,100
    q.processAllAvailable()
    in.addData((1L, ts(500), 9.0)) // releases 200
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rs_out").as[(Long, Long, Double, Double)]
      .collect().sortBy(_._2).toSeq
    // running sums follow EVENT time order despite arrival order
    assert(got.map(r => (r._2, r._4)).take(4) ==
      Seq((50000L, 1.0), (80000L, 3.0), (100000L, 6.0), (200000L, 10.0)), s"got: $got")
  }

  test("late rows are tagged for side output, not dropped") {
    import graft.streaming.Lateness
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.tagLate(watermarked)
    val q = out.toDF("k", "t", "v", "is_late").writeStream
      .outputMode("update").format("memory").queryName("late_out").start()
    in.addData((1L, ts(100), 5.0)) // watermark after batch: 90s
    q.processAllAvailable()
    in.addData((1L, ts(50), 7.0), (1L, ts(200), 1.0)) // 50 <= 90 -> late
    runToCompletion(q)
    val rows = spark.table("late_out").as[(Long, Long, Double, Boolean)]
      .collect().toSet
    assert(rows.contains((1L, 50000L, 7.0, true)), s"late row not captured: $rows")
    assert(rows.contains((1L, 200000L, 1.0, false)))
    assert(rows.contains((1L, 100000L, 5.0, false)))
  }

  test("allowed lateness: widened watermark lets late rows refine their window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    // base delay 10s + allowed lateness 20s = widened 30s watermark
    val agg = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "30 seconds")
      .groupBy($"k", window($"ts", "60 seconds"))
      .agg(sum($"v").as("s"))
    val q = agg.select($"k", $"window.start".cast("long").as("w"), $"s")
      .writeStream.outputMode("update").format("memory")
      .queryName("al_out").start()
    in.addData((1L, ts(10), 1.0), (1L, ts(70), 2.0)) // wm -> 40s
    q.processAllAvailable()
    // 50s <= wm+lateness horizon: refines window [0,60) from 1.0 to 6.0
    in.addData((1L, ts(50), 5.0))
    runToCompletion(q)
    val emissions = spark.table("al_out").as[(Long, Long, Double)]
      .collect().toSeq.filter(_._2 == 0L).map(_._3)
    assert(emissions.contains(1.0) && emissions.contains(6.0),
      s"expected initial and refined firing for window 0: $emissions")
  }

  test("count trigger fires partial panes every N elements, final on watermark") {
    import graft.streaming.Lateness
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.countTriggerTumbleSum(watermarked, windowMs = 10000L, every = 2)
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("ct_out").start()
    in.addData((1L, ts(1), 1.0), (1L, ts(2), 2.0)) // 2 elements -> partial
    q.processAllAvailable()
    in.addData((1L, ts(3), 3.0)) // below next multiple -> no fire
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // watermark 95s > window end -> final
    runToCompletion(q)
    val rows = spark.table("ct_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(_._2 == 0L)
    assert(rows.contains((1L, 0L, "partial", 2L, 3.0)), s"no partial fire: $rows")
    assert(rows.contains((1L, 0L, "final", 3L, 6.0)), s"no final fire: $rows")
  }

  test("count evictor restricts fires to the newest m elements") {
    import graft.streaming.Lateness
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.countTriggerTumbleSum(
      watermarked, windowMs = 10000L, every = 2, evictCount = Some(2))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("ce_out").start()
    in.addData((1L, ts(1), 1.0), (1L, ts(2), 2.0), (1L, ts(3), 4.0), (1L, ts(4), 8.0))
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // final
    runToCompletion(q)
    val rows = spark.table("ce_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(_._2 == 0L)
    // both fires aggregate only the newest 2 elements (4.0 + 8.0)
    assert(rows.contains((1L, 0L, "partial", 2L, 12.0)), s"evicted partial wrong: $rows")
    assert(rows.contains((1L, 0L, "final", 2L, 12.0)), s"evicted final wrong: $rows")
  }

  test("delta trigger fires when the value drifts past the threshold") {
    import graft.streaming.Lateness
    import graft.streaming.Lateness.FireTrigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.triggeredTumbleSum(
      watermarked, windowMs = 10000L, trigger = FireTrigger.DeltaT(5.0))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("dt_out").start()
    // baseline 10; 12 within threshold (no fire); 17 drifts > 5 -> fire
    in.addData((1L, ts(1), 10.0), (1L, ts(2), 12.0), (1L, ts(3), 17.0))
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // final
    runToCompletion(q)
    val rows = spark.table("dt_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(_._2 == 0L)
    assert(rows.contains((1L, 0L, "partial", 3L, 39.0)), s"no delta fire: $rows")
    assert(rows.count(_._3 == "partial") == 1, s"extra fires: $rows")
    assert(rows.contains((1L, 0L, "final", 3L, 39.0)))
  }

  test("continuous event-time trigger fires at each interval boundary crossing") {
    import graft.streaming.Lateness
    import graft.streaming.Lateness.FireTrigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.triggeredTumbleSum(
      watermarked, windowMs = 60000L, trigger = FireTrigger.ContinuousEventTimeT(3000L))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("cet_out").start()
    // t=1s arms the 3s boundary; t=2s below it; t=4s crosses -> fire(3);
    // t=5s below next (6s); t=7s crosses -> fire(5); t=17s jumps THREE
    // boundaries (9s, 12s, 15s) -> three fires(6), one per elapsed
    // boundary, exactly like Flink's re-registering
    // ContinuousEventTimeTrigger on a sparse stream
    in.addData((1L, ts(1), 1.0), (1L, ts(2), 1.0), (1L, ts(4), 1.0),
      (1L, ts(5), 1.0), (1L, ts(7), 1.0), (1L, ts(17), 1.0))
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // final
    runToCompletion(q)
    val partials = spark.table("cet_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(r => r._2 == 0L && r._3 == "partial").map(_._4)
    assert(partials == Seq(3L, 5L, 6L, 6L, 6L), s"boundary fires wrong: $partials")
  }

  test("purging trigger resets the pane on every fire (FIRE_AND_PURGE)") {
    import graft.streaming.Lateness
    import graft.streaming.Lateness.FireTrigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.triggeredTumbleSum(
      watermarked, windowMs = 10000L,
      trigger = FireTrigger.Purging(FireTrigger.CountT(2)))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("pt_out").start()
    in.addData((1L, ts(1), 1.0), (1L, ts(2), 2.0), (1L, ts(3), 4.0), (1L, ts(4), 8.0))
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // final: nothing since last purge
    runToCompletion(q)
    val rows = spark.table("pt_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(_._2 == 0L)
    // each partial covers only its slice; the fully-purged pane emits NO
    // final row — Flink's WindowOperator skips timer fires over an empty
    // window (same rule the partial-fire loop applies)
    assert(rows.contains((1L, 0L, "partial", 2L, 3.0)), s"first purge-fire: $rows")
    assert(rows.contains((1L, 0L, "partial", 2L, 12.0)), s"second purge-fire: $rows")
    assert(!rows.exists(_._3 == "final"), s"empty pane must not fire a final: $rows")
  }

  test("purging + continuous trigger: multi-boundary jump emits no empty partials") {
    import graft.streaming.Lateness
    import graft.streaming.Lateness.FireTrigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.triggeredTumbleSum(
      watermarked, windowMs = 60000L,
      trigger = FireTrigger.Purging(FireTrigger.ContinuousEventTimeT(3000L)))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("pcet_out").start()
    // t=1s arms the 3s boundary; t=10s jumps boundaries 3s/6s/9s: the
    // first fire emits {1s,10s} and purges — the other two crossed
    // boundaries find an empty pane and (like Flink's WindowOperator
    // skipping empty timer fires) must emit NOTHING; t=13s crosses 12s
    // and fires its own slice
    in.addData((1L, ts(1), 1.0), (1L, ts(10), 2.0), (1L, ts(13), 4.0))
    q.processAllAvailable()
    in.addData((1L, ts(100), 0.0)) // final
    runToCompletion(q)
    val partials = spark.table("pcet_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(r => r._2 == 0L && r._3 == "partial")
      .map(r => (r._4, r._5))
    assert(partials == Seq((2L, 3.0), (1L, 4.0)), s"empty-fire leak: $partials")
  }

  test("time evictor keeps only the trailing range of the pane at fire") {
    import graft.streaming.Lateness
    import graft.streaming.Lateness.{Evict, FireTrigger}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.triggeredTumbleSum(
      watermarked, windowMs = 10000L, trigger = FireTrigger.CountT(4),
      evict = Some(Evict.Time(2000L)))
    val q = out.toDF("k", "w", "kind", "n", "s").writeStream
      .outputMode("update").format("memory").queryName("te_out").start()
    // elements at 1,2,7,8s; fire at the 4th: trailing 2s of t=8 -> {7,8}
    in.addData((1L, ts(1), 1.0), (1L, ts(2), 2.0), (1L, ts(7), 4.0), (1L, ts(8), 8.0))
    q.processAllAvailable()
    runToCompletion(q)
    val rows = spark.table("te_out").as[(Long, Long, String, Long, Double)]
      .collect().toSeq.filter(r => r._2 == 0L && r._3 == "partial")
    assert(rows == Seq((1L, 0L, "partial", 2L, 12.0)), s"time evictor wrong: $rows")
  }

  test("withCurrentWatermark annotates rows with the observed watermark") {
    import graft.streaming.Lateness
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds")
      .as[(Long, Timestamp, Double)]
    val out = Lateness.withCurrentWatermark(watermarked)
    val q = out.toDF("k", "t", "v", "wm").writeStream
      .outputMode("update").format("memory").queryName("wm_out").start()
    in.addData((1L, ts(100), 1.0)) // first batch: watermark still 0
    q.processAllAvailable()
    in.addData((1L, ts(200), 2.0)) // watermark now 100s - 10s = 90s
    runToCompletion(q)
    val rows = spark.table("wm_out").as[(Long, Long, Double, Long)]
      .collect().map(r => (r._2, r._4)).toSet
    assert(rows == Set((100000L, 0L), (200000L, 90000L)), s"got $rows")
  }

  test("streaming OVER bounded ROWS frame matches batch Window.rowsBetween") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = for (k <- 1L to 2L; i <- 0 until 12)
      yield (k, ts(10L * i + k), (i * 7 % 5) + k * 0.5)
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val out = StatefulOps.rowsBoundedSumByKey(watermarked, nRows = 3)
    val q = out.toDF("k", "t", "v", "agg").writeStream
      .outputMode("append").format("memory").queryName("rb_out").start()
    data.sortBy(_._2.getTime).grouped(8).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    in.addData((1L, ts(100000), 0.0), (2L, ts(100000), 0.0)) // flush watermark
    runToCompletion(q)
    val streamed = spark.table("rb_out").as[(Long, Long, Double, Double)]
      .collect().toSet.filter(_._2 < 100000000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"t").rowsBetween(-2, 0)
    val batch = data.toDF("k", "ts", "v")
      .select($"k", $"ts".cast("long") * 1000, $"v")
      .toDF("k", "t", "v")
      .withColumn("agg", sum($"v").over(w))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
  }

  test("streaming OVER bounded RANGE frame matches batch Window.rangeBetween") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = for (k <- 1L to 2L; i <- 0 until 12)
      yield (k, ts(7L * i + k), (i * 3 % 4) + k.toDouble)
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val rangeMs = 20000L
    val out = StatefulOps.rangeBoundedSumByKey(watermarked, rangeMs)
    val q = out.toDF("k", "t", "v", "agg").writeStream
      .outputMode("append").format("memory").queryName("rgb_out").start()
    data.sortBy(_._2.getTime).grouped(10).foreach { chunk =>
      in.addData(chunk.toSeq); q.processAllAvailable()
    }
    in.addData((1L, ts(100000), 0.0), (2L, ts(100000), 0.0))
    runToCompletion(q)
    val streamed = spark.table("rgb_out").as[(Long, Long, Double, Double)]
      .collect().toSet.filter(_._2 < 100000000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"t").rangeBetween(-rangeMs, 0)
    val batch = data.toDF("k", "ts", "v")
      .select($"k", ($"ts".cast("long") * 1000).as("t"), $"v")
      .withColumn("agg", sum($"v").over(w))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
  }

  test("retraction-consuming group aggregate: -U/+U/-D flow into state") {
    import graft.streaming.Retract
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val out = Retract.groupAggregate(in.toDS())
    val q = out.toDF("k", "kind", "cnt", "sum").writeStream
      .outputMode("update").format("memory").queryName("ra_out").start()
    in.addData(("a", "+I", 10.0), ("a", "+I", 5.0), ("b", "+I", 3.0))
    q.processAllAvailable()
    // update a: -U 10 / +U 12 ; delete b entirely
    in.addData(("a", "-U", 10.0), ("a", "+U", 12.0), ("b", "-D", 3.0))
    runToCompletion(q)
    val rows = spark.table("ra_out").as[(String, String, Long, Double)]
      .collect().toSeq
    // batch 1 emissions, then batch 2: refreshed a, deletion marker for b
    assert(rows.contains(("a", "+U", 2L, 15.0)))
    assert(rows.contains(("a", "+U", 2L, 17.0)))
    assert(rows.contains(("b", "-D", 0L, 0.0)), s"missing -D for b: $rows")
  }

  test("retractable UDA group aggregate: retract/merge surface in streaming state") {
    import graft.streaming.{Retract, StatefulOps}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    object GeoMeanR extends StatefulOps.RetractableOverAgg {
      val size = 2
      def zero = Array(0.0, 0.0)
      def reduce(b: Array[Double], x: Double): Unit = { b(0) += math.log(x); b(1) += 1 }
      def retract(b: Array[Double], x: Double): Unit = { b(0) -= math.log(x); b(1) -= 1 }
      def merge(a: Array[Double], b: Array[Double]): Unit = { a(0) += b(0); a(1) += b(1) }
      def finish(b: Array[Double]): Double =
        if (b(1) <= 0) Double.NaN else math.exp(b(0) / b(1))
    }
    val in = MemoryStream[(String, String, Double)]
    val out = Retract.groupAggregateWith(in.toDS(), GeoMeanR)
    val q = out.toDF("k", "kind", "gm").writeStream
      .outputMode("update").format("memory").queryName("rau_out").start()
    in.addData(("a", "+I", 2.0), ("a", "+I", 8.0), ("b", "+I", 3.0))
    q.processAllAvailable()
    // update a: retract 8, accumulate 32 -> geomean(2, 32) = 8; empty b
    in.addData(("a", "-U", 8.0), ("a", "+U", 32.0), ("b", "-D", 3.0))
    runToCompletion(q)
    val rows = spark.table("rau_out").as[(String, String, Double)].collect().toSeq
    assert(rows.exists(r => r._1 == "a" && r._2 == "+U" && math.abs(r._3 - 4.0) < 1e-9),
      s"batch-1 geomean(2,8)=4 missing: $rows")
    assert(rows.exists(r => r._1 == "a" && r._2 == "+U" && math.abs(r._3 - 8.0) < 1e-9),
      s"batch-2 geomean(2,32)=8 missing: $rows")
    assert(rows.exists(r => r._1 == "b" && r._2 == "-D"), s"missing -D for b: $rows")
  }

  test("retractable top-N backfills when a ranked row is deleted") {
    TestSpark.withRocksDB {
      import graft.streaming.RetractTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Double, String)]
      val out = RetractTws.retractableTopN(in.toDS(), n = 2)
      val q = out.toDF("k", "rk", "score", "id").writeStream
        .outputMode("update").format("memory").queryName("rt_out").start()
      in.addData(("g", "+I", 30.0, "x"), ("g", "+I", 20.0, "y"), ("g", "+I", 10.0, "z"))
      q.processAllAvailable()
      val top1 = spark.table("rt_out").as[(String, Int, Double, String)].collect().toSet
      assert(top1.contains(("g", 1, 30.0, "x")) && top1.contains(("g", 2, 20.0, "y")))
      // retract the leader: z must backfill into the refreshed top-2
      in.addData(("g", "-D", 30.0, "x"))
      runToCompletion(q)
      val all = spark.table("rt_out").as[(String, Int, Double, String)].collect().toSeq
      assert(all.contains(("g", 1, 20.0, "y")) && all.contains(("g", 2, 10.0, "z")),
        s"no backfill after retraction: $all")
    }
  }

  test("retractable top-N changelog emits -D when the top shrinks") {
    TestSpark.withRocksDB {
      import graft.streaming.RetractTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, String, Double, String)]
      val out = RetractTws.retractableTopNChangelog(in.toDS(), n = 2)
      val q = out.toDF("kind", "k", "rk", "score", "id").writeStream
        .outputMode("append").format("memory").queryName("rtc_out").start()
      in.addData(("g", "+I", 30.0, "x"), ("g", "+I", 20.0, "y"))
      q.processAllAvailable()
      val top1 = spark.table("rtc_out")
        .as[(String, String, Int, Double, String)].collect().toSet
      assert(top1 == Set(("+U", "g", 1, 30.0, "x"), ("+U", "g", 2, 20.0, "y")),
        top1.toString)
      // retract y with nothing to backfill: rank 2 must emit an explicit
      // -D (the sink keyed by (k, rank) would otherwise keep it forever)
      in.addData(("g", "-D", 20.0, "y"))
      runToCompletion(q)
      val all = spark.table("rtc_out")
        .as[(String, String, Int, Double, String)].collect().toSeq
      assert(all.contains(("-D", "g", 2, 20.0, "y")), s"no rank-2 delete: $all")
      // rank 1 unchanged -> NOT re-emitted in the second commit
      assert(all.count(r => r._1 == "+U" && r._3 == 1) == 1,
        s"unchanged rank re-emitted: $all")
    }
  }

  test("fastTop1: O(1) leader state under monotone upserts; demotion fails loudly") {
    import graft.streaming.Retract
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val out = Retract.fastTop1(in.toDS())
    val q = out.toDF("k", "rk", "score", "id").writeStream
      .outputMode("update").format("memory").queryName("ft1_out").start()
    // count-like monotone scores: x grows, y overtakes, x retakes
    in.addData(("g", "x", 3.0), ("g", "y", 2.0))
    q.processAllAvailable()
    in.addData(("g", "y", 5.0))
    q.processAllAvailable()
    in.addData(("g", "x", 6.0), ("h", "z", 1.0))
    q.processAllAvailable()
    // leader unchanged: no emission
    in.addData(("g", "y", 5.5))
    q.processAllAvailable()
    val rows = spark.table("ft1_out")
      .as[(String, Int, Double, String)].collect().toSeq
    assert(rows.filter(_._1 == "g") ==
      Seq(("g", 1, 3.0, "x"), ("g", 1, 5.0, "y"), ("g", 1, 6.0, "x")), rows.toString)
    assert(rows.contains(("h", 1, 1.0, "z")))
    // a decreasing update violates the UpdateFastStrategy contract
    in.addData(("g", "x", 4.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("monoton") ||
      Option(e.getCause).exists(_.getMessage.contains("monoton")), e.getMessage)
    try q.stop() catch { case _: Exception => () }
  }

  /** The SQL front door's fast route folds by the COMMIT SEQUENCE, not
    * shuffle arrival order: one micro-batch delivering the same id's
    * upserts NEWEST-FIRST (catch-up after restart / a slow trigger —
    * Spark's shuffle fetch gives no intra-batch order) must settle on
    * the max-seq row instead of crashing a valid monotone job on the
    * 'sort key decreased' contract check. */
  test("fastTop1SortedChangelog: intra-batch order comes from seq, not arrival") {
    import graft.streaming.Retract
    import graft.util.SortKey
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def enc(v: Long) = SortKey.fieldLong(v, asc = true)
    val in = MemoryStream[(String, String, String, Long, String, String)]
    val out = Retract.fastTop1SortedChangelog(in.toDS())
    val q = out.toDF("kind", "k", "rn", "sk", "p").writeStream
      .outputMode("append").format("memory").queryName("ft1s_out").start()
    // ONE batch, three commits' worth of x's upserts, added newest-first:
    // a fold in arrival order would see 7 -> 5 and crash; seq order sees
    // 3 -> 5 -> 7 and settles on the seq-3 row
    in.addData(
      ("g", "+U", "x", 3L, enc(7L), "p7"),
      ("g", "+U", "x", 2L, enc(5L), "p5"),
      ("g", "+U", "x", 1L, enc(3L), "p3"))
    q.processAllAvailable()
    val rows = spark.table("ft1s_out")
      .as[(String, String, Int, String, String)].collect().toSeq
    assert(rows == Seq(("+U", "g", 1, enc(7L), "p7")), rows.toString)
    // a genuine cross-batch decrease still fails loudly — the contract
    // check survives the re-ordering fix
    in.addData(("g", "+U", "x", 4L, enc(6L), "p6"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("monoton") ||
      Option(e.getCause).exists(_.getMessage.contains("monoton")), e.getMessage)
    try q.stop() catch { case _: Exception => () }
  }

  test("updatable top-N: an upsert demoting the leader re-ranks and backfills") {
    import graft.streaming.Retract
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, Double)]
    val out = Retract.updatableTopN(in.toDS(), n = 2)
    val q = out.toDF("k", "rk", "score", "id").writeStream
      .outputMode("update").format("memory").queryName("ut_out").start()
    in.addData(("g", "x", 30.0), ("g", "y", 20.0), ("g", "z", 10.0))
    q.processAllAvailable()
    // upsert x down to 5: y promotes to 1, z backfills at 2
    in.addData(("g", "x", 5.0))
    runToCompletion(q)
    val all = spark.table("ut_out").as[(String, Int, Double, String)].collect().toSeq
    assert(all.contains(("g", 1, 30.0, "x")) && all.contains(("g", 2, 20.0, "y")))
    assert(all.contains(("g", 1, 20.0, "y")) && all.contains(("g", 2, 10.0, "z")),
      s"no re-rank after demoting upsert: $all")
  }

  test("CoProcess: control stream updates shared state read by the data stream") {
    import graft.streaming.CoProcess
    import graft.streaming.CoProcess.Emit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = MemoryStream[(Long, Timestamp, Double)] // (key, t, amount)
    val ctrl = MemoryStream[(Long, Timestamp, Double)] // (key, t, new limit)
    val out = CoProcess.connect(data.toDS(), ctrl.toDS())(
      onLeft = (_: Long, _: Long, amount: Double, st: Option[Double]) => {
        val limit = st.getOrElse(100.0)
        Emit(Seq(if (amount <= limit) s"ok:$amount" else s"over:$amount"), st)
      },
      onRight = (_: Long, _: Long, limit: Double, _: Option[Double]) =>
        Emit(Seq.empty[String], Some(limit)))
    // pre-load BOTH sides before starting so the first micro-batch holds
    // the cross-side mix: amount@10 under the default limit, control@20
    // lowering it to 5, amount@30 rejected — event-time interleaving
    data.addData((1L, ts(10), 50.0), (1L, ts(30), 50.0))
    ctrl.addData((1L, ts(20), 5.0))
    val q = out.toDF("k", "res").writeStream
      .outputMode("update").format("memory").queryName("cp_out").start()
    q.processAllAvailable()
    // later batch still sees the stored limit
    data.addData((1L, ts(40), 3.0))
    runToCompletion(q)
    val got = spark.table("cp_out").as[(Long, String)].collect().map(_._2).toSeq
    assert(got.count(_ == "ok:50.0") == 1 && got.contains("over:50.0") &&
      got.contains("ok:3.0"), s"wrong interleave: $got")
  }

  test("retraction stream-stream join: net changelog equals end-state join") {
    TestSpark.withRocksDB {
      import graft.streaming.StreamJoinTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val lhs = MemoryStream[(Long, String, String)] // (key, kind, l-payload)
      val rhs = MemoryStream[(Long, String, String)]
      val out = StreamJoinTws.innerJoin(lhs.toDS(), rhs.toDS())
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("update").format("memory").queryName("sj_out").start()
      // batch 1: left rows arrive before any right -> no emissions yet
      lhs.addData((1L, "+I", "l1"), (1L, "+I", "l2"), (2L, "+I", "lx"))
      q.processAllAvailable()
      // batch 2: right arrives -> joins with the two live left rows of key 1
      rhs.addData((1L, "+I", "r1"))
      q.processAllAvailable()
      // batch 3: update l1 -> retract (l1,r1), add (l1b,r1); delete key-2 left
      lhs.addData((1L, "-U", "l1"), (1L, "+U", "l1b"), (2L, "-D", "lx"))
      rhs.addData((2L, "+I", "ry")) // arrives after lx deletion: no join
      runToCompletion(q)

      val rows = spark.table("sj_out").as[(Long, String, String, String)].collect()
      // net materialization: +I count minus -D count per joined row
      val net = rows.groupBy(r => (r._1, r._3, r._4)).view
        .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
        .filter(_._2 > 0).keys.toSet
      assert(net == Set((1L, "l1b", "r1"), (1L, "l2", "r1")), s"net=$net rows=${rows.toSeq}")
      // the retraction of (l1, r1) was emitted explicitly
      assert(rows.contains((1L, "-D", "l1", "r1")), s"missing join retraction: ${rows.toSeq}")
    }
  }

  test("left-outer retraction join: null pad retracts when a match arrives") {
    TestSpark.withRocksDB {
      import graft.streaming.StreamJoinTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val lhs = MemoryStream[(Long, String, String)]
      val rhs = MemoryStream[(Long, String, String)]
      val out = StreamJoinTws.leftOuterJoin(lhs.toDS(), rhs.toDS())
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("update").format("memory").queryName("lo_out").start()
      lhs.addData((1L, "+I", "l1")) // no right yet -> null-padded
      q.processAllAvailable()
      rhs.addData((1L, "+I", "r1")) // pad retracts, real join emits
      q.processAllAvailable()
      rhs.addData((1L, "-D", "r1")) // last match gone -> pad returns
      runToCompletion(q)
      val rows = spark.table("lo_out")
        .as[(Long, String, String, Option[String])].collect().toSeq
      assert(rows.contains((1L, "+I", "l1", None)), s"missing initial pad: $rows")
      assert(rows.contains((1L, "-D", "l1", None)), s"pad not retracted: $rows")
      assert(rows.contains((1L, "+I", "l1", Some("r1"))))
      assert(rows.contains((1L, "-D", "l1", Some("r1"))))
      // net materialization after all batches: back to the null-padded row
      val net = rows.groupBy(r => (r._1, r._3, r._4)).view
        .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
        .filter(_._2 > 0).keys.toSet
      assert(net == Set((1L, "l1", None)), s"net=$net")
    }
  }

  test("right-outer retraction join mirrors left-outer pads") {
    TestSpark.withRocksDB {
      import graft.streaming.StreamJoinTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val lhs = MemoryStream[(Long, String, String)]
      val rhs = MemoryStream[(Long, String, String)]
      val out = StreamJoinTws.rightOuterJoin(lhs.toDS(), rhs.toDS())
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("update").format("memory").queryName("ro_out").start()
      rhs.addData((1L, "+I", "r1")) // no left yet -> null-padded on the left
      q.processAllAvailable()
      lhs.addData((1L, "+I", "l1")) // pad retracts, real join emits
      q.processAllAvailable()
      lhs.addData((1L, "-D", "l1")) // last match gone -> pad returns
      runToCompletion(q)
      val rows = spark.table("ro_out")
        .as[(Long, String, Option[String], String)].collect().toSeq
      assert(rows.contains((1L, "+I", None, "r1")), s"missing initial pad: $rows")
      assert(rows.contains((1L, "-D", None, "r1")), s"pad not retracted: $rows")
      assert(rows.contains((1L, "+I", Some("l1"), "r1")))
      assert(rows.contains((1L, "-D", Some("l1"), "r1")))
      val net = rows.groupBy(r => (r._1, r._3, r._4)).view
        .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
        .filter(_._2 > 0).keys.toSet
      assert(net == Set((1L, None, "r1")), s"net=$net")
    }
  }

  test("full-outer retraction join pads both sides; duplicate rows counted") {
    TestSpark.withRocksDB {
      import graft.streaming.StreamJoinTws
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val lhs = MemoryStream[(Long, String, String)]
      val rhs = MemoryStream[(Long, String, String)]
      val out = StreamJoinTws.fullOuterJoin(lhs.toDS(), rhs.toDS())
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("update").format("memory").queryName("fo_out").start()
      // duplicate left payloads exercise the counted-multiset state
      lhs.addData((1L, "+I", "l1"), (1L, "+I", "l1"))
      rhs.addData((2L, "+I", "r2"))
      q.processAllAvailable()
      rhs.addData((1L, "+I", "r1")) // both l1 pads retract, two joins emit
      q.processAllAvailable()
      rhs.addData((1L, "-D", "r1")) // pads come back (x2)
      lhs.addData((1L, "-D", "l1")) // one of the two pads goes away
      runToCompletion(q)
      val rows = spark.table("fo_out")
        .as[(Long, String, Option[String], Option[String])].collect().toSeq
      val net = rows.groupBy(r => (r._1, r._3, r._4)).view
        .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
        .filter(_._2 > 0).toMap
      // end state: one live l1 pad for key 1, the untouched r2 pad for key 2
      assert(net == Map((1L, Some("l1"), None) -> 1, (2L, None, Some("r2")) -> 1),
        s"net=$net rows=$rows")
      // both directions of pad retraction happened explicitly
      assert(rows.count(_ == ((1L, "-D", Some("l1"), None))) >= 2, s"rows=$rows")
      assert(rows.count(_ == ((1L, "+I", Some("l1"), Some("r1")))) == 2, s"rows=$rows")
    }
  }

  test("streaming changelog replay equals the batch signed aggregate") {
    import graft.operators.RetractOps
    import graft.streaming.Retract
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q71 changelog at sf0.001, replayed in 3 micro-batches
    val rows = RetractOps.ordersChangelog(spark, TestSpark.sf)
      .select($"o_orderpriority", col(graft.streaming.Cdc.RowKind),
        $"price".cast("double"))
      .as[(String, String, Double)].collect().toSeq
      .sortBy(r => (r._2, r._1)) // deterministic but kind-interleaved order
    val in = MemoryStream[(String, String, Double)]
    val out = Retract.groupAggregate(in.toDS())
    val q = out.toDF("k", "kind", "cnt", "sum").writeStream
      .outputMode("update").format("memory").queryName("rp_out").start()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      in.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    // last emission per key is the final state
    val finalRows = spark.table("rp_out").as[(String, String, Long, Double)]
      .collect().zipWithIndex
      .groupBy(_._1._1).map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    val want = RetractOps.retractAggregate(
        RetractOps.ordersChangelog(spark, TestSpark.sf),
        Seq("o_orderpriority"), "price")
      .select($"o_orderpriority", $"net_cnt".cast("long"),
        $"net_sum".cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(finalRows.keySet == want.keySet)
    want.foreach { case (k, (cnt, sum)) =>
      val (_, _, gotCnt, gotSum) = finalRows(k)
      assert(gotCnt == cnt, s"$k count: $gotCnt != $cnt")
      // streaming sums doubles in arrival order; batch sums exact decimals —
      // compare with relative tolerance
      assert(math.abs(gotSum - sum) <= 1e-9 * math.abs(sum) + 1e-6,
        s"$k sum: $gotSum != $sum")
    }
  }

  test("KeyedProcess: inactivity timeout emits session summary via timer") {
    import graft.streaming.KeyedProcess
    import graft.streaming.KeyedProcess.Emit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val keyed = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    // accumulate (count, sum, lastTs); flush 60s of event-time inactivity
    val out = KeyedProcess.process[Long, Double, (Long, Double, Long), String](keyed)(
      onInput = (_, values, st) => {
        val (c0, s0, _) = st.getOrElse((0L, 0.0, 0L))
        val c = c0 + values.size
        val sum = s0 + values.map(_._2).sum
        val last = values.map(_._1).max
        Emit(Seq.empty, Some((c, sum, last)), Some(last + 60000L))
      },
      onTimer = (_, st) => {
        val (c, sum, _) = st.get
        Emit(Seq(s"n=$c,sum=$sum"), None)
      })
    val q = out.toDF("k", "summary").writeStream
      .outputMode("update").format("memory").queryName("kp_out").start()
    in.addData((1L, ts(100), 2.0), (1L, ts(110), 3.0))
    q.processAllAvailable()
    in.addData((2L, ts(400), 9.0)) // watermark -> 395s, past key 1's timer at 170s
    q.processAllAvailable()
    in.addData((2L, ts(800), 1.0))
    q.processAllAvailable()
    in.addData((3L, ts(2000), 0.0)) // watermark past key 2's timer at 860s
    q.processAllAvailable()
    q.stop()
    val got = spark.table("kp_out").as[(Long, String)].collect().toSet
    assert(got.contains((1L, "n=2,sum=5.0")), s"got $got")
    assert(got.contains((2L, "n=2,sum=10.0")), s"got $got")
  }

  test("KeyedProcess wall-clock timer fires after the delay elapses") {
    import graft.streaming.KeyedProcess
    import graft.streaming.KeyedProcess.Emit
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val out = KeyedProcess.processWallClock(in.toDS())(
      onInput = (_: Long, vs: Seq[Double], st: Option[Double]) => {
        val sum = st.getOrElse(0.0) + vs.sum
        Emit(Seq.empty[String], Some(sum), setTimerAtMs = Some(500L))
      },
      onTimer = (_: Long, st: Option[Double]) =>
        Emit[Double, String](Seq(s"flush:${st.getOrElse(0.0)}"), None))
    val q = out.toDF("k", "res").writeStream
      .outputMode("update").format("memory").queryName("wc_out").start()
    in.addData((1L, 2.0), (1L, 3.0))
    // NOTE: processAllAvailable() never goes idle while wall-clock timers
    // are pending (the engine keeps planning timeout-sweep batches), so
    // poll the sink with nudge rows driving batches instead.
    val deadline = System.currentTimeMillis() + 60000
    var nudge = 100L
    def fired = spark.table("wc_out").as[(Long, String)].collect()
      .exists(r => r._1 == 1L && r._2 == "flush:5.0")
    while (!fired && System.currentTimeMillis() < deadline) {
      Thread.sleep(700)
      in.addData((nudge, 0.0)) // unrelated key: drives a batch + timer sweep
      nudge += 1
    }
    val ok = fired
    q.stop()
    assert(ok, s"timer did not fire: ${spark.table("wc_out").collect().toSeq}")
  }

  test("broadcast-state pattern: dimension refresh visible to later batches") {
    import graft.streaming.BroadcastDim
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    @volatile var dimVersion = Map(1L -> "v1")
    val in = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = BroadcastDim.enrichPerBatch(
        in.toDF().toDF("k", "payload"),
        loadDim = () => dimVersion.toSeq.toDF("dk", "dim_val"),
        joinCond = (b, d) => b("k") === d("dk"))( (batch, _) =>
        results.synchronized {
          results ++= batch.select("payload", "dim_val").collect()
            .map(r => (r.getString(0), r.getString(1)))
        })
      .start()
    in.addData((1L, "e1"))
    q.processAllAvailable()
    dimVersion = Map(1L -> "v2") // control-stream update between batches
    in.addData((1L, "e2"))
    q.processAllAvailable()
    q.stop()
    assert(results.toSet == Set(("e1", "v1"), ("e2", "v2")), s"got $results")
  }

  test("stream-stream left semi join (streaming EXISTS)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long)]
    val left = l.toDF().toDF("lts", "lk", "lv").withWatermark("lts", "10 seconds")
    val right = r.toDF().toDF("rts", "rk").withWatermark("rts", "10 seconds")
    val joined = left.join(right,
      expr("lk = rk AND rts BETWEEN lts AND lts + interval 30 seconds"),
      "left_semi")
    val q = joined.select("lv").writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    l.addData((ts(100), 1L, "has-match"), (ts(100), 2L, "no-match"))
    r.addData((ts(110), 1L))
    // advance both watermarks far enough to finalize semi-join results
    l.addData((ts(400), 9L, "late-driver"))
    r.addData((ts(400), 9L))
    q.processAllAvailable()
    q.stop()
    val vs = spark.table("ssj_out").as[String].collect().toSet
    assert(vs.contains("has-match") && !vs.contains("no-match"), s"got $vs")
  }

  test("streaming window join (inner): equals the batch window join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.windowJoin(
      l.toDF().toDF("lts", "k", "lv"), "lts",
      r.toDF().toDF("rts", "k", "rv"), "rts",
      "10 seconds", "1 minute", Seq("k"))
    val q = joined.select($"w.start".cast("long").as("ws"), $"k", $"lv", $"rv")
      .writeStream.outputMode("append").format("memory").queryName("wj_out").start()
    // same window + key -> joins; same key different window -> doesn't;
    // rows arriving out of order ACROSS micro-batches still join as long
    // as they stay above the watermark (below it = late, dropped — the
    // same rule Flink's window join applies)
    l.addData((ts(10), 1L, "L1"))
    r.addData((ts(20), 1L, "R1"))
    q.processAllAvailable() // wm = min(0, 10) = 0
    l.addData((ts(15), 2L, "L3"), (ts(55), 1L, "L4"))
    r.addData((ts(30), 1L, "R3")) // second right row, same window+key
    q.processAllAvailable() // wm = min(45, 20) = 20
    l.addData((ts(70), 1L, "L2")) // next window, no right match
    r.addData((ts(130), 2L, "R2")) // next-next window, no left match
    q.processAllAvailable()
    l.addData((ts(500), 9L, "flush")) ; r.addData((ts(500), 9L, "flush"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wj_out").as[(Long, Long, String, String)].collect().toSet
    // batch ground truth: identical window bucketing + join on static data
    val lb = Seq((ts(10), 1L, "L1"), (ts(70), 1L, "L2"), (ts(15), 2L, "L3"),
      (ts(55), 1L, "L4"), (ts(500), 9L, "flush")).toDF("lts", "k", "lv")
    val rb = Seq((ts(20), 1L, "R1"), (ts(130), 2L, "R2"), (ts(30), 1L, "R3"),
      (ts(500), 9L, "flush")).toDF("rts", "k", "rv")
    val expect = lb.withColumn("w", window($"lts", "1 minute"))
      .join(rb.withColumn("w", window($"rts", "1 minute")), Seq("w", "k"))
      .select($"w.start".cast("long"), $"k", $"lv", $"rv")
      .as[(Long, Long, String, String)].collect().toSet
    assert(got == expect, s"stream $got vs batch $expect")
    assert(got.exists(_._3 == "L4"), "cross-batch row must join in its window")
  }

  test("streaming window join (left outer): unmatched rows null-pad on " +
      "window expiry, equal to the batch outer join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.windowJoin(
      l.toDF().toDF("lts", "k", "lv"), "lts",
      r.toDF().toDF("rts", "k", "rv"), "rts",
      "10 seconds", "1 minute", Seq("k"), "left_outer")
    val q = joined.select($"w.start".cast("long").as("ws"), $"k", $"lv", $"rv")
      .writeStream.outputMode("append").format("memory").queryName("wjo_out").start()
    l.addData((ts(10), 1L, "matched"), (ts(20), 2L, "unmatched"))
    r.addData((ts(30), 1L, "R1"))
    q.processAllAvailable()
    // watermark far past the window end: the unmatched left row emits
    // with a null right side (two advancing batches so the wm applies)
    l.addData((ts(500), 9L, "flush")); r.addData((ts(500), 9L, "flush"))
    q.processAllAvailable()
    l.addData((ts(510), 9L, "flush2")); r.addData((ts(510), 9L, "flush2"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wjo_out").as[(Long, Long, String, Option[String])]
      .collect().toSet
    assert(got.contains((0L, 1L, "matched", Some("R1"))), s"got $got")
    assert(got.contains((0L, 2L, "unmatched", None)), s"got $got")
  }

  test("streaming window join (full outer): both sides null-pad on expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.windowJoin(
      l.toDF().toDF("lts", "k", "lv"), "lts",
      r.toDF().toDF("rts", "k", "rv"), "rts",
      "10 seconds", "1 minute", Seq("k"), "full_outer")
    val q = joined.select($"w.start".cast("long").as("ws"), $"k", $"lv", $"rv")
      .writeStream.outputMode("append").format("memory").queryName("wjf_out").start()
    l.addData((ts(10), 1L, "both-l"), (ts(20), 2L, "left-only"))
    r.addData((ts(30), 1L, "both-r"), (ts(40), 3L, "right-only"))
    q.processAllAvailable()
    l.addData((ts(500), 9L, "fl")); r.addData((ts(500), 9L, "fl"))
    q.processAllAvailable()
    l.addData((ts(510), 9L, "fl2")); r.addData((ts(510), 9L, "fl2"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wjf_out")
      .as[(Long, Long, Option[String], Option[String])].collect().toSet
      .filterNot(t => t._3.exists(_.startsWith("fl")) || t._4.exists(_.startsWith("fl")))
    assert(got == Set(
      (0L, 1L, Some("both-l"), Some("both-r")),
      (0L, 2L, Some("left-only"), None),
      (0L, 3L, None, Some("right-only"))), s"got $got")
  }

  test("streaming window join: semi and anti variants") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    def run(joinType: String, sink: String): Set[(Long, Long, String)] = {
      val l = MemoryStream[(Timestamp, Long, String)]
      val r = MemoryStream[(Timestamp, Long, String)]
      // both ts columns share the name "ts" on purpose: the anti
      // lowering must resolve them by lineage, not by (ambiguous) name
      val joined = StreamOps.windowJoin(
        l.toDF().toDF("ts", "k", "lv"), "ts",
        r.toDF().toDF("ts", "k", "rv"), "ts",
        "10 seconds", "1 minute", Seq("k"), joinType)
      // every joinType (anti included) keeps the shared w-struct shape
      val q = joined.select($"w.start".cast("long").as("ws"), $"k", $"lv")
        .writeStream.outputMode("append").format("memory").queryName(sink).start()
      try {
        l.addData((ts(10), 1L, "has-match"), (ts(20), 2L, "no-match"))
        r.addData((ts(30), 1L, "R1"))
        q.processAllAvailable()
        l.addData((ts(500), 9L, "fl")); r.addData((ts(500), 9L, "fl"))
        q.processAllAvailable()
        l.addData((ts(510), 9L, "fl2")); r.addData((ts(510), 9L, "fl2"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).as[(Long, Long, String)].collect().toSet
        .filterNot(_._3.startsWith("fl"))
    }
    // semi: left rows WITH a same-window same-key right match, once
    assert(run("left_semi", "wjs_semi") == Set((0L, 1L, "has-match")))
    // anti: left rows WITHOUT one, emitted when their window expires
    assert(run("left_anti", "wjs_anti") == Set((0L, 2L, "no-match")))
  }

  test("stream-stream interval join within bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamOps.intervalJoin(
      l.toDF().toDF("lts", "lk", "lv"), "lts",
      r.toDF().toDF("rts", "rk", "rv"), "rts",
      "10 seconds", col("lk") === col("rk"), "0 seconds", "30 seconds")
    val q = joined.select("lv", "rv").writeStream
      .outputMode("append").format("memory").queryName("ij_out").start()
    l.addData((ts(100), 1L, "L1"))
    r.addData((ts(110), 1L, "R-in"), (ts(140), 1L, "R-out"), (ts(105), 2L, "R-wrongkey"))
    runToCompletion(q)
    val rows = spark.table("ij_out").as[(String, String)].collect().toSet
    assert(rows == Set(("L1", "R-in")))
  }

  test("idle-tolerant union: silent source no longer pins the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Source B emits one early row then goes silent while A advances far
    // past the first windows. Default min policy (= Flink without
    // withIdleness): B pins the combined watermark at 5s-10s, no window
    // ever finalizes in append mode. tolerateIdle (= withIdleness role):
    // the combined watermark follows A and the early windows emit.
    def run(tolerateIdle: Boolean, sink: String): Set[(Long, Long)] = {
      val a = MemoryStream[(Timestamp, String)]
      val b = MemoryStream[(Timestamp, String)]
      val u = StreamOps.idleTolerantUnion(
        Seq((a.toDF().toDF("ts", "v"), "ts", "10 seconds"),
          (b.toDF().toDF("ts", "v"), "ts", "10 seconds")),
        tolerateIdle)
      val agg = u.groupBy(window($"ts", "1 minute").as("w"))
        .agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("append")
        .format("memory").queryName(sink).start()
      try {
        a.addData((ts(0), "a1"), (ts(50), "a2"))
        b.addData((ts(5), "b1"))
        q.processAllAvailable()
        a.addData((ts(200), "a3")) // advances A's watermark to 190
        q.processAllAvailable()
        a.addData((ts(201), "a4")) // extra batch so the 190 watermark applies
        q.processAllAvailable()
      } finally {
        q.stop()
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "min")
      }
      spark.table(sink).select($"w.start".cast("long"), $"n")
        .as[(Long, Long)].collect().toSet
    }
    assert(run(tolerateIdle = true, "idle_max") == Set((0L, 3L)),
      "max policy must close the early window despite the idle source")
    assert(run(tolerateIdle = false, "idle_min") == Set.empty,
      "min policy must keep every window open while a source is silent")
  }

  test("streaming SESSION window TVF merges sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    in.toDF().toDF("ts", "k").withWatermark("ts", "5 seconds")
      .createOrReplaceTempView("sess_tvf_src")
    val out = WindowTvfSql.sql(spark, """
      SELECT window_start, window_end, k, COUNT(*) AS n
      FROM TABLE(SESSION(TABLE sess_tvf_src PARTITION BY k, DESCRIPTOR(ts), INTERVAL '10' SECOND))
      GROUP BY window_start, window_end, k""")
    assert(out.isStreaming, "streaming SESSION TVF must stay a streaming plan")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_tvf_out").start()
    try {
      // batch 1 opens a session [0, 15); batch 2's ts=12 is within the
      // 10s gap of ts=5, so the session must MERGE across micro-batches
      // into [0, 22); a second key opens its own session
      in.addData((ts(0), "a"), (ts(5), "a"), (ts(3), "b"))
      q.processAllAvailable()
      in.addData((ts(12), "a"))
      q.processAllAvailable()
      // advance the watermark far past the sessions, then one more batch
      // so the new watermark closes them in append mode
      in.addData((ts(100), "a"))
      q.processAllAvailable()
      in.addData((ts(101), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_tvf_out")
      .select($"window_start".cast("long"), $"window_end".cast("long"), $"k", $"n")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(rows == Set((0L, 22L, "a", 3L), (3L, 13L, "b", 1L)),
      s"session merge across batches wrong: $rows")
    spark.catalog.dropTempView("sess_tvf_src")
  }
}
