package graft

import graft.streaming.{CoProcess, StatefulOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Every StatefulOps operator (and CoProcess) on the RocksDB state store
  * provider must emit EXACTLY what it emits on the default provider for
  * the same MemoryStream script — same rows, same per-key order (these
  * operators' outputs are deterministically ordered by construction).
  * Each test replays one script on both providers and asserts plain
  * equality of the collected sinks, plus the hand-computed expectations.
  * (Test names keep the "TWS" wording of the transformWithState ports
  * these scripts were written for; those ports are gone and the
  * flatMapGroupsWithState operator is the one body.) */
class StatefulTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  /** Runs `body` with the RocksDB state store provider, restoring the
    * previous provider after. */
  def withRocksDB[T](body: => T): T = TestSpark.withRocksDB(body)

  // ---- event-time sort -------------------------------------------------

  private def runSort(sink: String): Seq[(Long, Long, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, String)]
    val out = StatefulOps.eventTimeSort(watermarked)
    val q = out.toDF("k", "t", "v").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData((1L, ts(100), "c"), (1L, ts(50), "a"), (1L, ts(80), "b"),
        (2L, ts(60), "x"))
      q.processAllAvailable()
      in.addData((1L, ts(200), "d"), (1L, ts(5), "late-dropped"))
      q.processAllAvailable()
      in.addData((1L, ts(500), "z")) // pushes watermark; releases 200
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, String)].collect().toSeq
  }

  test("TWS event-time sort emits exactly the fMGWS original's rows") {
    val ref = runSort("twss_sort_ref")
    val rocks = withRocksDB { runSort("twss_sort_new") }
    assert(rocks == ref, s"rocks=$rocks ref=$ref")
    assert(ref.nonEmpty && !ref.exists(_._3 == "late-dropped"))
  }

  // ---- running sum (unbounded-preceding OVER) --------------------------

  private def runRunning(sink: String): Seq[(Long, Long, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Double)]
    val out = StatefulOps.runningSumByKey(watermarked)
    val q = out.toDF("k", "t", "v", "running").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      // the NaN row is a NULL-sentinel input (the SQL layer's encoding):
      // both runs must skip it, not poison the accumulator
      in.addData((1L, ts(100), 3.0), (1L, ts(50), 1.0), (1L, ts(80), 2.0),
        (1L, ts(60), Double.NaN))
      q.processAllAvailable()
      in.addData((1L, ts(200), 4.0))
      q.processAllAvailable()
      in.addData((1L, ts(500), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Double, Double)].collect().toSeq
  }

  test("TWS running sum: exact equality incl. accumulator persistence") {
    val ref = runRunning("twss_rs_ref")
    val rocks = withRocksDB { runRunning("twss_rs_new") }
    // NaN-safe comparison: Scala's == on Double treats NaN != NaN
    def canon(s: Seq[(Long, Long, Double, Double)]) =
      s.map { case (k, t, v, r) => (k, t, v.toString, r.toString) }
    assert(canon(rocks) == canon(ref), s"rocks=$rocks ref=$ref")
    // sanity: running sums follow event time; the NaN input at t=60
    // reads the unchanged accumulator
    assert(ref.map(r => (r._2, r._4)).take(5) ==
      Seq((50000L, 1.0), (60000L, 1.0), (80000L, 3.0), (100000L, 6.0),
        (200000L, 10.0)))
  }

  // ---- bounded ROWS frame OVER ----------------------------------------

  private def runRowsBounded(sink: String): Seq[(Long, Long, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Double)]
    val out = StatefulOps.rowsBoundedSumByKey(watermarked, nRows = 3)
    val q = out.toDF("k", "t", "v", "frame_sum").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData((1L, ts(10), 1.0), (1L, ts(20), 2.0), (1L, ts(30), 3.0), (1L, ts(40), 4.0))
      q.processAllAvailable()
      in.addData((1L, ts(100), 5.0)) // releases 10..40 (wm=90)
      q.processAllAvailable()
      in.addData((1L, ts(200), 6.0)) // releases 100
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Double, Double)].collect().toSeq
  }

  test("TWS bounded ROWS frame: exact equality incl. frame carry-over") {
    val ref = runRowsBounded("twss_rb_ref")
    val rocks = withRocksDB { runRowsBounded("twss_rb_new") }
    assert(rocks == ref, s"rocks=$rocks ref=$ref")
    // frame ROWS 2 PRECEDING..CURRENT: 1, 3, 6, 9 then (3+4+5)=12 across batches
    assert(ref.map(_._4) == Seq(1.0, 3.0, 6.0, 9.0, 12.0))
  }

  // ---- bounded RANGE frame OVER ---------------------------------------

  private def runRangeBounded(sink: String): Seq[(Long, Long, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Double)]
    val out = StatefulOps.rangeBoundedSumByKey(watermarked, rangeMs = 15000L)
    val q = out.toDF("k", "t", "v", "frame_sum").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData((1L, ts(10), 1.0), (1L, ts(20), 2.0), (1L, ts(32), 3.0),
        (1L, ts(32), 2.5), (1L, ts(45), 4.0)) // tie at t=32: SQL peers
      q.processAllAvailable()
      in.addData((1L, ts(100), 5.0)) // releases 10..45 (wm=90)
      q.processAllAvailable()
      in.addData((1L, ts(200), 6.0)) // releases 100
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Double, Double)].collect().toSeq
  }

  test("TWS bounded RANGE frame: exact equality incl. time-based eviction") {
    val ref = runRangeBounded("twss_rg_ref")
    val rocks = withRocksDB { runRangeBounded("twss_rg_new") }
    assert(rocks == ref, s"rocks=$rocks ref=$ref")
    // RANGE 15s: 1; 1+2; the t=32 PEERS both read 2+2.5+3 (10 evicted);
    // 2.5+3+4 at 45 (20 evicted); 5 alone — tied rowtimes share one value
    assert(ref.map(_._4) == Seq(1.0, 3.0, 7.5, 7.5, 9.5, 5.0))
    // batch cross-check: Spark's own RANGE frame has the same peer rule
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val batch = Seq((1L, ts(10), 1.0), (1L, ts(20), 2.0), (1L, ts(32), 3.0),
        (1L, ts(32), 2.5), (1L, ts(45), 4.0), (1L, ts(100), 5.0))
      .toDF("k", "ts", "v")
      .select(col("k"), (col("ts").cast("long") * 1000).as("t"), col("v"),
        sum("v").over(Window.partitionBy("k")
          .orderBy(col("ts").cast("long") * 1000).rangeBetween(-15000, 0))
          .as("frame_sum"))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(ref.toSet == batch, s"stream ${ref.toSet} != batch $batch")
  }

  // ---- unbounded RANGE frame OVER (SQL default; peers share) ----------

  private def runRangeRunning(sink: String): Seq[(Long, Long, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val watermarked = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Double)]
    val out = StatefulOps.rangeRunningSumByKey(watermarked)
    val q = out.toDF("k", "t", "v", "run_sum").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData((1L, ts(10), 1.0), (1L, ts(20), 3.0), (1L, ts(20), 2.0))
      q.processAllAvailable()
      in.addData((1L, ts(100), 5.0)) // releases 10, 20, 20 (wm=90)
      q.processAllAvailable()
      in.addData((1L, ts(200), 6.0)) // releases 100: accumulator carried
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Double, Double)].collect().toSeq
  }

  test("TWS unbounded RANGE frame: exact equality; tied rowtimes share") {
    val ref = runRangeRunning("twss_rr_ref")
    val rocks = withRocksDB { runRangeRunning("twss_rr_new") }
    assert(rocks == ref, s"rocks=$rocks ref=$ref")
    // the SQL default frame: both t=20 peers read 1+2+3, not 3-then-6
    assert(ref.map(_._4) == Seq(1.0, 6.0, 6.0, 11.0))
  }

  // ---- fused multi-slot OVER ------------------------------------------

  private def runOverAggs(sink: String,
      frame: graft.streaming.StatefulOps.OverFrame)
      : Seq[(Long, Long, Seq[Double], Seq[Double])] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.SlotOp
    implicit val sqlCtx = spark.sqlContext
    val ops = Vector[SlotOp](SlotOp.Sum, SlotOp.Min)
    val in = MemoryStream[(Long, Timestamp, Seq[Double])]
    val watermarked = in.toDF().toDF("k", "ts", "vs")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Seq[Double])]
    val out = StatefulOps.overAggsByKey(watermarked, frame, ops)
    val q = out.toDF("k", "t", "vs", "aggs").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      // out-of-order + a tie at t=20 + a NaN (NULL-sentinel) min input
      in.addData((1L, ts(30), Seq(3.0, 7.0)), (1L, ts(10), Seq(1.0, Double.NaN)),
        (1L, ts(20), Seq(2.0, 5.0)), (1L, ts(20), Seq(2.5, 4.0)))
      q.processAllAvailable()
      in.addData((1L, ts(100), Seq(4.0, 6.0))) // releases 10..30
      q.processAllAvailable()
      in.addData((1L, ts(200), Seq(0.0, 9.0))) // releases 100: state carry
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Seq[Double], Seq[Double])].collect().toSeq
  }

  test("TWS fused OVER: exact equality across frames, ties, NaN slots") {
    import graft.streaming.StatefulOps.OverFrame
    def canon(s: Seq[(Long, Long, Seq[Double], Seq[Double])]) =
      s.map { case (k, t, vs, ag) => (k, t, vs.mkString(","), ag.mkString(",")) }
    for ((frame, tag) <- Seq(
        (OverFrame.Rows(2), "rows"),
        (OverFrame.Range(15000L), "range"),
        (OverFrame.UnboundedRange, "urange"),
        (OverFrame.Unbounded: OverFrame, "unb"))) {
      val ref = runOverAggs(s"twss_oa_${tag}_ref", frame)
      val rocks = withRocksDB { runOverAggs(s"twss_oa_${tag}_new", frame) }
      assert(canon(rocks) == canon(ref), s"[$tag] rocks=$rocks ref=$ref")
      assert(ref.size == 5, s"[$tag] expected 5 released rows, got $ref")
    }
    // spot-pin the RANGE peer rule on the reference output: both t=20 rows
    // share one aggregate under a RANGE frame
    val rng = runOverAggs("twss_oa_pin", OverFrame.Range(15000L))
      .filter(_._2 == 20000L).map(_._4)
    assert(rng.size == 2 && rng.distinct.size == 1, s"peers differ: $rng")
  }

  private def runOverMulti(sink: String)
      : Seq[(Long, Long, Seq[Double], Seq[Double])] = {
    import spark.implicits._
    import graft.streaming.StatefulOps.{OverFrame, SlotOp}
    implicit val sqlCtx = spark.sqlContext
    // four slots, four DIFFERENT frames incl. First/Last ops (r8
    // Slots.Multi): slot 0 SUM over ROWS-2, slot 1 MIN over RANGE-15s,
    // slot 2 FIRST over unbounded-range, slot 3 LAST over unbounded rows
    val ops = Vector[SlotOp](SlotOp.Sum, SlotOp.Min, SlotOp.First, SlotOp.Last)
    val frames = Vector[OverFrame](OverFrame.Rows(2), OverFrame.Range(15000L),
      OverFrame.UnboundedRange, OverFrame.Unbounded)
    val in = MemoryStream[(Long, Timestamp, Seq[Double])]
    val watermarked = in.toDF().toDF("k", "ts", "vs")
      .withWatermark("ts", "10 seconds").as[(Long, Timestamp, Seq[Double])]
    val out = StatefulOps.overMultiAggsByKey(watermarked, frames, ops)
    val q = out.toDF("k", "t", "vs", "aggs").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData((1L, ts(30), Seq(3.0, 7.0, 3.0, 7.0)),
        (1L, ts(10), Seq(1.0, Double.NaN, Double.NaN, 1.0)),
        (1L, ts(20), Seq(2.0, 5.0, 2.0, Double.NaN)),
        (1L, ts(20), Seq(2.5, 4.0, 2.5, 4.0)))
      q.processAllAvailable()
      in.addData((1L, ts(100), Seq(4.0, 6.0, 4.0, 6.0)))
      q.processAllAvailable()
      in.addData((1L, ts(200), Seq(0.0, 9.0, 0.0, 9.0)))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, Seq[Double], Seq[Double])].collect().toSeq
  }

  test("TWS multi-frame OVER: per-slot frames + First/Last, exact equality") {
    def canon(s: Seq[(Long, Long, Seq[Double], Seq[Double])]) =
      s.sortBy(r => (r._2, r._3.mkString(",")))
        .map { case (k, t, vs, ag) => (k, t, vs.mkString(","), ag.mkString(",")) }
    val ref = runOverMulti("twss_om_ref")
    val rocks = withRocksDB { runOverMulti("twss_om_new") }
    assert(canon(rocks) == canon(ref), s"rocks=$rocks ref=$ref")
    assert(ref.size == 5, s"expected 5 released rows, got $ref")
    // pin the per-slot semantics on the released t=30 row: SUM over the
    // last 2 rows (Rows(2)), MIN over [15s,30s], FIRST non-null ever
    // (2.0 — the t=10 slot-2 input is the NULL sentinel), LAST non-null
    // so far (7.0)
    val r30 = ref.find(_._2 == 30000L).get._4
    assert(r30(0) == 2.5 + 3.0, s"sum slot: $r30")
    assert(r30(1) == 4.0, s"min slot: $r30")
    assert(r30(2) == 2.0, s"first slot: $r30")
    assert(r30(3) == 7.0, s"last slot: $r30")
  }

  // ---- append-only top-N ----------------------------------------------

  private def runTopN(sink: String): Seq[(String, Int, Double, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double, String)]
    val out = StatefulOps.topNPerKey(in.toDS(), n = 2)
    val q = out.toDF("k", "rank", "score", "payload").writeStream
      .outputMode("update").format("memory").queryName(sink).start()
    try {
      in.addData(("a", 5.0, "x"), ("a", 9.0, "y"), ("a", 1.0, "z"), ("a", 5.0, "x"))
      q.processAllAvailable()
      in.addData(("a", 0.5, "below-cut")) // no change -> must emit nothing
      q.processAllAvailable()
      in.addData(("a", 7.0, "w"), ("b", 2.0, "q"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(String, Int, Double, String)].collect().toSeq
  }

  test("TWS top-N (counted MapState): exact equality incl. emit-on-change") {
    val ref = runTopN("twss_topn_ref")
    val rocks = withRocksDB { runTopN("twss_topn_new") }
    // per-key emission sequences must match exactly (cross-key interleaving
    // inside a batch is partition-order-dependent for both)
    def perKey(rows: Seq[(String, Int, Double, String)]) =
      rows.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(perKey(rocks) == perKey(ref), s"rocks=$rocks ref=$ref")
    val aRows = perKey(ref)("a")
    assert(aRows.takeRight(2).map(r => (r._2, r._4)) == Seq((1, "y"), (2, "w")))
  }

  // ---- connected streams (CoProcess) ----------------------------------

  private def runConnect(sink: String): Seq[(Long, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lhs = MemoryStream[(Long, Timestamp, String)]
    val rhs = MemoryStream[(Long, Timestamp, Long)]
    // shared state: last right-side number; left emits payload+number
    def onLeft(k: Long, t: Long, v: String, s: Option[Long]) =
      CoProcess.Emit[Long, String](Seq(s"$v:${s.getOrElse(-1L)}"), s)
    def onRight(k: Long, t: Long, v: Long, s: Option[Long]) =
      CoProcess.Emit[Long, String](Nil, Some(v))
    val out = CoProcess.connect(lhs.toDS(), rhs.toDS())(onLeft, onRight)
    // stage batch 1 on BOTH sides before start: a started query may form
    // its first batch between two addData calls, splitting the script
    lhs.addData((1L, ts(5), "a"))
    rhs.addData((1L, ts(1), 10L)) // earlier event time: applies before "a"
    val q = out.toDF("k", "o").writeStream
      .outputMode("update").format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      rhs.addData((1L, ts(20), 30L))
      q.processAllAvailable() // own batch: no cross-stream batch races
      lhs.addData((1L, ts(25), "b"), (1L, ts(15), "mid"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, String)].collect().toSeq
  }

  test("TWS CoProcess connect: exact equality of interleaved replay") {
    val ref = runConnect("twss_cp_ref")
    val rocks = withRocksDB { runConnect("twss_cp_new") }
    assert(rocks == ref, s"rocks=$rocks ref=$ref")
    // batch 1 replays right(t=1) before left(t=5); batch 3's rows both see
    // the state 30 written in batch 2 (batch boundary = replay boundary)
    assert(ref == Seq((1L, "a:10"), (1L, "mid:30"), (1L, "b:30")))
  }
}
