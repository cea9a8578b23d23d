package graft

import graft.streaming.{FmgwsReference, RetractTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The transformWithState retractable top-N ([[RetractTws]], the one
  * ranking implementation) must emit EXACTLY what the
  * flatMapGroupsWithState reference fold (`FmgwsReference`, test-only)
  * emits on the same scripted changelog. No order caveat here: the
  * refreshed top-N output is sorted by construction, so equality is
  * plain multiset equality per run. The script exercises the
  * load-bearing behaviors: duplicate payload counts, retraction of a top
  * row, and BACKFILL of a row from below the old cut. */
class RetractTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runScenario(useTws: Boolean, sink: String)
      : Seq[(Long, Int, Double, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double, String)]
    val out =
      if (useTws) RetractTws.retractableTopN(in.toDS(), n = 2)
      else FmgwsReference.retractableTopN(in.toDS(), n = 2)
    val q = out.toDF("k", "rank", "score", "payload").writeStream
      .outputMode("update").format("memory").queryName(sink).start()
    try {
      // build top-2 {a:30, b:20} with c:10 below the cut; duplicate b
      in.addData((1L, "+I", 30.0, "a"), (1L, "+I", 20.0, "b"),
        (1L, "+I", 10.0, "c"), (1L, "+I", 20.0, "b"), (2L, "+I", 5.0, "x"))
      q.processAllAvailable()
      // retract ONE b instance: top stays {a, b} — no emission for key 1
      in.addData((1L, "-U", 20.0, "b"))
      q.processAllAvailable()
      // retract a: b promotes, c backfills from below the old cut
      in.addData((1L, "-D", 30.0, "a"))
      q.processAllAvailable()
      // no-op retraction of an absent row must not disturb state
      in.addData((1L, "-D", 99.0, "ghost"), (2L, "+I", 7.0, "y"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Int, Double, String)].collect().toSeq
  }

  private def runChangelogScenario(useTws: Boolean, sink: String)
      : Seq[(String, Long, Int, Double, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double, String)]
    val out =
      if (useTws) RetractTws.retractableTopNChangelog(in.toDS(), n = 2)
      else FmgwsReference.retractableTopNChangelog(in.toDS(), n = 2)
    // the fMGWS reference runs in APPEND mode (delta emission, chainable
    // downstream of ChangelogNormalize); the TWS run keeps Update
    val q = out.toDF("kind", "k", "rank", "score", "payload").writeStream
      .outputMode(if (useTws) "update" else "append")
      .format("memory").queryName(sink).start()
    try {
      in.addData((1L, "+I", 30.0, "a"), (1L, "+I", 20.0, "b"))
      q.processAllAvailable()
      // retract b with nothing to backfill: rank 2 vacates -> -D
      in.addData((1L, "-D", 20.0, "b"))
      q.processAllAvailable()
      // re-fill, then retract the leader: promotion without shrink
      in.addData((1L, "+I", 25.0, "c"))
      q.processAllAvailable()
      in.addData((1L, "-D", 30.0, "a"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(String, Long, Int, Double, String)].collect().toSeq
  }

  test("MapState-backed changelog top-N equals the GroupState original") {
    val ref = runChangelogScenario(useTws = false, sink = "rtwsc_ref")
    val tws = TestSpark.withRocksDB(
      runChangelogScenario(useTws = true, sink = "rtwsc_new"))
    def multiset(rows: Seq[(String, Long, Int, Double, String)]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(tws) == multiset(ref),
      s"emissions differ:\n tws=${tws.sorted}\n ref=${ref.sorted}")
    // the vacated rank's explicit delete is present on both sides
    assert(tws.contains(("-D", 1L, 2, 20.0, "b")), tws.toString)
  }

  test("MapState-backed retractable top-N equals the GroupState original") {
    val ref = runScenario(useTws = false, sink = "rtws_ref")
    TestSpark.withRocksDB {
      val tws = runScenario(useTws = true, sink = "rtws_new")
      def multiset(rows: Seq[(Long, Int, Double, String)]) =
        rows.groupBy(identity).view.mapValues(_.size).toMap
      assert(multiset(tws) == multiset(ref),
        s"emissions differ:\n tws=${tws.sorted}\n ref=${ref.sorted}")
      // the final refresh for key 1 is the backfilled top: b then c
      assert(tws.toSet.contains((1L, 1, 20.0, "b")) &&
        tws.toSet.contains((1L, 2, 10.0, "c")), s"backfill missing: $tws")
    }
  }

  /** Same changelog script through the SORTED-COUNTS port (sort keys =
    * SortKey.ofDouble encodings, asc=false == the original's
    * descending-score rank): the (kind, key, rank, payload) emission
    * must be identical — the sorted-counts refinement changes state
    * I/O complexity, never the answer. */
  private def runSortedScenario(sink: String)
      : Seq[(String, String, Int, String, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // descending-score rank = DESC field encoding (direction baked in)
    val enc = (v: Double) => graft.util.SortKey.fieldDouble(v, asc = false)
    val in = MemoryStream[(String, String, String, String)]
    val out = RetractTws.retractableTopNChangelogSorted(in.toDS(), n = 2)
    val q = out.toDF("kind", "k", "rank", "sk", "payload").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      in.addData(("1", "+I", enc(30.0), "a"), ("1", "+I", enc(20.0), "b"))
      q.processAllAvailable()
      in.addData(("1", "-D", enc(20.0), "b"))
      q.processAllAvailable()
      in.addData(("1", "+I", enc(25.0), "c"))
      q.processAllAvailable()
      in.addData(("1", "-D", enc(30.0), "a"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(String, String, Int, String, String)].collect().toSeq
  }

  test("sorted-counts port emits exactly the GroupState original's changelog") {
    val ref = runChangelogScenario(useTws = false, sink = "rtwss_ref")
      .map { case (kind, k, rank, score, payload) =>
        (kind, k.toString, rank,
          graft.util.SortKey.fieldDouble(score, asc = false), payload) }
    val sorted = TestSpark.withRocksDB(runSortedScenario("rtwss_new"))
    def multiset(rows: Seq[(String, String, Int, String, String)]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(sorted) == multiset(ref),
      s"emissions differ:\n sorted=${sorted.sorted}\n ref=${ref.sorted}")
  }

  /** State-I/O pin for the sorted-counts port: with MANY live rows per
    * key, a micro-batch touching the key scans counts (sort keys only)
    * and point-reads payload lists only for the top region + the
    * changed keys — never all live rows. This is the
    * dataState+treeMap cost model of RetractableTopNFunction.java:56:
    * O(distinct sort keys) + O(top), not O(live). */
  test("sorted-counts port: top-N recomputation is point access, not O(live)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = (v: Long) => graft.util.SortKey.fieldLong(v, asc = false)
    val in = MemoryStream[(String, String, String, String)]
    val out = RetractTws.retractableTopNChangelogSorted(in.toDS(), n = 3)
    TestSpark.withRocksDB {
      val q = out.toDF("kind", "k", "rank", "sk", "payload").writeStream
        .outputMode("append").format("memory").queryName("rtws_probe").start()
      try {
        // 200 live rows across 100 distinct sort keys (2 payloads each)
        val bulk = (1L to 100L).flatMap(v =>
          Seq(("1", "+I", enc(v), s"p$v"), ("1", "+I", enc(v), s"q$v")))
        in.addData(bulk: _*)
        q.processAllAvailable()
        RetractTws.TopNStateStats.reset()
        // ONE new leader row lands: the batch must not materialize the
        // 200 live rows — counts scan (100 sort keys) + O(top) payload
        // point reads + 1 changed-key write
        in.addData(("1", "+I", enc(500L), "leader"))
        q.processAllAvailable()
        val scanned = RetractTws.TopNStateStats.sortKeysScanned.get()
        val reads = RetractTws.TopNStateStats.dataPointReads.get()
        val writes = RetractTws.TopNStateStats.dataPointWrites.get()
        assert(scanned >= 100 && scanned <= 101, s"counts scan: $scanned")
        // before-top (3 keys) + 1 changed-key read + after-top (3 keys)
        // ≤ 2·(n+1) + 1, far below the 200-row live set
        assert(reads <= 2 * 4 + 1, s"payload point reads: $reads")
        assert(writes == 1, s"payload point writes: $writes")
      } finally q.stop()
    }
  }

  /** Top-boundary cache (r15 — beats the reference's own asymptotics:
    * Flink re-reads its whole treeMap state every access): a batch
    * whose changes ALL sort strictly below a full top's cut key cannot
    * change the top, so it costs point writes ONLY — zero counts-scan,
    * zero emission — while its state updates stay exact (a later
    * leader retraction backfills through rows the skipped batch
    * touched). */
  test("sorted-counts port: below-cut batches skip the counts scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val enc = (v: Long) => graft.util.SortKey.fieldLong(v, asc = false)
    val in = MemoryStream[(String, String, String, String)]
    val out = RetractTws.retractableTopNChangelogSorted(in.toDS(), n = 2)
    TestSpark.withRocksDB {
      val q = out.toDF("kind", "k", "rank", "sk", "payload").writeStream
        .outputMode("append").format("memory").queryName("rtws_cut").start()
      try {
        in.addData((1L to 10L).map(v => ("1", "+I", enc(v), s"p$v")): _*)
        q.processAllAvailable()
        val base = spark.table("rtws_cut").count()
        RetractTws.TopNStateStats.reset()
        // strictly below the cut (top-2 = 10, 9; cut = enc(9)): one new
        // row at 5, one retraction at 3 — point writes only
        in.addData(("1", "+I", enc(5L), "below"), ("1", "-D", enc(3L), "p3"))
        q.processAllAvailable()
        assert(RetractTws.TopNStateStats.sortKeysScanned.get() == 0L,
          "below-cut batch paid a counts scan")
        assert(RetractTws.TopNStateStats.dataPointWrites.get() == 2L)
        assert(spark.table("rtws_cut").count() == base, "phantom emission")
        // retracting the whole 10..6 range forces the scan path and
        // backfills THROUGH the skipped batch's updates: the row added
        // below the cut surfaces, tie-broken ascending by payload
        in.addData((6L to 10L).map(v => ("1", "-D", enc(v), s"p$v")): _*)
        q.processAllAvailable()
        val rows = spark.table("rtws_cut")
          .as[(String, String, Int, String, String)].collect().toSeq
        val lastTop = rows.drop(base.toInt).filter(_._1 == "+U")
          .map(r => (r._3, r._5)).sortBy(_._1)
        assert(lastTop == Seq((1, "below"), (2, "p5")), lastTop.toString)
      } finally q.stop()
    }
  }
}
