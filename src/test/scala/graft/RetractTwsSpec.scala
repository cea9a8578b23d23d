package graft

import graft.streaming.{FmgwsReference, RetractTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The transformWithState retractable top-N ([[RetractTws]], the one
  * ranking implementation) must emit EXACTLY what the
  * flatMapGroupsWithState reference fold (`FmgwsReference`, test-only)
  * emits on the same scripted changelog. Scores rank highest-first: the
  * sorted port reads each score as a DESC
  * [[graft.util.SortKey.fieldDouble]] sort key, and the reference's
  * emissions are compared in that encoding. No order caveat here: the
  * emitted changelog is a function of each batch's net changes, so
  * equality is plain multiset equality per run. The scripts exercise the
  * load-bearing behaviors: duplicate payload counts, retraction of a top
  * row, BACKFILL of a row from below the old cut, and the explicit -D of
  * a vacated rank. */
class RetractTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Change = (Long, String, Double, String) // (key, kind, score, payload)
  private type Emitted = (String, Long, Int, String, String) // (kind, key, rank, sortKey, payload)

  private def enc(score: Double): String =
    graft.util.SortKey.fieldDouble(score, asc = false)

  /** Build top-2 {a:30, b:20} with c:10 below the cut and a duplicate b;
    * retract ONE b instance (top unchanged — no emission for key 1);
    * retract a (b promotes, c backfills from below the old cut); a no-op
    * retraction of an absent row must not disturb state. */
  private val backfillScript: Seq[Seq[Change]] = Seq(
    Seq((1L, "+I", 30.0, "a"), (1L, "+I", 20.0, "b"), (1L, "+I", 10.0, "c"),
      (1L, "+I", 20.0, "b"), (2L, "+I", 5.0, "x")),
    Seq((1L, "-U", 20.0, "b")),
    Seq((1L, "-D", 30.0, "a")),
    Seq((1L, "-D", 99.0, "ghost"), (2L, "+I", 7.0, "y")))

  /** Retract b with nothing to backfill (rank 2 vacates -> -D), re-fill,
    * then retract the leader: promotion without shrink. */
  private val changelogScript: Seq[Seq[Change]] = Seq(
    Seq((1L, "+I", 30.0, "a"), (1L, "+I", 20.0, "b")),
    Seq((1L, "-D", 20.0, "b")),
    Seq((1L, "+I", 25.0, "c")),
    Seq((1L, "-D", 30.0, "a")))

  /** `script` through the GroupState reference, its scores re-read as
    * the sorted port's sort keys. */
  private def runReference(script: Seq[Seq[Change]], sink: String): Seq[Emitted] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    // the fMGWS reference runs in APPEND mode (delta emission, chainable
    // downstream of ChangelogNormalize)
    val q = FmgwsReference.retractableTopNChangelog(in.toDS(), n = 2)
      .toDF("kind", "k", "rank", "score", "payload").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try script.foreach { batch => in.addData(batch); q.processAllAvailable() }
    finally q.stop()
    spark.table(sink).as[(String, Long, Int, Double, String)].collect().toSeq
      .map { case (kind, k, rank, score, payload) => (kind, k, rank, enc(score), payload) }
  }

  /** `script` through [[RetractTws.retractableTopNChangelogSorted]],
    * keyed by the Long key or (`stringKey`) by its decimal String; the
    * emitted key is read back as a Long either way. */
  private def runSortedPort(script: Seq[Seq[Change]], sink: String,
      stringKey: Boolean = false): Seq[Emitted] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, String)]
    val out =
      if (stringKey) RetractTws.retractableTopNChangelogSorted(
        in.toDS().map { case (k, kind, sk, p) => (k.toString, kind, sk, p) }, n = 2).toDF()
      else RetractTws.retractableTopNChangelogSorted(in.toDS(), n = 2).toDF()
    val q = out.toDF("kind", "k", "rank", "sk", "payload").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try script.foreach { batch =>
      in.addData(batch.map { case (k, kind, score, p) => (k, kind, enc(score), p) })
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).select($"kind", $"k".cast("long"), $"rank", $"sk", $"payload")
      .as[Emitted].collect().toSeq
  }

  private def multiset[T](rows: Seq[T]) = rows.groupBy(identity).view.mapValues(_.size).toMap

  test("MapState-backed changelog top-N equals the GroupState original") {
    val ref = runReference(changelogScript, sink = "rtwsc_ref")
    // the sorted port keyed by Long and by String emits the same changelog
    Seq(false -> "rtwsc_new", true -> "rtwss_new").foreach { case (stringKey, sink) =>
      val tws = TestSpark.withRocksDB(runSortedPort(changelogScript, sink, stringKey))
      assert(multiset(tws) == multiset(ref),
        s"stringKey=$stringKey emissions differ:\n tws=${tws.sorted}\n ref=${ref.sorted}")
      // the vacated rank's explicit delete is present on both sides
      assert(tws.contains(("-D", 1L, 2, enc(20.0), "b")), tws.toString)
    }
  }

  test("MapState-backed retractable top-N equals the GroupState original") {
    val ref = runReference(backfillScript, sink = "rtws_ref")
    TestSpark.withRocksDB {
      val tws = runSortedPort(backfillScript, sink = "rtws_new")
      assert(multiset(tws) == multiset(ref),
        s"emissions differ:\n tws=${tws.sorted}\n ref=${ref.sorted}")
      // the final refresh for key 1 is the backfilled top: b then c
      assert(tws.toSet.contains(("+U", 1L, 1, enc(20.0), "b")) &&
        tws.toSet.contains(("+U", 1L, 2, enc(10.0), "c")), s"backfill missing: $tws")
    }
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
