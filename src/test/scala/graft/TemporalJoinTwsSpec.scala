package graft

import graft.streaming.TemporalJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** `TemporalJoin.temporalJoin` on the RocksDB state store provider must
  * emit EXACTLY what it emits on the default provider — where the
  * version history (TemporalRowTimeJoinOperator.java:78's rightState)
  * is stored never changes the answer. Output is deterministically
  * ordered per key (watermark-driven event-time release), so the specs
  * assert plain equality, covering version selection, late drops,
  * retention, and the idle TTL. (Test names keep the "TWS" wording of
  * the transformWithState port these scripts were written for; that
  * port is gone and `TemporalJoin` is the one body.) */
class TemporalJoinTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  private def withRocksDB[T](body: => T): T = TestSpark.withRocksDB(body)

  private def runScript(sink: String, maxIdleMs: Long)
      : Seq[(Long, Long, String, Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[(Long, Timestamp, String)]
    val versions = MemoryStream[(Long, Timestamp, String)]
    val out =
      TemporalJoin.temporalJoin(facts.toDS(), versions.toDS(), "10 seconds", maxIdleMs)
    // stage batch 1 on BOTH sides before start: a started query may form
    // its first batch between two addData calls, splitting the script
    versions.addData((1L, ts(10), "v1"), (1L, ts(50), "v2"), (2L, ts(5), "w1"))
    facts.addData((1L, ts(30), "f-between"), (1L, ts(60), "f-after"),
      (2L, ts(8), "f2"), (3L, ts(40), "f-nodim"))
    val q = out.toDF("k", "t", "fact", "version").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      facts.addData((1L, ts(100), "f-late-wave")) // advances wm, releases batch-1 facts
      q.processAllAvailable()
      versions.addData((1L, ts(95), "v3"))
      q.processAllAvailable() // own batch: no cross-stream batch races
      facts.addData((1L, ts(200), "f-final"), (1L, ts(1), "dropped-late"))
      q.processAllAvailable()
      facts.addData((1L, ts(400), "f-flush")) // releases 100 (v3) and 200
      q.processAllAvailable()
      facts.addData((1L, ts(600), "f-tail")) // releases 400
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, String, Option[String])].collect().toSeq
  }

  test("TWS temporal join: exact equality on versioned history + late drops") {
    val ref = runScript("tjtws_ref", maxIdleMs = 0L)
    val rocks = withRocksDB { runScript("tjtws_new", maxIdleMs = 0L) }
    def perKey(rows: Seq[(Long, Long, String, Option[String])]) =
      rows.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(perKey(rocks) == perKey(ref), s"rocks=$rocks ref=$ref")
    val k1 = perKey(ref)(1L).map(r => (r._3, r._4))
    assert(k1.contains(("f-between", Some("v1"))) && k1.contains(("f-after", Some("v2"))))
    assert(!ref.exists(_._3 == "dropped-late"))
    assert(perKey(ref)(3L).map(_._4) == Seq(None)) // no dimension -> NULL pad
  }

  test("TWS temporal join: idle TTL expires a silent key's version state") {
    val ref = runScript("tjtws_idle_ref", maxIdleMs = 60000L)
    val rocks = withRocksDB { runScript("tjtws_idle_new", maxIdleMs = 60000L) }
    def perKey(rows: Seq[(Long, Long, String, Option[String])]) =
      rows.groupBy(_._1).view.mapValues(_.toSeq).toMap
    assert(perKey(rocks) == perKey(ref), s"rocks=$rocks ref=$ref")
  }

  private def runEdgeScript(sink: String, maxIdleMs: Long)
      : Seq[(Long, Long, String, Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val facts = MemoryStream[(Long, Timestamp, String)]
    val versions = MemoryStream[(Long, Timestamp, String)]
    val out =
      TemporalJoin.temporalJoin(facts.toDS(), versions.toDS(), "0 seconds", maxIdleMs)
    // DUPLICATE version timestamps: both providers must match the
    // (t, payload)-max ("vb" > "va" lexicographically)
    versions.addData((1L, ts(10), "vb"), (1L, ts(10), "va"))
    facts.addData((1L, ts(20), "f1"))
    val q = out.toDF("k", "t", "fact", "version").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      facts.addData((1L, ts(30), "f2")) // advances wm past f1
      q.processAllAvailable()
      // watermark JUMP releasing f2 and passing the idle horizon in the
      // SAME firing: the retained version must expire with it, so f3
      // (arriving later, fresh activity) pads NULL, not the stale "vb"
      facts.addData((1L, ts(5000), "f3"))
      q.processAllAvailable()
      facts.addData((1L, ts(5010), "f4"))
      q.processAllAvailable()
      facts.addData((1L, ts(9000), "flush"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, String, Option[String])].collect().toSeq
  }

  test("TWS temporal join: duplicate version timestamps + same-firing idle expiry") {
    Seq(0L, 60000L).foreach { idle =>
      val ref = runEdgeScript(s"tjtws_edge_ref_$idle", idle)
      val rocks = withRocksDB { runEdgeScript(s"tjtws_edge_new_$idle", idle) }
      assert(rocks.sortBy(r => (r._1, r._2)) == ref.sortBy(r => (r._1, r._2)),
        s"idle=$idle rocks=$rocks ref=$ref")
      // the duplicate-t tie resolves to the payload-max in both
      assert(ref.exists(r => r._3 == "f1" && r._4 == Some("vb")), ref.toString)
    }
  }
}
