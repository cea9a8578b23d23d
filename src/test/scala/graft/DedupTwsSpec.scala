package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StatefulOps

/** Keep-last dedup (`StatefulOps.keepLastByKey`, the deduplicate
  * category) on the RocksDB state store provider vs the same operator on
  * the default provider: the state is one row per key on either store,
  * so the emissions must be identical. (Test names keep the wording of
  * the ValueState port these scripts were written for; that port is
  * gone and `StatefulOps.keepLastByKey` is the one body.) */
class DedupTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runScenario(sink: String)
      : Seq[(Long, Long, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String)]
    val out = StatefulOps.keepLastByKey(in.toDS())
    val q = out.toDF("k", "ts", "payload").writeStream
      .outputMode("update").format("memory").queryName(sink).start()
    try {
      in.addData((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "x"))
      q.processAllAvailable()
      // stale row: older ts must NOT displace the winner or re-emit
      in.addData((1L, 15L, "stale"))
      q.processAllAvailable()
      // newer row wins; tie on ts breaks by payload like the original
      in.addData((1L, 30L, "c"), (2L, 5L, "y"))
      q.processAllAvailable()
      // exact duplicate of the current winner: no emission
      in.addData((1L, 30L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, Long, String)].collect().toSeq
  }

  test("ValueState keep-last dedup equals the GroupState original") {
    val ref = runScenario(sink = "dtws_ref")
    TestSpark.withRocksDB {
      val rocks = runScenario(sink = "dtws_new")
      def multiset(rows: Seq[(Long, Long, String)]) =
        rows.groupBy(identity).view.mapValues(_.size).toMap
      assert(multiset(rocks) == multiset(ref),
        s"emissions differ:\n rocks=${rocks.sorted}\n ref=${ref.sorted}")
      // key 1 emits twice: batch 1 folds (10,a)+(20,b) into one winner
      // emission (b), batch 3 emits c; the stale row and the duplicate
      // re-send must emit nothing
      assert(rocks.count(_._1 == 1L) == 2, s"key-1 emissions: $rocks")
      assert(rocks.contains((1L, 30L, "c")) && rocks.contains((2L, 5L, "y")))
    }
  }

  test("native TTLConfig on the ValueState port: idle-key state expires") {
    // Flink's StateTtlConfig on the RocksDB provider: a stale row
    // arriving after the key idled past the ttl emits as a FRESH winner
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    TestSpark.withRocksDB {
      val in = MemoryStream[(Long, Long, String)]
      val out = StatefulOps.keepLastByKey(in.toDS(),
        ttl = Some(java.time.Duration.ofMillis(300)))
      val q = out.toDF("k", "ts", "payload").writeStream
        .outputMode("update").format("memory").queryName("dtws_ttl").start()
      // a processing-time timeout reruns batches continuously
      // (shouldRunAnotherBatch is always true there, so
      // processAllAvailable never settles) — poll the sink instead
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
        assert(cond, s"timed out waiting for $what")
      }
      def rows = spark.table("dtws_ttl").as[(Long, Long, String)].collect().toSeq
      try {
        in.addData((1L, 20L, "b"))
        await(rows.contains((1L, 20L, "b")), "first emission")
        Thread.sleep(900) // idle past the ttl
        in.addData((1L, 10L, "a")) // older than the expired winner
        await(rows.contains((1L, 10L, "a")),
          s"post-expiry stale row to emit as fresh (got $rows)")
      } finally q.stop()
    }
  }
}
