package graft

import graft.TestSpark.stringKeyed
import graft.streaming.{FmgwsReference, StreamJoinTws}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The transformWithState retraction joins ([[StreamJoinTws]], the one
  * implementation, with per-entry MapState handles; String-keyed like the
  * SQL join route that runs them) must be NET-EQUAL to
  * the flatMapGroupsWithState reference fold (`FmgwsReference`,
  * test-only, one counted-multiset GroupState per key) on the same
  * scripted changelogs. Emission ORDER may differ (MapState iteration
  * order is store-defined), so the assertions pin the net
  * materialization and the per-kind counts, both order-independent. */
class StreamJoinTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runScenario(useTws: Boolean, sink: String)
      : Seq[(Long, String, String, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lhs = MemoryStream[(Long, String, String)]
    val rhs = MemoryStream[(Long, String, String)]
    val out =
      if (useTws) StreamJoinTws.innerJoinChangelog(stringKeyed(lhs), stringKeyed(rhs))
        .map { case (k, kind, l, r) => (k.toLong, kind, l, r) }
      else FmgwsReference.innerJoin(lhs.toDS(), rhs.toDS())
    // the TWS body emits its delta changelog in APPEND mode
    val q = out.toDF("k", "kind", "l", "r").writeStream
      .outputMode(if (useTws) "append" else "update")
      .format("memory").queryName(sink).start()
    try {
      lhs.addData((1L, "+I", "l1"), (1L, "+I", "l2"), (2L, "+I", "lx"))
      q.processAllAvailable()
      rhs.addData((1L, "+I", "r1"), (1L, "+I", "r1")) // duplicate payload: count 2
      q.processAllAvailable()
      lhs.addData((1L, "-U", "l1"), (1L, "+U", "l1b"), (2L, "-D", "lx"))
      rhs.addData((1L, "-D", "r1"), (2L, "+I", "ry"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, String, String, String)].collect().toSeq
  }

  private def runOuterScenario(useTws: Boolean, mode: String, sink: String)
      : Seq[(Long, String, Option[String], Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lhs = MemoryStream[(Long, String, String)]
    val rhs = MemoryStream[(Long, String, String)]
    val out: org.apache.spark.sql.Dataset[(Long, String, Option[String], Option[String])] =
      (useTws, mode) match {
        case (true, _) =>
          StreamJoinTws.outerJoinChangelog(stringKeyed(lhs), stringKeyed(rhs),
            padLeft = mode != "right", padRight = mode != "left")
            .map { case (k, kind, l, r) => (k.toLong, kind, l, r) }
        case (false, "left") =>
          FmgwsReference.leftOuterJoin(lhs.toDS(), rhs.toDS())
            .map { case (k, kind, l, r) => (k, kind, Option(l), r) }
        case (false, "right") =>
          FmgwsReference.rightOuterJoin(lhs.toDS(), rhs.toDS())
            .map { case (k, kind, l, r) => (k, kind, l, Option(r)) }
        case (false, _) => FmgwsReference.fullOuterJoin(lhs.toDS(), rhs.toDS())
      }
    val q = out.toDF("k", "kind", "l", "r").writeStream
      .outputMode(if (useTws) "append" else "update")
      .format("memory").queryName(sink).start()
    try {
      lhs.addData((1L, "+I", "l1")) // unmatched: pad on left/full
      q.processAllAvailable()
      rhs.addData((1L, "+I", "r1"), (2L, "+I", "r-solo")) // pad era ends for k=1
      q.processAllAvailable()
      rhs.addData((1L, "-D", "r1")) // back to pad
      lhs.addData((2L, "+I", "l2")) // k=2 right pad retracts on left arrival
      q.processAllAvailable()
      lhs.addData((1L, "-D", "l1")) // pad retracted for good
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink).as[(Long, String, Option[String], Option[String])].collect().toSeq
  }

  private def net(rows: Seq[(Long, String, Option[String], Option[String])]) =
    rows.groupBy(r => (r._1, r._3, r._4)).view
      .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
      .filter(_._2 != 0).toMap
  private def kinds(rows: Seq[(Long, String, Option[String], Option[String])]) =
    rows.groupBy(_._2).view.mapValues(_.size).toMap

  test("MapState-backed outer joins are net-equal to the GroupState originals") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    for (mode <- Seq("left", "right", "full")) {
      val ref = runOuterScenario(useTws = false, mode, s"sjtws_${mode}_ref")
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val tws = runOuterScenario(useTws = true, mode, s"sjtws_${mode}_new")
        assert(net(tws) == net(ref), s"[$mode] net differs: tws=${net(tws)} ref=${net(ref)}")
        assert(kinds(tws) == kinds(ref),
          s"[$mode] emission counts differ: tws=${kinds(tws)} ref=${kinds(ref)}")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    // end-state sanity for full outer: k=1 all retracted, k=2 live pair
    val full = runOuterScenario(useTws = false, "full", "sjtws_full_sanity")
    assert(net(full) == Map((2L, Some("l2"), Some("r-solo")) -> 1))
  }

  /** State-I/O probe on the inner-join port's MapState views (the
    * TopNStateStats pattern): applying ONE change costs one point write
    * on its OWN side plus an iteration of the OTHER side's live entries
    * — the emission's inherent O(matches) cost
    * (StreamingJoinOperator's otherSideStateView.getRecords). The own
    * side is never scanned: the iteration counter equals exactly the
    * other-side live-entry totals, with nothing on top. */
  test("inner-join state I/O is point writes + other-side iteration only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val lhs = MemoryStream[(String, String, String)]
      val rhs = MemoryStream[(String, String, String)]
      val out = StreamJoinTws.innerJoinChangelog(lhs.toDS(), rhs.toDS())
      StreamJoinTws.JoinStateStats.reset()
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("append").format("memory").queryName("sjtws_probe").start()
      try {
        // 5 left adds against an EMPTY right side: 5 point writes,
        // zero other-side entries to iterate
        lhs.addData((1 to 5).map(i => ("k", "+I", s"l$i")): _*)
        q.processAllAvailable()
        assert(StreamJoinTws.JoinStateStats.pointWrites.get() == 5L)
        assert(StreamJoinTws.JoinStateStats.otherSideEntriesIterated.get() == 0L)
        // ONE right add: 1 point write, iterates the left side's 5 live
        // entries (the 5 emitted matches — inherent), own side untouched
        rhs.addData(("k", "+I", "r1"))
        q.processAllAvailable()
        assert(StreamJoinTws.JoinStateStats.pointWrites.get() == 6L)
        assert(StreamJoinTws.JoinStateStats.otherSideEntriesIterated.get() == 5L)
        // retracting it is symmetric: 1 point write, 5 iterated deletes
        rhs.addData(("k", "-D", "r1"))
        q.processAllAvailable()
        assert(StreamJoinTws.JoinStateStats.pointWrites.get() == 7L)
        assert(StreamJoinTws.JoinStateStats.otherSideEntriesIterated.get() == 10L)
        val rows = spark.table("sjtws_probe")
          .as[(String, String, String, String)].collect().toSeq
        assert(rows.count(_._2 == "+I") == 5 && rows.count(_._2 == "-D") == 5)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The FUSED normalize+join port (r16: upsert key = join key folds the
    * ChangelogNormalize keep-last state INTO the join processor — one
    * state boundary instead of two) must be NET-equal to the chained
    * normalizeUpsert -> join composition on scripted upsert histories
    * covering every normalize transition: first sight, payload change,
    * unchanged re-upsert, stale (lower-seq) row, delete, re-upsert after
    * delete, delete-of-absent — against a multiset left side. */
  private def runFusedScenario(fused: Boolean, padLeft: Boolean, sink: String)
      : Seq[(String, String, Option[String], Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lhs = MemoryStream[(String, String, String)]          // (key, kind, payload)
    val rhs = MemoryStream[(String, Long, String, Boolean)]   // (key, seq, payload, isDelete)
    val out: org.apache.spark.sql.Dataset[(String, String, Option[String], Option[String])] =
      if (fused) {
        val lT = lhs.toDS().map(t => (0, t._1, t._2, t._3, 0L))
        val rT = rhs.toDS().map(t =>
          (1, t._1, if (t._4) "-D" else "+U", t._3, t._2))
        StreamJoinTws.fusedJoinChangelog(lT.union(rT),
          padLeft = padLeft, padRight = false,
          upsertL = false, upsertR = true)
      } else {
        val normalized = graft.streaming.StatefulOps
          .normalizeUpsert(rhs.toDS().map(t => (t._1, t._2, t._3, t._4)))
          .map { case (kind, k, _, payload) => (k, kind, payload) }
        if (padLeft)
          StreamJoinTws.outerJoinChangelog(lhs.toDS(), normalized,
            padLeft = true, padRight = false)
        else StreamJoinTws.innerJoinChangelog(lhs.toDS(), normalized)
          .map(t => (t._1, t._2, Option(t._3), Option(t._4)))
      }
    val q = out.toDF("k", "kind", "l", "r").writeStream
      .outputMode("append").format("memory").queryName(sink).start()
    try {
      // commit 1: left multiset (duplicate payload on k1), right images
      lhs.addData(("k1", "+I", "l1"), ("k1", "+I", "l1"), ("k1", "+I", "l2"),
        ("k2", "+I", "lx"), ("k3", "+I", "ly"))
      rhs.addData(("k1", 1L, "r1", false), ("k2", 1L, "r2", false))
      q.processAllAvailable()
      // commit 2: payload change (k1), unchanged re-upsert (k2), stale
      // row (k1 seq 0 must drop), first sight (k3)
      rhs.addData(("k1", 2L, "r1b", false), ("k2", 2L, "r2", false),
        ("k1", 0L, "r-stale", false), ("k3", 2L, "r3", false))
      q.processAllAvailable()
      // commit 3: delete (k2), delete-of-absent (k9), left retract (k1)
      rhs.addData(("k2", 3L, "r2", true), ("k9", 3L, "zz", true))
      lhs.addData(("k1", "-D", "l1"))
      q.processAllAvailable()
      // commit 4: re-upsert after delete (k2), stale after delete (k2
      // seq 1 must drop), left add on the re-upserted key
      rhs.addData(("k2", 4L, "r2c", false), ("k2", 1L, "r-old", false))
      lhs.addData(("k2", "+I", "lz"))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink)
      .as[(String, String, Option[String], Option[String])].collect().toSeq
  }

  private def netS(rows: Seq[(String, String, Option[String], Option[String])]) =
    rows.groupBy(r => (r._1, r._3, r._4)).view
      .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
      .filter(_._2 != 0).toMap

  test("fused normalize+join is net-equal to the chained composition") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      for (padLeft <- Seq(false, true)) {
        val ref = runFusedScenario(fused = false, padLeft,
          s"sjtws_fused_ref_$padLeft")
        val fus = runFusedScenario(fused = true, padLeft,
          s"sjtws_fused_new_$padLeft")
        assert(netS(fus) == netS(ref),
          s"[padLeft=$padLeft] net differs: fused=${netS(fus)} ref=${netS(ref)}")
        // end-state sanity (independent of both implementations):
        // k1 = {l1, l2} x r1b, k2 = {lx, lz} x r2c, k3 = ly x r3
        assert(netS(fus) == Map(
          ("k1", Some("l1"), Some("r1b")) -> 1,
          ("k1", Some("l2"), Some("r1b")) -> 1,
          ("k2", Some("lx"), Some("r2c")) -> 1,
          ("k2", Some("lz"), Some("r2c")) -> 1,
          ("k3", Some("ly"), Some("r3")) -> 1),
          s"[padLeft=$padLeft] end state: ${netS(fus)}")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The fusion's POINT: the fused query plans exactly ONE stateful
    * operator where the chained composition plans two. */
  test("fused normalize+join runs as one stateful operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val lhs = MemoryStream[(String, String, String)]
      val rhs = MemoryStream[(String, Long, String, Boolean)]
      val lT = lhs.toDS().map(t => (0, t._1, t._2, t._3, 0L))
      val rT = rhs.toDS().map(t =>
        (1, t._1, if (t._4) "-D" else "+U", t._3, t._2))
      val out = StreamJoinTws.fusedJoinChangelog(lT.union(rT),
        padLeft = false, padRight = false, upsertL = false, upsertR = true)
      val q = out.toDF("k", "kind", "l", "r").writeStream
        .outputMode("append").format("memory")
        .queryName("sjtws_fused_ops").start()
      try {
        lhs.addData(("k", "+I", "l1"))
        rhs.addData(("k", 1L, "r1", false))
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators.length
        assert(ops == 1, s"expected ONE stateful operator, got $ops")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("MapState-backed inner join is net-equal to the GroupState original") {
    val ref = runScenario(useTws = false, sink = "sjtws_ref")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tws = runScenario(useTws = true, sink = "sjtws_new")
      def net(rows: Seq[(Long, String, String, String)]) =
        rows.groupBy(r => (r._1, r._3, r._4)).view
          .mapValues(_.map(r => if (r._2 == "+I") 1 else -1).sum)
          .filter(_._2 != 0).toMap
      def kindCounts(rows: Seq[(Long, String, String, String)]) =
        rows.groupBy(_._2).view.mapValues(_.size).toMap
      assert(net(tws) == net(ref), s"net differs: tws=${net(tws)} ref=${net(ref)}")
      assert(kindCounts(tws) == kindCounts(ref),
        s"emission counts differ: tws=${kindCounts(tws)} ref=${kindCounts(ref)}")
      // live end state: l1b and l2 joined to ONE remaining r1 instance
      assert(net(tws) == Map((1L, "l1b", "r1") -> 1, (1L, "l2", "r1") -> 1))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
