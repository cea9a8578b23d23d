package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** State Processor API analog (SURVEY.md §2.12): offline inspection of a
  * streaming query's keyed state via Spark's `statestore` batch source. */
class StateReaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("offline read of streaming aggregation state from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val in = MemoryStream[(String, Long)]
    val agg = in.toDF().toDF("k", "v").groupBy("k").count()
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sr_out").start()
    in.addData(("a", 1L), ("b", 1L), ("a", 1L))
    q.processAllAvailable()
    q.stop()

    val state = spark.read.format("statestore").load(ckpt)
    val rows = state.selectExpr("key.k", "value.count")
      .as[(String, Long)].collect().toMap
    assert(rows == Map("a" -> 2L, "b" -> 1L), s"state was: $rows")
  }

  test("queryable-state analog: point lookup against a RUNNING query's state") {
    // Flink's queryable state (KeyedStream.java:1031 asQueryableState +
    // QueryableStateClient — deprecated upstream and scoped out as an
    // engine feature): the micro-batch analog is a point read of the
    // last COMMITTED batch's state while the query keeps running — the
    // `statestore` source reads the version the running query has
    // already sealed, so no stop, no snapshot copy, and successive
    // lookups observe successive committed versions.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-qstate").toString
    val in = MemoryStream[(String, Long)]
    val agg = in.toDF().toDF("k", "v").groupBy("k").count()
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("qs_out").start()
    try {
      in.addData(("a", 1L), ("b", 1L), ("a", 1L))
      q.processAllAvailable()
      def lookup(k: String): Option[Long] =
        spark.read.format("statestore").load(ckpt)
          .filter($"key.k" === k).select($"value.count")
          .as[Long].collect().headOption
      assert(q.isActive, "the query must still be running")
      assert(lookup("a").contains(2L) && lookup("b").contains(1L))
      assert(lookup("missing").isEmpty)
      // a later lookup against the still-running query sees the newer
      // committed version
      in.addData(("a", 1L))
      q.processAllAvailable()
      assert(q.isActive)
      assert(lookup("a").contains(3L), s"got ${lookup("a")}")
    } finally q.stop()
  }

  test("savepoint bootstrap: offline-written state seeds a new streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-bootstrap").toString
    // write per-key COUNT state that no replayable input produced —
    // the State Processor API's distinguishing power
    graft.state.StateBootstrap.writeAggregationState(
      spark, ckpt,
      Seq(("a", 40L), ("b", 7L)).toDF("k", "count"),
      keyCols = Seq("k"))

    // the engine's own offline reader sees the bootstrapped rows
    val seeded = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.k", "value.count").as[(String, Long)].collect().toMap
    assert(seeded == Map("a" -> 40L, "b" -> 7L), s"bootstrapped state: $seeded")

    // a FRESH query starts from the checkpoint: its first micro-batch
    // must aggregate ON TOP of the bootstrapped counts
    val in = MemoryStream[String]
    val agg = in.toDF().toDF("k").groupBy("k").count()
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("bs_out").start()
    try {
      in.addData("a", "a", "c")
      q.processAllAvailable()
      val out = spark.table("bs_out").as[(String, Long)].collect().toMap
      assert(out == Map("a" -> 42L, "b" -> 7L, "c" -> 1L),
        s"first batch must reflect bootstrapped state: $out")
    } finally q.stop()
  }

  test("savepoint bootstrap through the PSL-analog KvStateStoreProvider") {
    import spark.implicits._
    // the bootstrap must write through WHATEVER provider the session
    // configures — and its empty-partition backfill must not re-commit
    // over partitions the write job already filled (a 1.delta file probe
    // would: this provider keeps rows in the KV, not per-version files)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.state.KvStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bootstrap-kv").toString
    try {
      graft.state.StateBootstrap.writeAggregationState(
        spark, ckpt,
        Seq(("a", 40L), ("b", 7L)).toDF("k", "count"),
        keyCols = Seq("k"))
      val seeded = spark.read.format("statestore").load(ckpt)
        .selectExpr("key.k", "value.count").as[(String, Long)].collect().toMap
      assert(seeded == Map("a" -> 40L, "b" -> 7L),
        s"bootstrapped state via KvStateStoreProvider: $seeded")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("offline read of transformWithState variables by name") {
    // the transformWithState operators' point-write state layout stays
    // inspectable — each named state variable reads back through the
    // `statestore` source's stateVarName option (State Processor API
    // parity for the Spark 4 state shape)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // ValueState: RetractAggTws's per-group accumulator — (net row
      // count, one rendered accumulator per aggregate; SUM(BIGINT)
      // renders as "sum,count")
      import graft.streaming.RetractAggTws
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-read").toString
      val in = MemoryStream[(String, Int, Seq[Option[String]], Seq[Option[String]])]
      val q = RetractAggTws.groupAggChangelog(in.toDS(),
          Seq(RetractAggTws.AggSpec("sum_long")))
        .toDF("k", "kind", "outs").writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append").format("memory").queryName("tws_sr_out").start()
      in.addData(("a", 1, Seq(Some("10")), Seq(None)),
        ("a", 1, Seq(Some("5")), Seq(None)), ("b", 1, Seq(Some("7")), Seq(None)))
      q.processAllAvailable(); q.stop()
      val acc = spark.read.format("statestore")
        .option("stateVarName", "acc").load(ckpt)
        .selectExpr("key.value", "value._1", "value._2")
        .as[(String, Long, Seq[String])].collect().toSet
      assert(acc == Set(("a", 2L, Seq("15,2")), ("b", 1L, Seq("7,1"))),
        s"acc state: $acc")

      // ListState: the chained OVER pass's pending watermark buffer, one
      // row per entry
      import graft.streaming.StatefulOps.{OverFrame, SlotOp}
      val ckpt2 = java.nio.file.Files.createTempDirectory("graft-tws-read2").toString
      val in2 = MemoryStream[(String, String, java.sql.Timestamp, Seq[Double])]
      // huge delay keeps both rows pending in the buffer
      val watermarked = in2.toDF().withWatermark("_3", "1000 seconds")
        .as[(String, String, java.sql.Timestamp, Seq[Double])]
      val q2 = graft.streaming.StatefulTws.overMultiAggsChained(watermarked,
          IndexedSeq(OverFrame.Unbounded), IndexedSeq(SlotOp.Sum), dropLate = true)
        .toDF("ck", "ts", "vals", "sums").writeStream
        .option("checkpointLocation", ckpt2)
        .outputMode("append").format("memory").queryName("tws_sr_out2").start()
      in2.addData(("7", "7|x", new java.sql.Timestamp(1000L), Seq(1.0)),
        ("7", "7|y", new java.sql.Timestamp(2000L), Seq(2.0)))
      q2.processAllAvailable(); q2.stop()
      val pending = spark.read.format("statestore")
        .option("stateVarName", "pending")
        .option("flattenCollectionTypes", "true").load(ckpt2)
        .selectExpr("key.value", "list_element._1")
        .as[(String, Long)].collect().toSet
      assert(pending == Set(("7", 1000L), ("7", 2000L)),
        s"pending queue state: $pending")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
