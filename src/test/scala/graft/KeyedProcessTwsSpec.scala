package graft

import graft.streaming.KeyedProcess
import graft.streaming.KeyedProcess.Emit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** `KeyedProcess.process` on the RocksDB state store provider must be
  * SPEC-EQUAL to the same operator on the default provider for the same
  * inactivity-session scenario (event-time timers included). (The test
  * name keeps the wording of the transformWithState port this scenario
  * was written for; that port is gone and `KeyedProcess.process` is the
  * one body.) */
class KeyedProcessTwsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  private def runScenario(sink: String): Set[(Long, String)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val keyed = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .as[(Long, Timestamp, Double)]
    val onInput = (_: Long, values: Seq[(Long, Double)],
        st: Option[(Long, Double, Long)]) => {
      val (c0, s0, _) = st.getOrElse((0L, 0.0, 0L))
      val c = c0 + values.size
      val sum = s0 + values.map(_._2).sum
      val last = values.map(_._1).max
      Emit(Seq.empty[String], Some((c, sum, last)), Some(last + 60000L))
    }
    val onTimer = (_: Long, st: Option[(Long, Double, Long)]) => {
      val (c, sum, _) = st.get
      Emit[(Long, Double, Long), String](Seq(s"n=$c,sum=$sum"), None, None)
    }
    val out = KeyedProcess.process[Long, Double, (Long, Double, Long), String](
      keyed)(onInput, onTimer)
    val q = out.toDF("k", "summary").writeStream
      .outputMode("update").format("memory").queryName(sink).start()
    in.addData((1L, ts(100), 2.0), (1L, ts(110), 3.0))
    q.processAllAvailable()
    in.addData((2L, ts(400), 9.0)) // watermark past key 1's timer
    q.processAllAvailable()
    in.addData((2L, ts(800), 1.0))
    q.processAllAvailable()
    in.addData((3L, ts(2000), 0.0)) // watermark past key 2's timer
    q.processAllAvailable()
    q.stop()
    spark.table(sink).as[(Long, String)].collect().toSet
  }

  test("transformWithState port is spec-equal to flatMapGroupsWithState") {
    val ref = runScenario(sink = "tws_ref")
    TestSpark.withRocksDB {
      val rocks = runScenario(sink = "tws_new")
      assert(rocks == ref, s"rocks=$rocks ref=$ref")
      assert(rocks.contains((1L, "n=2,sum=5.0")) && rocks.contains((2L, "n=2,sum=10.0")))
    }
  }
}
