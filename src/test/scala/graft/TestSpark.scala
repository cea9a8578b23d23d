package graft

import graft.streaming.{FmgwsReference, StatefulTws}
import graft.streaming.StatefulOps.{OverFrame, SlotOp}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import java.sql.Timestamp

/** One shared local session for the whole ScalaTest run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Engine.session("local[4]", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the RocksDB state store provider (the
    * transformWithState runtime), restoring the previous provider after —
    * shared by every TWS-driving spec. */
  def withRocksDB[T](body: => T): T =
    graft.util.Conf.scoped(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** A scripted Long-keyed changelog side (key, row_kind, payload) in the
    * String-keyed form the stream-join bodies take (the SQL join route
    * encodes its join keys as strings). */
  def stringKeyed(side: MemoryStream[(Long, String, String)]): Dataset[(String, String, String)] = {
    import spark.implicits._
    side.toDS().map { case (k, kind, p) => (k.toString, kind, p) }
  }

  /** An event-time OVER pass over a Long-keyed, watermarked
    * (k, rowtime, values) stream, emitting (k, t_ms, values, aggregates). */
  type OverPass = (Dataset[(Long, Timestamp, Seq[Double])],
    IndexedSeq[OverFrame], IndexedSeq[SlotOp]) => Dataset[(Long, Long, Seq[Double], Seq[Double])]

  /** The shipped pass, `StatefulTws.overMultiAggsChained`, as the chain
    * of length one a single-spec OVER lowers to (group key = row key).
    * It runs transformWithState: call it under [[withRocksDB]]. */
  val overTws: OverPass = (ds, frames, ops) => {
    import spark.implicits._
    val k = col("k").cast("string")
    // a DataFrame select keeps the rowtime's event-time marker (a typed
    // map would drop it)
    StatefulTws.overMultiAggsChained(
      ds.toDF("k", "ts", "vs")
        .select(k.as("_1"), k.as("_2"), col("ts").as("_3"), col("vs").as("_4"))
        .as[(String, String, Timestamp, Seq[Double])],
      frames, ops, dropLate = true)
      .map(r => (r._1.toLong, r._2.getTime, r._3, r._4))
  }

  /** The independent flatMapGroupsWithState reference body of the same
    * pass, on the session's provider. */
  val overFmgws: OverPass = (ds, frames, ops) => {
    import spark.implicits._
    FmgwsReference.overMultiAggsByKey(ds, frames, ops)
  }
}
