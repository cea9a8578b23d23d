package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

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
}
