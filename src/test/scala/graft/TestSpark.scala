package graft

import org.apache.spark.sql.SparkSession

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
}
