package org.apache.spark.graft

import org.apache.spark.sql.SparkSession

/** The scheduler's listener bus is private to Spark; this package lets a
  * caller wait until every posted event (streaming progress included,
  * which rides the same bus) has been delivered to its listeners. */
object BusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
