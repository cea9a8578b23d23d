package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The scheduler's listener bus is private to Spark; this package lets the
  * benchmark wait until every posted event (streaming progress included,
  * which rides the same bus) has been delivered. */
object BusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
