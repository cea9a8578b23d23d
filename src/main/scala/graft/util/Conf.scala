package graft.util

import org.apache.spark.sql.SparkSession

object Conf {

  /** Sets each session conf key, runs `body`, then puts every key back:
    * its previous value, or unset when it had none — also when `body`
    * throws. Callers that pin conf around a stream start still hold
    * [[StartLock]] themselves. */
  def scoped[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
