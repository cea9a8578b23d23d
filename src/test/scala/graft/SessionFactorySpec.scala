package graft

import graft.util.Conf
import org.scalatest.funsuite.AnyFunSuite

/** The suite's session comes from the engine's one factory, and
  * `Conf.scoped` restores what it pinned. */
class SessionFactorySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TestSpark.spark carries Engine.session's conf") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.timeType.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    // one artifact state (one class loader) for every session, and a
    // codegen cache above the working set
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheEntries.toString)
    assert(spark.newSession().conf.get("spark.sql.artifact.isolation.enabled") == "false")
    // file: paths go through the fork-free local file system
    assert(conf.get("spark.hadoop.fs.file.impl") ==
      classOf[graft.util.ForkFreeLocalFileSystem].getName)
    assert(conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ==
      classOf[graft.util.ForkFreeLocalFs].getName)
    assert(spark.sparkContext.master == "local[4]")
  }

  test("graft functions resolve in a new session through the extensions") {
    val fresh = spark.newSession()
    val key = fresh.sql("SELECT graft_sort_key(7L, 'k', true) AS k")
      .collect().head.getString(0)
    assert(key.nonEmpty)
  }

  test("Conf.scoped restores a prior value and unsets an absent key") {
    val (set, absent) = ("graft.test.scoped.set", "graft.test.scoped.absent")
    spark.conf.set(set, "before")
    try {
      val seen = Conf.scoped(spark, set -> "inside", absent -> "pinned") {
        (spark.conf.get(set), spark.conf.get(absent))
      }
      assert(seen == ("inside", "pinned"))
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(absent).isEmpty)
    } finally spark.conf.unset(set)
  }

  test("Conf.scoped restores when the body throws") {
    val (set, absent) = ("graft.test.scoped.set", "graft.test.scoped.absent")
    spark.conf.set(set, "before")
    try {
      intercept[IllegalStateException] {
        Conf.scoped(spark, set -> "inside", absent -> "pinned") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(absent).isEmpty)
    } finally spark.conf.unset(set)
  }
}
