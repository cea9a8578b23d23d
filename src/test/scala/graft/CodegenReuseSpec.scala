package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Continuous statements compile their generated code once per JVM, not
  * once per query or per micro-batch. Spark's codegen cache is keyed by
  * (class loader, code): `Engine.session` turns artifact isolation off,
  * so a streaming query's cloned session shares the driver's loader, and
  * the sink's commit stamp reaches generated code through its references,
  * so one batch's Java source equals the next one's. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Janino compiles `body` ran (JVM-wide; the suite runs one spec at a
    * time). */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Compiles a reused statement may still need: code no earlier batch
    * ran, such as a catch-up batch's plan. Without reuse each new query
    * and each restart recompiles its whole set, 24-55 classes. */
  private val Bound = 8L

  test("a second statement, a steady batch and a restart reuse compiled code") {
    import spark.implicits._
    val h = math.abs(getClass.getName.hashCode)
    val (src, sinkA, sinkB) = (s"cg_src_$h", s"cg_sink_a_$h", s"cg_sink_b_$h")
    val tables = Seq(src, sinkA, sinkB)
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try TestSpark.withRocksDB {
      spark.sql(s"""CREATE TABLE $src
        (row_kind STRING, cdc_ts BIGINT, g STRING, k STRING, x DOUBLE)
        USING parquet""")
      var ts = 0L
      def commit(rows: (String, String, String, Double)*): Unit = {
        ts += 1
        spark.sql(s"INSERT INTO $src VALUES " + rows.map { case (kind, g, k, x) =>
          s"('$kind', $ts, '$g', '$k', $x)"
        }.mkString(", ")): Unit
      }
      // a top-N over a changelog: transformWithState on RocksDB
      def stmt(sink: String) = s"""
        INSERT INTO $sink
        SELECT g, k, x, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC) AS rn
          FROM $src) t
        WHERE rn <= 2"""
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val (ckptA, ckptB) = (tmp("graft-cg-a"), tmp("graft-cg-b"))

      val qa = Engine.sqlStreamInsert(spark, stmt(sinkA), ckptA)
      val steady = try {
        commit(("+I", "g1", "k1", 10.0), ("+I", "g1", "k2", 4.0), ("+I", "g2", "k3", 9.0))
        qa.processAllAvailable()
        // the first batch that reads state back compiles its deserializers
        commit(("+I", "g1", "k4", 7.0), ("-D", "g2", "k3", 9.0))
        qa.processAllAvailable()
        commit(("+I", "g2", "k6", 1.0))
        compiles(qa.processAllAvailable())
      } finally qa.stop()

      // the same shape into another sink: a new query, the same code
      val qb = Engine.sqlStreamInsert(spark, stmt(sinkB), ckptB)
      val second = try compiles(qb.processAllAvailable()) finally qb.stop()

      // the first statement again, from its checkpoint
      commit(("-D", "g1", "k1", 10.0), ("+I", "g2", "k5", 3.0))
      val qr = Engine.sqlStreamInsert(spark, stmt(sinkA), ckptA)
      val restarted = try compiles(qr.processAllAvailable()) finally qr.stop()

      info(s"compiles: steady batch $steady, second statement $second, " +
        s"restarted batch $restarted")
      assert(steady == 0, "a steady batch compiles nothing")
      assert(second <= Bound, s"the second statement compiled $second classes")
      assert(restarted <= Bound, s"the restarted batch compiled $restarted classes")

      // reuse changes no result
      def rows(sink: String) = ChangelogSql.materializeUpsertSink(spark, sink)
        .as[(String, String, Double, Long)].collect().toSet
      assert(rows(sinkA) == Set(("g1", "k4", 7.0, 1L), ("g1", "k2", 4.0, 2L),
        ("g2", "k5", 3.0, 1L), ("g2", "k6", 1.0, 2L)))
      assert(rows(sinkB) == Set(("g1", "k1", 10.0, 1L), ("g1", "k4", 7.0, 2L),
        ("g2", "k6", 1.0, 1L)))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
