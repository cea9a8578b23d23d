package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** TPC-DS breadth gate runner — the reference's operative correctness bar
  * (flink-tpcds-test: 103 standard queries, validated against the answer
  * set by utils/TpcdsResultComparator.java). Our 110+ operator-targeted
  * oracle queries prove DEPTH; this main proves the SQL front door
  * survives 103 arbitrary analyst-written queries: every query file in
  * the given directory runs through [[Engine.sql]] over the parquet
  * fixtures and dumps its result as parquet for the DuckDB comparison
  * (tools/tpcds_check.py — same sorted-row, tolerance-aware contract as
  * the driver's oracle gate, numeric deviation 0.01 per the reference
  * comparator's TOLERATED_DOUBLE_DEVIATION).
  *
  * Usage: runMain graft.TpcdsRunner <dataDir> <queryDir> <outDir>
  */
object TpcdsRunner {

  val tables: Seq[String] = Seq(
    "call_center", "catalog_page", "catalog_returns", "catalog_sales",
    "customer", "customer_address", "customer_demographics", "date_dim",
    "household_demographics", "income_band", "inventory", "item",
    "promotion", "reason", "ship_mode", "store", "store_returns",
    "store_sales", "time_dim", "warehouse", "web_page", "web_returns",
    "web_sales", "web_site")

  def openTables(spark: SparkSession, dataDir: String): Unit =
    tables.foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: TpcdsRunner <dataDir> <queryDir> <outDir>")
    val Array(dataDir, queryDir, outDir) = args
    val spark = Engine.session()
    // TPC-DS answer-set division semantics: x/0 is NULL (Hive mode, and
    // what DuckDB computes for DECIMAL/0) — ANSI mode would instead
    // abort query90 at small scale factors where the pm window is empty
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
    openTables(spark, dataDir)
    Files.createDirectories(Paths.get(outDir))

    val queryFiles = Files.list(Paths.get(queryDir)).iterator().asScala
      .filter(_.getFileName.toString.matches("query.*\\.sql"))
      .toSeq.sortBy(_.getFileName.toString)
    val errors = List.newBuilder[(String, String)]
    var ok = 0
    queryFiles.foreach { qf =>
      val name = qf.getFileName.toString.stripSuffix(".sql")
      val text = new String(Files.readAllBytes(qf), "UTF-8")
      val t0 = System.nanoTime()
      try {
        val df = Engine.sql(spark, text)
        // a few queries (39a/39b/64) legitimately project the same output
        // name twice; parquet refuses duplicate column names, and the
        // comparator is positional after sorting, so uniquify for the dump
        val seen = scala.collection.mutable.Map.empty[String, Int]
        val uniq = df.columns.map { n0 =>
          val c = seen.getOrElse(n0.toLowerCase, 0)
          seen(n0.toLowerCase) = c + 1
          if (c == 0) n0 else s"${n0}__$c"
        }
        df.toDF(uniq.toIndexedSeq: _*)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        ok += 1
        println(f"[tpcds] $name OK (${(System.nanoTime() - t0) / 1e9}%.2f s)")
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" / ")}"
          errors += name -> msg
          println(s"[tpcds] $name FAILED: $msg")
      }
    }
    val errJson = errors.result()
      .map { case (n, m) => s""""$n":${Verify.jsonString(m)}""" }
      .mkString("{", ",", "}")
    Files.write(Paths.get(outDir, "errors.json"), errJson.getBytes("UTF-8"))
    println(s"[tpcds] done: $ok/${queryFiles.length} executed")
    spark.stop()
  }
}
