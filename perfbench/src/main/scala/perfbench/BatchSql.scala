package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** batch-sql: declared engine queries over a seeded copy of the sf0.1
  * fixture. One closed-loop client runs whole passes over the query set,
  * always in the same order, so the seed varies the data layout only. */
object BatchSql {

  /** Relational queries: scan, exchange and codegen'd compute do the
    * work (aggregate over lineitem, join + top-N, broadcast joins,
    * semi-join). */
  val Relational: Seq[String] = Seq(
    "q01_pricing_summary", "q02_topn_revenue_join", "q03_region_revenue_bcast",
    "q04_semi_join_exists")

  /** Iterative query (k-means, about 30 small jobs): per-job fixed cost
    * shows. */
  val Iterative: Seq[String] = Seq("q76_ann_ivf")

  val Queries: Seq[String] = Relational ++ Iterative

  /** Every fixture table is copied; events keeps its physical layout (its
    * timestamp encoding is read-side state the engine handles). */
  private val Copied = graft.Tables.names.filterNot(_ == "events")

  /** Seeded copy: each table's rows permuted by a seeded hash and split
    * across files so the scan parallelises. */
  def prepare(spark: SparkSession, src: String, dst: String, seed: Long): Unit = {
    Copied.foreach { t =>
      val df = graft.Tables(spark, src, t)
      val big = java.nio.file.Files.size(java.nio.file.Paths.get(src, s"$t.parquet")) > (1 << 20)
      df.withColumn("__perm", xxhash64(lit(seed) +: df.columns.toSeq.map(col): _*))
        .repartition(if (big) 4 else 1, col("__perm"))
        .sortWithinPartitions("__perm")
        .drop("__perm")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    val ev = java.nio.file.Paths.get(src, "events.parquet")
    val evDst = java.nio.file.Paths.get(dst, "events.parquet")
    java.nio.file.Files.createDirectories(evDst)
    java.nio.file.Files.copy(ev, evDst.resolve("part-0.parquet"))
  }

  /** Order-independent digest of a result: row count plus the wrapped sum
    * of row hashes, doubles rounded to the engine's 1e-6 output grid. */
  def digest(rows: Array[Row]): (Long, Long) = {
    var h = 0L
    rows.foreach { r =>
      val norm = r.toSeq.map {
        case d: Double => math.floor(d * 1e6 + 0.5) / 1e6
        case f: Float => math.floor(f * 1e6 + 0.5) / 1e6
        case x => x
      }
      h += scala.util.hashing.MurmurHash3.seqHash(norm).toLong
    }
    (rows.length.toLong, h)
  }

  def run(cfg: Config, tr: Trace): Outcome = {
    val spark = Main.session(cfg)
    val dir = new java.io.File(cfg.work, "sf").getAbsolutePath
    // set-up: build the seeded copy, twice
    val setupS = (1 to 2).map { i =>
      val t0 = System.nanoTime()
      prepare(spark, cfg.data, if (i == 2) dir else s"$dir-$i", cfg.seed)
      Main.secondsSince(t0)
    }
    Main.phase("set up")
    tr.attach(spark)
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val first = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val executions = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    // (name, pass, startMs, endMs, ms)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long, Double)]
    val cpuMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    val start = System.nanoTime()
    var pass = 0
    // whole passes, so every run samples the same mix of queries
    while (pass == 0 || System.nanoTime() < cfg.deadlineNs(start)) {
      pass += 1
      Queries.foreach { name =>
        tr.unit = s"$name#$pass"
        val w0 = System.currentTimeMillis()
        val c0 = Main.cpuNs()
        val t0 = System.nanoTime()
        val (rows, schema) = tr.span("engine", name) {
          val df: DataFrame = tr.span("engine", "plan")(queries(name)(spark, dir))
          (tr.span("engine", "collect")(df.collect()), df.schema)
        }
        val ms = Main.msSince(t0)
        cpuMs += (Main.cpuNs() - c0) / 1e6
        runs += ((name, pass, w0, System.currentTimeMillis(), ms))
        spark.catalog.clearCache()
        val d = digest(rows)
        executions(name) += 1
        first.get(name) match {
          case None =>
            first(name) = d
            import scala.jdk.CollectionConverters._
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.parquet(s"${cfg.work}/outputs/$name")
          case Some(d0) => if (d != d0) failed += 1
        }
      }
    }
    tr.unit = ""
    Main.phase("passes done")
    tr.drain(spark)
    val heap = Main.liveHeapMb()
    val noOracle = Queries.filterNot(oracle.contains)
    require(noOracle.isEmpty, s"queries without an oracle: ${noOracle.mkString(",")}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfg.work, "batch-outputs.json"),
      Json(Queries.map(q => q -> Map("oracle" -> oracle(q),
        "executions" -> executions(q))).toMap))

    val ms = runs.map(_._5).toSeq
    val totalS = ms.sum / 1e3
    val layers = if (!tr.on) Map.empty[String, Double] else {
      // per query, over the first pass: the same work on every run
      val p1 = runs.filter(_._2 == 1).toSeq
      val n = p1.size.toDouble
      val tasks = p1.flatMap(r => tr.tasksIn(r._3, r._4))
      val jobs = p1.flatMap(r => tr.jobsIn(r._3, r._4))
      val wallS = p1.map(r => (r._4 - r._3) / 1e3).sum
      val scanT = tasks.filter(t => t.inRecords > 0 || t.inBytes > 0)
      val spans = tr.finish()
      val planned = spans.filter { case (s, _) => s.layer == "engine" && s.name == "plan" &&
        s.unit.endsWith("#1") }
      Map(
        "driver.jobs" -> jobs.size / n,
        "driver.stages" -> jobs.map(_.stages.size).sum / n,
        "driver.tasks" -> tasks.size / n,
        "driver.idle_s" -> p1.map(r => tr.idleMs(r._3, r._4)).sum / 1e3 / n,
        "driver.task_overhead_s" -> tasks.map(_.overheadMs).sum / 1e3 / n,
        "engine.plan_s" -> planned.map(_._2).sum / 1e6 / n,
        "scan.rows" -> scanT.map(_.inRecords).sum / n,
        "scan.bytes" -> scanT.map(_.inBytes).sum / n,
        "scan.task_s" -> scanT.map(_.runMs).sum / 1e3 / n,
        "exchange.write_bytes" -> tasks.map(_.shWrite).sum / n,
        "exchange.read_bytes" -> tasks.map(_.shRead).sum / n,
        "exchange.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3 / n,
        "compute.task_s" -> tasks.map(_.runMs).sum / 1e3 / n,
        "compute.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
        "compute.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / n,
        "compute.spill_bytes" -> tasks.map(_.spill).sum / n,
        "compute.busy_ratio" -> tasks.map(_.runMs).sum / 1e3 / (cfg.cpus * wallS))
    }
    Main.phase("layers done")
    // restart: a fresh session answers the first query of the set again
    spark.stop()
    val r0 = System.nanoTime()
    val again = Main.session(cfg)
    val rows0 = queries(Queries.head)(again, dir).collect()
    val restartS = Main.secondsSince(r0)
    if (digest(rows0) != first(Queries.head)) failed += 1
    again.stop()
    val perQuery = runs.groupBy(_._1).map { case (q, rs) =>
      q -> Map("median_s" -> Stats.median(rs.map(_._5).toSeq) / 1e3,
        "executions" -> rs.size) }
    Outcome(
      attempted = runs.size + 1, failed = failed, setupS = setupS,
      unitMs = ms, unitCpuMs = cpuMs.toSeq, heapMb = heap,
      named = Seq(
        "query_p50_s" -> Metric(Stats.median(ms) / 1e3, "s"),
        "queries_per_min" -> Metric(runs.size / totalS * 60, "1/min"),
        "restart_s" -> Metric(restartS, "s"),
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "live_heap_mb" -> Metric(heap, "MB")),
      layers = layers,
      notes = Map("passes" -> pass, "queries" -> perQuery,
        "relational" -> Relational, "iterative" -> Iterative))
  }
}
