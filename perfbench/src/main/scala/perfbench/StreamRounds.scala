package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded CDC feed of the stream-rounds workload, with its own model of the
  * final state. Orders form a retract changelog (+I, -U/+U, -D) whose
  * updates and deletes pick keys by a Zipf law over the live set; customers
  * form an upsert changelog keyed by c_custkey whose sequence numbers are
  * sometimes stale (out of order), which the engine must ignore. Round
  * sizes are bursty: the round before each restart is large. */
final class CdcGen(seed: Long) {
  import CdcGen._
  private val rnd = new SplittableRandom(seed)
  private val zipf = new Zipf(ZipfDomain, ZipfS)
  private val custZipf = new Zipf(Customers, ZipfS)

  // live orders: key -> (custkey, priority, price in cents)
  val orders = mutable.LinkedHashMap.empty[Long, (Long, String, Long)]
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.HashMap.empty[Long, Int]
  // live customers: key -> segment; every key's newest sequence number
  val customers = mutable.HashMap.empty[Long, String]
  private val custSeq = mutable.HashMap.empty[Long, Long]
  private var nextOrder = 1L
  private var nextCust = Customers + 1L
  private var seq = 0L

  private def price(): Long = 100000L + rnd.nextLong(9900000L)
  private def prio(): String = Priorities(rnd.nextInt(Priorities.size))
  private def seg(): String = Segments(rnd.nextInt(Segments.size))
  private def cust(): Long = custZipf.sample(rnd) + 1L

  private def addOrder(k: Long, v: (Long, String, Long)): Unit = {
    orders(k) = v; slot(k) = liveKeys.size; liveKeys += k
  }
  private def dropOrder(k: Long): Unit = {
    orders.remove(k)
    val i = slot.remove(k).get
    val last = liveKeys.remove(liveKeys.size - 1)
    if (last != k) { liveKeys(i) = last; slot(last) = i }
  }
  private def hotOrder(): Long = liveKeys(zipf.sample(rnd) % liveKeys.size)

  private def orderRow(kind: String, round: Long, k: Long, v: (Long, String, Long)): Row =
    Row(kind, round, k, v._1, v._2, java.math.BigDecimal.valueOf(v._3, 2))

  /** The initial snapshot: (orders as +I, customers as +U). */
  def initial(): (Seq[Row], Seq[Row]) = {
    val o = (1 to InitialOrders).map { _ =>
      val k = nextOrder; nextOrder += 1
      val v = (cust(), prio(), price())
      addOrder(k, v)
      orderRow("+I", 0L, k, v)
    }
    val c = (1L to Customers).map { k =>
      seq += 1
      val s = seg()
      customers(k) = s; custSeq(k) = seq
      Row("+U", seq, k, s)
    }
    (o, c)
  }

  /** One round's changes: (order changelog rows, customer upsert rows). */
  def round(r: Long): (Seq[Row], Seq[Row]) = {
    val n = if (r % StreamRounds.RestartEvery == StreamRounds.RestartEvery - 1) LargeRound
            else SmallRound
    val o = Seq.newBuilder[Row]
    (1 to n).foreach { _ =>
      val u = rnd.nextDouble()
      if (u < InsertShare || liveKeys.size < 100) {
        val k = nextOrder; nextOrder += 1
        val v = (cust(), prio(), price())
        addOrder(k, v)
        o += orderRow("+I", r, k, v)
      } else if (u < InsertShare + UpdateShare) {
        val k = hotOrder()
        val old = orders(k)
        val v = (old._1, if (rnd.nextDouble() < 0.2) prio() else old._2, price())
        orders(k) = v
        o += orderRow("-U", r, k, old)
        o += orderRow("+U", r, k, v)
      } else {
        val k = hotOrder()
        o += orderRow("-D", r, k, orders(k))
        dropOrder(k)
      }
    }
    val c = Seq.newBuilder[Row]
    (1 to math.max(5, n / 10)).foreach { _ =>
      val u = rnd.nextDouble()
      if (u < StaleShare) {
        // out of order: older than the key's newest change, so ignored
        val k = cust()
        c += Row(if (rnd.nextBoolean()) "+U" else "-D", custSeq(k) - 1, k,
          seg())
      } else {
        seq += 1
        val k = if (u < 0.85) cust() else { nextCust += 1; nextCust - 1 }
        custSeq(k) = seq
        if (u < 0.95) {
          val s = seg()
          customers(k) = s
          c += Row("+U", seq, k, s)
        } else {
          customers.remove(k)
          c += Row("-D", seq, k, null)
        }
      }
    }
    (o.result(), c.result())
  }
}

object CdcGen {
  val InitialOrders = 10000
  val Customers = 2000
  val ZipfDomain = 5000
  val ZipfS = 1.1
  /** Changes per round: the round before each restart is large. The volume
    * is fixed so that seeds vary the content of a run, not its size. */
  val SmallRound = 200
  val LargeRound = 3000
  val InsertShare = 0.35
  val UpdateShare = 0.45
  val StaleShare = 0.1
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  val OrderSchema = StructType(Seq(
    StructField("row_kind", StringType), StructField("cdc_ts", LongType),
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("price", DecimalType(12, 2))))
  val CustSchema = StructType(Seq(
    StructField("row_kind", StringType), StructField("cdc_ts", LongType),
    StructField("c_custkey", LongType), StructField("seg", StringType)))
}

/** stream-rounds: three continuous statements over one CDC feed, driven in
  * closed-loop rounds, stopped and restarted from their checkpoints every
  * few rounds. */
object StreamRounds {
  /** Every this many rounds the statements stop, a round lands while they
    * are down, they restart from their checkpoints and catch up, and every
    * sink is checked; the rounds before are two small and one large. */
  val RestartEvery = 4
  /** Timed rounds over which per-round counts are taken: every run has
    * them, so one seed gives the same counts on every run. */
  val CountRounds = 3

  /** (sink name, statement, batch check SELECT over the final-state views
    * fs_orders / fs_cust, output columns). The statement creates its sink
    * table on first commit. */
  private final case class Stmt(name: String, sql: String,
      check: String, cols: Seq[String])

  private def statements(orders: String, cust: String): Seq[Stmt] = Seq(
    Stmt("agg_sink",
      s"""INSERT INTO agg_sink
         |SELECT o_orderpriority AS prio, COUNT(DISTINCT o_custkey) AS custs,
         |       COUNT(*) AS cnt, SUM(price) AS rev
         |FROM $orders GROUP BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority AS prio, COUNT(DISTINCT o_custkey) AS custs,
        |       COUNT(*) AS cnt, SUM(price) AS rev
        |FROM fs_orders GROUP BY o_orderpriority""".stripMargin,
      Seq("prio", "custs", "cnt", "rev")),
    Stmt("topn_sink",
      s"""INSERT INTO topn_sink
         |SELECT o_orderpriority, o_orderkey, price, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
         |    ORDER BY o_orderkey DESC) AS rn
         |  FROM $orders) x
         |WHERE rn <= 5""".stripMargin,
      """SELECT o_orderpriority, o_orderkey, price, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_orderkey DESC) AS rn
        |  FROM fs_orders) x
        |WHERE rn <= 5""".stripMargin,
      Seq("o_orderpriority", "o_orderkey", "price", "rn")),
    Stmt("join_sink",
      s"""INSERT INTO join_sink
         |SELECT c.seg, COUNT(*) AS cnt, COUNT(DISTINCT o.o_custkey) AS custs,
         |       SUM(o.price) AS rev, MIN(o.price) AS lo, MAX(o.price) AS hi,
         |       AVG(o.price) AS avg_p
         |FROM $orders o JOIN $cust c ON o.o_custkey = c.c_custkey
         |GROUP BY c.seg""".stripMargin,
      """SELECT c.seg, COUNT(*) AS cnt, COUNT(DISTINCT o.o_custkey) AS custs,
        |       SUM(o.price) AS rev, MIN(o.price) AS lo, MAX(o.price) AS hi,
        |       CAST(AVG(o.price) AS DOUBLE) AS avg_p
        |FROM fs_orders o JOIN fs_cust c ON o.o_custkey = c.c_custkey
        |GROUP BY c.seg""".stripMargin,
      Seq("seg", "cnt", "custs", "rev", "lo", "hi", "avg_p")))

  /** The pipeline: its tables, sinks and running statements. */
  private final class Pipeline(spark: SparkSession, cfg: Config, tr: Trace,
      gen: CdcGen) {
    val orders = "cl_orders"
    val cust = "ups_cust"
    val stmts = statements(orders, cust)
    var running: Seq[StreamingQuery] = Nil
    val startS = mutable.ArrayBuffer.empty[Double]

    private def frame(rows: Seq[Row], schema: StructType): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
    }

    def create(): Unit = {
      val (o, c) = gen.initial()
      Seq(orders -> frame(o, CdcGen.OrderSchema), cust -> frame(c, CdcGen.CustSchema))
        .foreach { case (t, df) =>
          df.createOrReplaceTempView(s"__${t}_src")
          try graft.Engine.sql(spark, s"CREATE TABLE $t AS SELECT * FROM __${t}_src")
          finally spark.catalog.dropTempView(s"__${t}_src")
        }
      spark.sql(s"ALTER TABLE $cust SET TBLPROPERTIES ('graft.upsert.keys' = 'c_custkey')")
    }

    def start(): Unit = {
      running = stmts.map { s =>
        val t0 = System.nanoTime()
        val q = tr.span("engine", "sqlStreamInsert")(graft.Engine.sqlStreamInsert(
          spark, s.sql, new java.io.File(cfg.work, s"ckpt/${s.name}").getAbsolutePath))
        startS += Main.secondsSince(t0)
        q
      }
    }

    def await(): Unit = running.foreach(q => tr.span("mb", "processAllAvailable")(q.processAllAvailable()))

    def stop(): Unit = { running.foreach(_.stop()); running = Nil }

    /** Appends one round: customers first, then the orders commit. */
    def append(o: Seq[Row], c: Seq[Row]): Unit = tr.span("source", "append") {
      Seq(cust -> frame(c, CdcGen.CustSchema), orders -> frame(o, CdcGen.OrderSchema))
        .foreach { case (t, df) =>
          df.createOrReplaceTempView(s"__${t}_in")
          try spark.sql(s"INSERT INTO $t SELECT * FROM __${t}_in"): Unit
          finally spark.catalog.dropTempView(s"__${t}_in")
        }
    }

    /** Each sink, materialised, against the same SELECT in batch over the
      * model's final state. Returns the number of sinks that differ. Runs
      * after the restart has caught up, so the sinks hold every round. */
    def check(): Int = {
      import scala.jdk.CollectionConverters._
      val fo = gen.orders.toSeq.map { case (k, (c, p, cents)) =>
        Row(k, c, p, java.math.BigDecimal.valueOf(cents, 2)) }
      spark.createDataFrame(fo.asJava, StructType(CdcGen.OrderSchema.fields.drop(2)))
        .createOrReplaceTempView("fs_orders")
      val fc = gen.customers.toSeq.map { case (k, s) => Row(k, s) }
      spark.createDataFrame(fc.asJava, StructType(CdcGen.CustSchema.fields.drop(2)))
        .createOrReplaceTempView("fs_cust")
      stmts.count { s =>
        val got = graft.ChangelogSql.materializeUpsertSink(spark, s.name)
          .select(s.cols.map(org.apache.spark.sql.functions.col): _*).collect()
        val want = spark.sql(s.check).select(s.cols.map(org.apache.spark.sql.functions.col): _*).collect()
        val same = norm(got) == norm(want)
        if (!same) System.err.println(s"sink ${s.name} differs: got ${norm(got).take(5)} want ${norm(want).take(5)}")
        !same
      }
    }
  }

  private def norm(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toSeq.map {
    case d: Double => f"$d%.6f"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case x => String.valueOf(x)
  }.mkString("|")).sorted

  def run(cfg: Config, tr: Trace): Outcome = {
    val spark = Main.session(cfg)
    tr.attach(spark)
    // set-up: create the tables from the initial snapshot, start the three
    // statements and let them process it. Once per run: a second set-up
    // would cost as much as a cycle of rounds.
    val gen = new CdcGen(cfg.seed)
    val pipe = new Pipeline(spark, cfg, tr, gen)
    tr.unit = "setup"
    val t0 = System.nanoTime()
    pipe.create()
    pipe.start()
    pipe.await()
    val setupS = Seq(Main.secondsSince(t0))
    Main.phase("set up")
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val cpuMs = mutable.ArrayBuffer.empty[Double]
    val appendS = mutable.ArrayBuffer.empty[Double]
    val recoverS = mutable.ArrayBuffer.empty[Double]
    // (round, startMs, endMs) of timed rounds, from the first append on
    val windows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var rows = 0L
    var failed = 0L
    var checks = 0L
    var busyNs = 0L
    val start = System.nanoTime()
    val deadline = cfg.deadlineNs(start)
    var r = 0L
    // whole cycles (2 small, 1 large, restart), so every run samples the
    // same mix of rounds, recover_s always has a sample and the run ends
    // with a check of every sink
    while (r == 0 || r % RestartEvery != 0 || System.nanoTime() < deadline) {
      r += 1
      tr.unit = s"round $r"
      val (o, c) = gen.round(r)
      if (r % RestartEvery == 0) {
        pipe.stop()
        pipe.append(o, c)
        val t0 = System.nanoTime()
        tr.span("engine", "recover") { pipe.start(); pipe.await() }
        recoverS += Main.secondsSince(t0)
        failed += pipe.check()
        checks += 3
      } else {
        val w0 = System.currentTimeMillis()
        val c0 = Main.cpuNs()
        val a0 = System.nanoTime()
        pipe.append(o, c)
        appendS += Main.secondsSince(a0)
        val t0 = System.nanoTime()
        tr.span("mb", "round")(pipe.await())
        cpuMs += (Main.cpuNs() - c0) / 1e6
        val ns = System.nanoTime() - t0
        busyNs += ns
        roundMs += ns / 1e6
        windows += ((r, w0, System.currentTimeMillis()))
        rows += o.size + c.size
      }
    }
    tr.unit = ""
    Main.phase("rounds done")
    pipe.stop()
    tr.drain(spark)
    val heap = Main.liveHeapMb()

    val layers = if (!tr.on) Map.empty[String, Double] else {
      val first = windows.take(CountRounds).toSeq
      val k = first.size.toDouble
      val tasks = first.flatMap(w => tr.tasksIn(w._2, w._3))
      val jobs = first.flatMap(w => tr.jobsIn(w._2, w._3))
      val bs = first.flatMap(w => tr.batchesIn(w._2, w._3))
      val all = tr.batches.synchronized(tr.batches.toList)
      val wallS = first.map(w => (w._3 - w._2) / 1e3).sum
      def medDur(key: String) = {
        val xs = all.flatMap(_.durMs.get(key)).map(_.toDouble)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      val scanT = tasks.filter(t => t.inRecords > 0 || t.inBytes > 0)
      val latest = all.groupBy(_.queryId).values.map(_.maxBy(_.batchId)).toSeq
      val sinkRows = pipe.stmts.map(s => spark.table(s.name).count()).sum
      Map(
        "driver.jobs" -> jobs.size / k,
        "driver.stages" -> jobs.map(_.stages.size).sum / k,
        "driver.tasks" -> tasks.size / k,
        "driver.idle_s" -> first.map(w => tr.idleMs(w._2, w._3)).sum / 1e3 / k,
        "driver.task_overhead_s" -> tasks.map(_.overheadMs).sum / 1e3 / k,
        "engine.stream_start_s" -> Stats.median(pipe.startS.toSeq),
        "scan.rows" -> scanT.map(_.inRecords).sum / k,
        "scan.bytes" -> scanT.map(_.inBytes).sum / k,
        "scan.task_s" -> scanT.map(_.runMs).sum / 1e3 / k,
        "exchange.write_bytes" -> tasks.map(_.shWrite).sum / k,
        "exchange.read_bytes" -> tasks.map(_.shRead).sum / k,
        "exchange.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3 / k,
        "compute.task_s" -> tasks.map(_.runMs).sum / 1e3 / k,
        "compute.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / k,
        "compute.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / k,
        "compute.spill_bytes" -> tasks.map(_.spill).sum / k,
        "compute.busy_ratio" -> tasks.map(_.runMs).sum / 1e3 / (cfg.cpus * wallS),
        "mb.batches" -> bs.size / k,
        "mb.add_batch_ms" -> medDur("addBatch"),
        "mb.planning_ms" -> medDur("queryPlanning"),
        "mb.latest_offset_ms" -> medDur("latestOffset"),
        "checkpoint.wal_ms" -> medDur("walCommit"),
        "checkpoint.commit_ms" -> medDur("commitOffsets"),
        "state.operators" -> latest.map(_.ops.size).sum.toDouble,
        "state.commit_ms" -> Stats.median(all.map(_.ops.map(_.commitMs).sum.toDouble)),
        "state.rows_total" -> latest.flatMap(_.ops).map(_.rowsTotal).sum.toDouble,
        "state.rows_updated" -> bs.flatMap(_.ops).map(_.rowsUpdated).sum / k,
        "state.rows_removed" -> bs.flatMap(_.ops).map(_.rowsRemoved).sum / k,
        "state.memory_bytes" -> latest.flatMap(_.ops).map(_.memoryBytes).sum.toDouble,
        "source.append_s" -> Stats.median(appendS.toSeq),
        "sink.rows_out" -> sinkRows.toDouble / (r + 1))
    }
    val operators = tr.batches.synchronized(tr.batches.toList)
      .groupBy(_.queryId).values.map(_.maxBy(_.batchId))
      .flatMap(b => b.ops.map(o => s"${o.name} (${o.provider})")).toSeq
    spark.stop()
    val restarts = recoverS.toSeq
    val rps = rows / (busyNs / 1e9)
    Outcome(
      attempted = roundMs.size + recoverS.size + checks, failed = failed,
      setupS = setupS, unitMs = roundMs.toSeq, unitCpuMs = cpuMs.toSeq,
      heapMb = heap,
      named = Seq(
        "round_p50_s" -> Metric(Stats.median(roundMs.toSeq) / 1e3, "s"),
        "changelog_rows_per_s" -> Metric(rps, "1/s"),
        "recover_s" -> Metric(Stats.median(restarts), "s"),
        "setup_s" -> Metric(Stats.median(setupS), "s"),
        "live_heap_mb" -> Metric(heap, "MB")),
      layers = layers,
      notes = Map("rounds" -> r, "timed_rounds" -> roundMs.size,
        "restarts" -> recoverS.size, "rows" -> rows,
        "state_operators" -> operators, "count_rounds" -> math.min(CountRounds, roundMs.size)))
  }
}
