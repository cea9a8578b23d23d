package graft
import org.apache.spark.graft.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Per-query timing at SPARK_GRAFT_SF_DIR. Every timed pass prints a
  * `[bench] <query> pass=<p> ...` line with its scheduler counters, each
  * streaming micro-batch an `[mb]` line, and the run ends with ONE
  * `{"metric":"total",...}` JSON line. */
object Bench {

  /** Scheduler counters of one query pass: jobs, stages and tasks carry
    * the fixed per-job coordination cost, summed task time the compute. */
  private final class Counters extends SparkListener {
    val jobs, stages, tasks, taskMs = new AtomicLong
    def reset(): Unit = Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration): Unit
    }
  }

  /** One `[mb]` line per streaming micro-batch: input rows, and per state
    * operator its rows, updates and commit time. The session-level
    * listener sees every query a streaming gate starts. */
  private object MicroBatches extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val so = p.stateOperators.map(o =>
        s"${o.operatorName}:rows=${o.numRowsTotal}/upd=${o.numRowsUpdated}" +
          s"/commitMs=${o.commitTimeMs}").mkString(" | ")
      println(s"[mb] id=${p.batchId} rows=${p.numInputRows} " +
        s"durMs=${p.durationMs} state={$so}")
    }
  }

  /** Times one pass of a query. The clock covers the query only; the
    * `[bench]` line prints after the listener bus has drained, so its
    * counters hold every event of the pass. `compiles` is the pass's
    * Janino compile count (`CodegenMetrics`, JVM-wide): codegen cache
    * misses. */
  private def timedPass(spark: SparkSession, counters: Counters, name: String,
      pass: Int)(run: => Unit): Either[Throwable, Double] = {
    counters.reset()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val r = try { run; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) }
    try BusDrain(spark) catch { case _: java.util.concurrent.TimeoutException => () }
    val outcome = r.fold(e => s"error=${e.getClass.getSimpleName}", t => f"wall_s=$t%.3f")
    println(f"[bench] $name pass=$pass $outcome jobs=${counters.jobs.get} " +
      f"stages=${counters.stages.get} tasks=${counters.tasks.get} " +
      f"task_s=${counters.taskMs.get / 1000.0}%.2f " +
      f"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
    r
  }

  /** Re-run one query in a FRESH JVM (own SparkSession, own JIT, own code
    * cache) and return its best-of-3 seconds. Same-JVM isolation after a
    * 100+-query suite is not isolation: accumulated generated classes and
    * JIT/code-cache state inflate the first re-runs 3-9x even after
    * clearCache + GC (round-4 finding: q112 19.6 s in-JVM vs 2.2 s fresh).
    * The child is this same main with a single-query filter and its own
    * warm-up, so pass-1 compilation stays outside the reported min. */
  private def isolatedFreshJvm(name: String): Option[Double] = {
    try {
      val cp = System.getProperty("java.class.path")
      if (cp == null || !cp.contains("spark")) return None // not a full fork classpath
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      // The child runs on this JVM's own flags (build.sbt's javaOptions:
      // module opens, heap, -D confs) and inherits its environment.
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_ONLY", name)
      pb.environment().put("SPARK_GRAFT_PASSES", "3")
      pb.environment().put("SPARK_GRAFT_ISOLATE_N", "0")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      // Watchdog: a wedged child must not stall the whole benchmark.
      val killer = new Thread(() => {
        if (!proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES))
          proc.destroyForcibly()
      })
      killer.setDaemon(true)
      killer.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      val code = proc.waitFor()
      if (code != 0) None
      else out.reverseIterator.collectFirst {
        case l if l.contains("\"metric\"") =>
          val re = ("\"" + java.util.regex.Pattern.quote(name) +
            "\":(-?[0-9.]+(?:[eE]-?[0-9]+)?)").r
          re.findFirstMatchIn(l).map(_.group(1).toDouble)
      }.flatten.filter(_ >= 0)
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up outside the timed region.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(MicroBatches)
    // Optional comma-separated name filter for targeted perf iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // Best-of-N per query: the host is a shared microVM with 2-3x run-to-run
    // noise, and pass 1 additionally pays JIT/codegen compilation; the min is
    // the steady-state number that reflects the plan, not the environment.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // A query that throws is an ERROR, never a timing sample — a broken
      // query must not pollute the benchmark with its time-to-failure.
      var err: Option[String] = None
      val times = (1 to math.max(1, passes)).flatMap { p =>
        timedPass(spark, counters, name, p)(fn(spark, sfDir).count()) match {
          case Right(t) => Some(t)
          case Left(e) => err = Some(e.getClass.getSimpleName); None
        }
      }
      // Release blocks the query leaked into the BlockManager: accumulated
      // block memory was the main in-suite tail inflation — heavy shuffles
      // later in the suite spilled under pressure created by EARLIER
      // queries. Each query still pays its own persistence cost inside its
      // timed region.
      Engine.release(spark)
      (name, times.minOption, err)
    }
    // Self-defending tail: the full suite self-contends on a shared
    // microVM (GC pressure + page cache churn inflate the tail 2-4x), so
    // the slowest queries are RE-RUN in isolation and both numbers ship in
    // the artifact. Isolation = a FRESH JVM per query (fork of this same
    // main, single-query filter): round 4 proved same-JVM re-runs are
    // themselves contaminated by accumulated codegen/JIT state after the
    // full suite (first re-runs 3-9x slow even after clearCache + GC).
    // In-JVM re-run remains only as a fallback when forking isn't possible.
    val isolateN = sys.env.getOrElse("SPARK_GRAFT_ISOLATE_N", "10").toInt
    val slowest = results.collect { case (n, Some(t), _) => (n, t) }
      .sortBy(-_._2).take(math.max(0, isolateN)).map(_._1)
    val isolated = slowest.map { name =>
      name -> isolatedFreshJvm(name).getOrElse {
        Engine.release(spark)
        System.gc()
        val fn = SparkEntry.queries(name)
        val times = (1 to 3).flatMap { p =>
          timedPass(spark, counters, name, p)(fn(spark, sfDir).count()).toOption
        }
        times.minOption.getOrElse(-1.0)
      }
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val iso = isolated.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => s"\"" + k + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"isolated":$iso,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
