package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. `work` is a scratch
  * directory the run owns; `out` receives the traced run's artifact. */
final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int, work: String, out: String, data: String) {
  def deadlineNs(fromNs: Long): Long = fromNs + seconds * 1000000000L
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.getOrElse("cpus", "4").toInt, need("work"),
      need("out"), kv.getOrElse("data", ""))
  }
}

final case class Metric(value: Double, unit: String)

/** What a workload measured. `unitMs` is the wall-clock latency of each
  * closed-loop unit — round, query or state round — and `unitCpuMs` the
  * process CPU time (every thread, collector included) it took; `named` are
  * the workload's own metrics; `layers` are the per-layer metrics it
  * exercised (the others report 0). */
final case class Outcome(attempted: Long, failed: Long, setupS: Seq[Double],
    unitMs: Seq[Double], unitCpuMs: Seq[Double], heapMb: Double,
    named: Seq[(String, Metric)], layers: Map[String, Double],
    notes: Map[String, Any])

object Main {

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val tr = new Trace(cfg.trace)
    phase("start")
    val o = cfg.workload match {
      case "stream-rounds" => StreamRounds.run(cfg, tr)
      case "batch-sql" => BatchSql.run(cfg, tr)
      case "state-kv" => StateKv.run(cfg, tr)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    phase("measured")
    // A unit's wall-clock latency shows added waiting (idle driver, trigger
    // delay, lock waits); the CPU time it took shows added work that idle
    // cores hide from the latency.
    val contract = Seq(
      "setup_s" -> Metric(Stats.median(o.setupS), "s"),
      "unit_p50_ms" -> Metric(Stats.median(o.unitMs), "ms"),
      "unit_cpu_ms" -> Metric(Stats.mean(o.unitCpuMs), "ms"),
      "live_heap_mb" -> Metric(o.heapMb, "MB"))
    val named = o.named :+ ("fail_ratio" -> Metric(o.failed.toDouble /
      math.max(1L, o.attempted), "ratio"))
    named.foreach { case (n, m) => println(s"metric $n ${m.value} ${m.unit}") }
    if (cfg.trace) {
      val spans = tr.finish()
      val art = Map(
        "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
        "cpus" -> cfg.cpus, "attempted" -> o.attempted, "failed" -> o.failed,
        "end_to_end" -> contract.map { case (n, m) => n -> metricJson(m) }.toMap,
        "named" -> named.map { case (n, m) => n -> metricJson(m) }.toMap,
        "per_layer" -> o.layers,
        "self_time_s" -> spans.groupBy(_._1.layer).map { case (l, ss) =>
          l -> ss.map(_._2).sum / 1e6 },
        "notes" -> o.notes,
        "spans" -> spans.map { case (s, self) => Map("id" -> s.id,
          "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start,
          "end_us" -> s.end, "parent" -> s.parent, "unit" -> s.unit,
          "self_us" -> self) })
      val f = new java.io.File(cfg.out, s"trace-${cfg.workload}-${cfg.seed}.json")
      java.nio.file.Files.writeString(f.toPath, Json(art))
      println(s"trace written to ${f.getPath}")
    }
    println("PERFBENCH " + Json(Map(
      "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> contract.map { case (n, m) => n -> metricJson(m) }.toMap,
      "per_layer" -> o.layers)))
    System.out.flush()
    // Spark and streaming threads must not keep the JVM alive
    Runtime.getRuntime.halt(0)
  }

  private def metricJson(m: Metric): Map[String, Any] =
    Map("value" -> m.value, "unit" -> m.unit)

  /** One local session per run, through the engine's front door. */
  def session(cfg: Config): SparkSession = {
    val s = graft.Engine.session(s"local[${cfg.cpus}]", cfg.cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections, in MB. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Marks a phase of the run on stderr, with seconds since JVM start. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $name")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread, GC included), ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Minimal JSON writer for the run's result line and trace artifact. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    case m: Map[_, _] =>
      sb.append('{')
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        write(k.toString, sb)
        sb.append(':')
        write(x, sb)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        write(x, sb)
      }
      sb.append(']')
    case other => write(other.toString, sb)
  }
}
