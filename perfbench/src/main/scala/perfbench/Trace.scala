package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary, in epoch microseconds. `unit` is
  * the round or query the span belongs to; `parent` is resolved after the
  * run (listener spans arrive on other threads). */
final case class Span(id: Int, layer: String, name: String, start: Long,
    end: Long, var parent: Int, unit: String, tid: Long) {
  def dur: Long = end - start
}

/** A finished Spark task, as the listener saw it. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, deserMs: Long, resultSerMs: Long,
    gettingResultMs: Long, gcMs: Long, inRecords: Long, inBytes: Long,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long) {
  /** Spark UI's scheduler delay: task wall time not spent running,
    * deserializing, serializing or fetching the result. */
  def schedDelayMs: Long = math.max(0L, finishMs - launchMs - runMs - deserMs -
    resultSerMs - gettingResultMs)
  def overheadMs: Long = schedDelayMs + deserMs + gettingResultMs
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int], queryId: Option[String])

final case class StateOpRec(name: String, provider: String, rowsTotal: Long,
    rowsUpdated: Long, rowsRemoved: Long, commitMs: Long, memoryBytes: Long)

final case class BatchRec(queryId: String, queryName: String, batchId: Long,
    startMs: Long, durMs: Map[String, Long], inputRows: Long,
    ops: Seq[StateOpRec])

/** In-memory trace of one run: spans recorded by the benchmark around its
  * calls into the engine, plus the Spark scheduler and streaming progress
  * events gathered by listeners. Off (every call a pass-through) unless the
  * run is the traced one. */
final class Trace(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val epochUs0 = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  @volatile var unit: String = ""

  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = ArrayBuffer.empty[JobRec]
  val batches = ArrayBuffer.empty[BatchRec]

  def nowUs: Long = epochUs0 + System.nanoTime() / 1000

  /** Times `body` as a span of `layer`, nested under the innermost open
    * span of this thread. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowUs
      try body
      finally {
        val t1 = nowUs
        stack.set(stack.get.tail)
        spans.synchronized {
          spans += Span(id, layer, name, t0, t1, parent, unit,
            Thread.currentThread().getId)
        }
      }
    }

  private def addSpan(layer: String, name: String, start: Long, end: Long,
      unit: String): Int = {
    val id = nextId.getAndIncrement()
    spans.synchronized { spans += Span(id, layer, name, start, end, -1, unit, -1) }
    id
  }

  // ---- listeners --------------------------------------------------------

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds,
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val i = e.taskInfo
        val rec = TaskRec(e.stageId, i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
          m.resultSerializationTime, i.gettingResultTime match {
            case 0L => 0L
            case t => math.max(0L, i.finishTime - t)
          }, m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.synchronized { tasks += rec }
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq.map { o =>
        val custom = o.customMetrics.keySet().toString.toLowerCase
        StateOpRec(o.operatorName,
          if (custom.contains("rocksdb")) "RocksDBStateStoreProvider"
          else "HDFSBackedStateStoreProvider",
          o.numRowsTotal, o.numRowsUpdated, o.numRowsRemoved, o.commitTimeMs,
          o.memoryUsedBytes)
      }
      val dur = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
        .asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.synchronized {
        batches += BatchRec(p.id.toString, Option(p.name).getOrElse(""), p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, dur, p.numInputRows, ops)
      }
    }
  }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted scheduler and streaming event has reached
    * the listeners. */
  def drain(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbench.BusDrain(spark)
  }

  // ---- windows ----------------------------------------------------------

  def tasksIn(fromMs: Long, toMs: Long): Seq[TaskRec] = tasks.synchronized {
    tasks.filter(t => t.launchMs >= fromMs && t.finishMs <= toMs).toSeq
  }
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = jobs.synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.endMs >= 0 && j.endMs <= toMs).toSeq
  }
  def batchesIn(fromMs: Long, toMs: Long): Seq[BatchRec] = batches.synchronized {
    batches.filter(b => b.startMs >= fromMs &&
      b.startMs + b.durMs.getOrElse("triggerExecution", 0L) <= toMs).toSeq
  }

  /** Wall milliseconds in [fromMs, toMs] with no task running. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val iv = tasksIn(fromMs, toMs).map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
    var covered = 0L
    var cur = fromMs
    iv.foreach { case (s, e) =>
      val s1 = math.max(s, cur)
      if (e > s1) { covered += e - s1; cur = e }
    }
    (toMs - fromMs) - covered
  }

  // ---- output -----------------------------------------------------------

  /** Turns listener records into spans (job, stage-less batch phases),
    * resolves parents by interval containment, and returns every span with
    * its self time: duration minus the part its children cover. */
  def finish(): Seq[(Span, Long)] = finished

  private lazy val finished: Seq[(Span, Long)] = {
    jobs.synchronized(jobs.toList).filter(_.endMs >= 0).foreach { j =>
      addSpan("driver", s"job ${j.id}", j.startMs * 1000, j.endMs * 1000,
        j.queryId.getOrElse(""))
    }
    batches.synchronized(batches.toList).foreach { b =>
      val start = b.startMs * 1000
      val end = start + b.durMs.getOrElse("triggerExecution", 0L) * 1000
      addSpan("mb", s"batch ${b.queryName}#${b.batchId}", start, end, b.queryId)
    }
    val all = spans.synchronized(spans.toList).sortBy(s => (s.start, -s.end))
    // Listener spans (parent -1) nest under the narrowest span that
    // contains them; streaming jobs prefer their own query's batch.
    all.filter(_.parent < 0).foreach { s =>
      val candidates = all.filter(c => c.id != s.id && c.start <= s.start &&
        c.end >= s.end && c.dur > s.dur)
      val own = candidates.filter(c => s.unit.nonEmpty && c.unit == s.unit)
      s.parent = (if (own.nonEmpty) own else candidates.filter(_.tid >= 0) ++
        candidates.filter(c => c.tid < 0 && c.unit.isEmpty))
        .sortBy(_.dur).headOption.map(_.id).getOrElse(0)
    }
    val children = all.groupBy(_.parent)
    all.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var cur = s.start
      iv.foreach { case (a, b) =>
        val a1 = math.max(a, cur)
        if (b > a1) { covered += b - a1; cur = b }
      }
      (s, s.dur - covered)
    }
  }
}
