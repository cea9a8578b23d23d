package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.jdk.CollectionConverters._

/** SQL gateway — the REST service role of flink-table/flink-sql-gateway
  * (SqlGatewayRestEndpoint: sessions, statements as operations, paged
  * result fetch). The endpoint surface follows the reference's v1 REST
  * API shape:
  *
  *   GET    /v1/info                                   -> product/version
  *   POST   /v1/sessions                               -> {sessionHandle}
  *   DELETE /v1/sessions/{sh}                          -> close
  *   POST   /v1/sessions/{sh}/statements               -> {operationHandle}
  *   GET    /v1/sessions/{sh}/operations/{oh}/status   -> {status}
  *   GET    /v1/sessions/{sh}/operations/{oh}/result/{token}
  *            -> {resultType, columns, data, nextToken?}
  *
  * Statements run through [[Engine.sql]], so the WHOLE extended surface
  * (window TVFs, temporal joins, MATCH_RECOGNIZE, extended DDL,
  * statement sets) is reachable over HTTP. Execution is synchronous on a
  * pool (the reference runs operations async too, exposing status
  * polling — preserved here: status is RUNNING until the frame
  * materializes, then FINISHED/ERROR). Built on the JDK's HttpServer:
  * zero dependencies beyond the JVM.
  */
class SqlGateway(spark: SparkSession, port: Int = 0,
    maxResultRows: Option[Int] = None, pageSize: Int = 1000) {

  /** One statement's lifecycle (the reference's OperationManager entry).
    * Results are PULLED lazily: `iter` is a `toLocalIterator` over the
    * frame, advanced page-by-page on fetch — a client that stops after
    * page 0 never materializes the cap, and pages already served stay
    * re-fetchable by token (the reference's fetch contract). All pulls
    * synchronize on the operation; the cap bounds total buffered rows. */
  private class Operation {
    @volatile var status: String = "RUNNING" // RUNNING|FINISHED|ERROR|CANCELED
    @volatile var error: String = null
    /** The running job(s), when the statement was a CONTINUOUS INSERT
      * or a STREAMING statement set (Flink gateway: the operation's
      * result is the job id(s) and the jobs outlive the fetch;
      * cancel/close stops them all). */
    @volatile var jobs: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
    /** The jobs' checkpoint directory — owned by this operation, so
      * stopping the jobs (cancel / session close) reclaims it; a
      * long-lived gateway must not leak one temp tree per statement. */
    @volatile var checkpoint: java.nio.file.Path = null

    /** Stop every running job and reclaim the checkpoint directory. */
    def stopJobs(): Unit = {
      jobs.foreach(q => try q.stop() catch { case _: Exception => () })
      Option(checkpoint).foreach(graft.util.FileTree.deleteRecursively)
    }
    @volatile var columns: Seq[String] = Nil
    @volatile var truncated = false
    private val pages = new scala.collection.mutable.ArrayBuffer[Seq[Seq[Any]]]()
    private var iter: Iterator[org.apache.spark.sql.Row] = null
    private var fetchedRows = 0
    private var exhausted = false

    /** Bind the lazy result source — a no-op if a cancel raced ahead
      * (the worker must not resurrect a canceled operation). Returns
      * whether the operation is still live. */
    def bind(it: Iterator[org.apache.spark.sql.Row]): Boolean =
      synchronized { if (status == "CANCELED") false else { iter = it; true } }

    /** Transition RUNNING -> FINISHED (a racing cancel wins). */
    def finish(): Unit = synchronized {
      if (status == "RUNNING") status = "FINISHED"
    }

    def fail(t: Throwable): Unit = synchronized {
      // a cancel-induced job kill surfaces as an exception in the
      // worker/fetch thread: CANCELED is the truthful terminal state
      if (status == "RUNNING") { error = String.valueOf(t.getMessage); status = "ERROR" }
    }

    /** Cancel must NOT wait for the operation monitor: a page() pull may
      * be blocked inside a long Spark job holding it. The status flip
      * (volatile) and the job-group kill happen lock-free — the kill
      * makes the blocked iterator throw (tasks poll the kill flag per
      * record via InterruptibleIterator; no thread interrupt involved),
      * releasing the monitor — and only the buffer cleanup synchronizes. */
    def cancel(oh: String): Unit = {
      // a continuous INSERT's (or streaming set's) cancel is the JOBS'
      // stop (Flink gateway closeOperation on a streaming job cancels
      // it) — and the operation's checkpoint tree is reclaimed with them
      stopJobs()
      if (status == "RUNNING" || status == "FINISHED") {
        // tag registration FIRST: a job whose submission races past the
        // direct kill below is reaped by the onJobStart listener (which
        // observes the set after this add), so no ordering loses the job
        tagCanceled(tagOf(oh))
        status = "CANCELED"
        error = "operation canceled"
        spark.sparkContext.cancelJobsWithTag(tagOf(oh),
          s"gateway operation $oh canceled")
        synchronized { iter = null; pages.clear() }
      }
    }

    /** The page at `token`, materializing up to it; None past the end.
      * Returns (page, moreAvailable). */
    def page(token: Int, cap: Int): (Option[Seq[Seq[Any]]], Boolean) = synchronized {
      try {
        while (pages.length <= token && !exhausted && iter != null &&
            status != "CANCELED") {
          val buf = Vector.newBuilder[Seq[Any]]
          var n = 0
          while (n < pageSize && fetchedRows < cap &&
              status != "CANCELED" && iter.hasNext) {
            val r = iter.next()
            buf += (0 until r.length).map(r.get)
            n += 1; fetchedRows += 1
          }
          if (fetchedRows >= cap && iter.hasNext) { truncated = true; exhausted = true }
          else if (!iter.hasNext) exhausted = true
          val p = buf.result()
          if (p.nonEmpty) pages += p
        }
      } catch {
        // a cancel mid-pull kills the running job under this iterator:
        // swallow the kill and report the canceled state, any other
        // failure is the operation's error
        case _: Throwable if status == "CANCELED" => iter = null
        case t: Throwable => fail(t); iter = null
      }
      val out = if (token < pages.length) Some(pages(token)) else None
      (out, pages.length > token + 1 || !exhausted)
    }
  }

  /** Tag Spark jobs submitted on behalf of operation `oh` so cancel()
    * can reach them. Job TAGS, not job groups: an AQE query runs its
    * shuffle-stage and broadcast jobs from Spark's own pools, and tags
    * are the mechanism Spark's SQL cancellation propagates through those
    * submission paths — a thread-local job GROUP misses them, leaving
    * the canceled query's heavy stage running and starving every later
    * query of executor slots (the round-7 SqlGatewaySpec timeouts: the
    * two tests after the cancel test waited 30 s behind a zombie
    * cartesian join). add/removeJobTag also avoids
    * setJobGroup/clearJobGroup's thread-inherited state. Cancellation
    * relies on the task kill flag (polled per record by
    * InterruptibleIterator), NOT thread interrupts: on a shared
    * local-mode executor a stale interrupt landing after its task
    * completed would poison the pooled thread for whatever runs next. */
  private def tagged[T](oh: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(SqlGateway.tagOf(oh))
    try f finally sc.removeJobTag(SqlGateway.tagOf(oh))
  }

  private def tagOf(oh: String): String = SqlGateway.tagOf(oh)

  private val sessions = new ConcurrentHashMap[String, ConcurrentHashMap[String, Operation]]()
  private val pool = Executors.newFixedThreadPool(4)

  /** Tags of canceled operations, consulted by [[reaper]]. Bounded:
    * entries drop at worker exit (after the exit sweep no thread can
    * submit for that operation — RUNNING cancels, the common case), on
    * session close, and by a FIFO cap as a backstop for
    * canceled-after-FINISHED operations on very long-lived gateways. */
  private val canceledTags =
    ConcurrentHashMap.newKeySet[String]()
  private val canceledOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def tagCanceled(tag: String): Unit = {
    if (canceledTags.add(tag)) {
      canceledOrder.add(tag)
      while (canceledOrder.size > 1024) { // day-old tags have no pending jobs
        val old = canceledOrder.poll()
        if (old != null) canceledTags.remove(old)
      }
    }
  }

  /** Closes the cancel/submit race that made cancellation flaky:
    * cancelJobsWithTag only reaches jobs ALREADY submitted, but an AQE
    * toLocalIterator submits its stage jobs from inside the (blocked)
    * worker thread — a cancel landing during planning killed nothing,
    * and the late-submitted job ran as a zombie holding every local
    * executor slot (the round-7..9 SqlGatewaySpec flake: the two tests
    * after the cancel test starved behind it). Any job that STARTS
    * carrying a canceled operation's tag is killed on arrival; together
    * with the direct kill in cancel() every submission order is covered
    * (submitted-before-cancel -> direct kill; submitted-after ->
    * listener, which observes canceledTags AFTER cancel()'s add). */
  private val reaper = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val tags = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).map(_.trim)
      tags.filter(canceledTags.contains).foreach { t =>
        spark.sparkContext.cancelJobsWithTag(t,
          "gateway operation canceled (reaping a late-submitted job)")
      }
    }
  }
  spark.sparkContext.addSparkListener(reaper)
  private val PageSize = pageSize
  /** Results buffer on the gateway until the session closes; an unbounded
    * fetch of a big SELECT would OOM the service JVM, so the pull stops
    * at the cap and the result is marked truncated past it. */
  private val MaxResultRows = maxResultRows.getOrElse(
    sys.env.get("GRAFT_GATEWAY_MAX_ROWS").map(_.toInt).getOrElse(100000))

  private val httpPool = Executors.newFixedThreadPool(4)
  private val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/v1", handler)
    s.setExecutor(httpPool)
    s.start()
    s
  }

  /** Bound port (for port=0 auto-assignment). */
  def boundPort: Int = server.getAddress.getPort

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    httpPool.shutdownNow() // non-daemon threads would otherwise pin the JVM
    spark.sparkContext.removeSparkListener(reaper) // gateways share the context
  }

  // ---- JSON helpers (emit only; requests carry the statement as a JSON
  // object with a "statement" field, extracted with a targeted scan) ----

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case n: Double => if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case other => jstr(String.valueOf(other))
  }

  /** Value of a top-level string field in a JSON object body — enough
    * for the gateway's single-field requests, no JSON library needed. */
  private[graft] def stringField(body: String, field: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(field) + "\"\\s*:\\s*\"")
      .matcher(body)
    if (!m.find()) return None
    val sb = new StringBuilder
    var i = m.end()
    var done = false
    while (!done && i < body.length) {
      body.charAt(i) match {
        case '\\' if i + 1 < body.length =>
          body.charAt(i + 1) match {
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' if i + 5 < body.length =>
              sb.append(Integer.parseInt(body.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case c => sb.append(c)
          }
          i += 2
        case '"' => done = true
        case c => sb.append(c); i += 1
      }
    }
    Some(sb.toString)
  }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handler: HttpHandler = (ex: HttpExchange) => {
    try route(ex)
    catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"errors":[${jstr(String.valueOf(t.getMessage))}]}""")
    }
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/v1").stripSuffix("/")
    val method = ex.getRequestMethod
    val parts = path.split("/").filter(_.nonEmpty).toList
    (method, parts) match {
      case ("GET", List("info")) =>
        respond(ex, 200, s"""{"productName":"graft","version":"${spark.version}"}""")

      case ("POST", List("sessions")) =>
        val sh = UUID.randomUUID().toString
        sessions.put(sh, new ConcurrentHashMap[String, Operation]())
        respond(ex, 200, s"""{"sessionHandle":"$sh"}""")

      case ("DELETE", List("sessions", sh)) =>
        Option(sessions.remove(sh)).foreach { ops =>
          ops.values().asScala.foreach(_.stopJobs())
          ops.keySet().asScala.foreach(oh => canceledTags.remove(tagOf(oh)))
        }
        respond(ex, 200, s"""{"status":"CLOSED"}""")

      case ("POST", List("sessions", sh, "statements")) =>
        val ops = sessions.get(sh)
        if (ops == null) { respond(ex, 404, """{"errors":["unknown session"]}"""); return }
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        stringField(body, "statement") match {
          case None => respond(ex, 400, """{"errors":["missing 'statement'"]}""")
          case Some(stmt) =>
            val oh = UUID.randomUUID().toString
            val op = new Operation
            ops.put(oh, op)
            pool.submit(new Runnable {
              override def run(): Unit =
                try tagged(oh) {
                  // a CONTINUOUS INSERT becomes a RUNNING JOB whose
                  // one-row result is the job id, and a STREAMING
                  // statement set becomes N jobs under ONE operation
                  // handle (the Flink gateway's streaming-statement
                  // contract); batch forms fall through to the eager
                  // path below. Detection matches EXACTLY the statement
                  // shapes sqlStreamInsert/sqlStreamStatementSet accept
                  // — a broader guess would error on forms (qualified
                  // sinks, column lists) the eager path runs fine.
                  def tryStream(start: String => Seq[
                      org.apache.spark.sql.streaming.StreamingQuery]): Boolean = {
                    val ckptPath = java.nio.file.Files
                      .createTempDirectory(s"graft-gw-$oh")
                    op.checkpoint = ckptPath
                    try { op.jobs = start(ckptPath.toString); true }
                    catch {
                      // "this is a BATCH statement" rejects (no
                      // watermarked source; FINAL_STATE body) fall
                      // through to the eager path; anything else is a
                      // genuine statement error and propagates
                      case e: IllegalArgumentException
                          if e.getMessage != null &&
                            (e.getMessage.contains("use sql() for batch") ||
                              e.getMessage.contains("BATCH read") ||
                              e.getMessage.contains(
                                "INSERT INTO members only")) =>
                        // nothing streamed: reclaim the checkpoint tree
                        op.checkpoint = null
                        graft.util.FileTree.deleteRecursively(ckptPath)
                        false
                    }
                  }
                  val continuous = stmt match {
                    case Engine.StreamInsertRe(_, _) =>
                      tryStream(ck =>
                        Seq(Engine.sqlStreamInsert(spark, stmt, ck)))
                    case Engine.StmtSetRe(_) =>
                      tryStream(ck =>
                        Engine.sqlStreamStatementSet(spark, stmt, ck))
                    case _ => false
                  }
                  if (continuous) {
                    op.columns = Seq("jobId", "status")
                    if (op.status == "RUNNING" && op.bind(
                        op.jobs.iterator.map(q =>
                          org.apache.spark.sql.Row(q.id.toString, "RUNNING")))) {
                      op.page(0, MaxResultRows)
                      op.finish()
                    } else op.stopJobs()
                  } else {
                  val df: DataFrame = Engine.sql(spark, stmt)
                  op.columns = df.schema.fieldNames.toSeq
                  // bind + prefetch only while still live: a cancel that
                  // landed during planning must not have its tag-kill
                  // outrun by fresh stage jobs submitted here (an AQE
                  // toLocalIterator materializes upstream stages eagerly)
                  if (op.status == "RUNNING" &&
                      op.bind(df.toLocalIterator().asScala)) {
                    // prefetch page 0 so FINISHED means "fetchable now";
                    // later pages pull on demand
                    op.page(0, MaxResultRows)
                    op.finish()
                  }
                  }
                } catch {
                  case t: Throwable => op.fail(t)
                } finally if (op.status == "CANCELED") {
                  // third layer: whatever this worker submitted while the
                  // cancel raced is certainly visible to a kill by now —
                  // and with the worker gone (and result fetches rejected
                  // at the route for CANCELED ops) nothing can submit for
                  // this operation again, so the reaper tag can drop
                  spark.sparkContext.cancelJobsWithTag(tagOf(oh),
                    s"gateway operation $oh canceled (worker exit sweep)")
                  canceledTags.remove(tagOf(oh))
                }
            })
            respond(ex, 200, s"""{"operationHandle":"$oh"}""")
        }

      case ("POST", List("sessions", sh, "operations", oh, "cancel")) =>
        opOf(sh, oh) match {
          case None => respond(ex, 404, """{"errors":["unknown operation"]}""")
          case Some(op) =>
            op.cancel(oh)
            respond(ex, 200, s"""{"status":"${op.status}"}""")
        }

      case ("GET", List("sessions", sh, "operations", oh, "status")) =>
        opOf(sh, oh) match {
          case None => respond(ex, 404, """{"errors":["unknown operation"]}""")
          case Some(op) => respond(ex, 200, s"""{"status":"${op.status}"}""")
        }

      case ("GET", List("sessions", sh, "operations", oh, "result", tokenStr)) =>
        opOf(sh, oh) match {
          case None => respond(ex, 404, """{"errors":["unknown operation"]}""")
          case Some(op) => op.status match {
            case "RUNNING" => respond(ex, 200, """{"resultType":"NOT_READY"}""")
            case "ERROR" | "CANCELED" =>
              respond(ex, 200,
                s"""{"resultType":"ERROR","errors":[${jstr(op.error)}]}""")
            case _ =>
              val token = tokenStr.toInt
              // lazy page pulls run Spark jobs on THIS thread: tag them
              // with the operation's group so cancel() reaches them
              val (page, more) = tagged(oh) { op.page(token, MaxResultRows) }
              val data = page.getOrElse(Nil)
                .map(r => "[" + r.map(jval).mkString(",") + "]")
                .mkString("[", ",", "]")
              val cols = op.columns.map(jstr).mkString("[", ",", "]")
              val next = if (more) s""","nextToken":${token + 1}""" else ""
              val trunc = if (op.truncated) s""","truncated":true""" else ""
              respond(ex, 200,
                s"""{"resultType":"PAYLOAD","columns":$cols,"data":$data$next$trunc}""")
          }
        }

      case _ => respond(ex, 404, """{"errors":["no such route"]}""")
    }
  }

  private def opOf(sh: String, oh: String): Option[Operation] =
    Option(sessions.get(sh)).flatMap(m => Option(m.get(oh)))
}

object SqlGateway {
  /** Job tag carried by every Spark job an operation submits — the unit
    * cancel() kills by, and the handle tests/tools use to observe an
    * operation's jobs via SparkStatusTracker.getJobIdsForTag. */
  private[graft] def tagOf(oh: String): String = s"graft-gateway-$oh"

  /** CLI entry: start the gateway over the fixture catalog and block.
    * Usage: runMain graft.SqlGateway <sfDir> [port]. */
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    Engine.openCatalog(spark, args(0))
    val gw = new SqlGateway(spark, if (args.length > 1) args(1).toInt else 8083)
    println(s"graft sql gateway listening on ${gw.boundPort}")
    Thread.currentThread().join()
  }
}
