package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TableEnvironment analog (SURVEY.md §3.1): session construction with the
  * engine's extensions, catalog registration of the fixture tables as temp
  * views, and a SQL entry point. Flink's parse/validate/optimize/execute
  * chain is Catalyst's — we only add the catalog and function surface.
  */
object Engine {

  /** Local cores a session uses by default: `SPARK_GRAFT_CPUS`, else
    * every available processor. */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Entries of Spark's JVM-wide codegen cache (`CodeGenerator.cache`). */
  private[graft] val CodegenCacheEntries = 1000

  /** The one session factory: every main and the test suite build here. */
  def session(master: String = s"local[$cpus]", shufflePartitions: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Flink's TIME type (LogicalTypeRoot TIME_WITHOUT_TIME_ZONE) maps
      // onto Spark 4.1's TimeType, which ships behind this flag.
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark's codegen cache is keyed by (class loader, code). With
      // artifact isolation every streaming query's cloned session gets its
      // own loader, so identical code compiles again per query and per
      // restart; the engine adds no per-session jars or files, so all
      // sessions share one artifact state and one loader.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // the default 100 entries is below one JVM's working set of
      // generated classes (about 230 after two restarts of three
      // continuous statements), so every micro-batch evicted and recompiled
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // file: paths (checkpoints, state stores, sinks) without a chmod or
      // readlink child process per file
      .config(graft.util.LocalFs.SessionConf.toMap)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Releases what a query left in the BlockManager: cached tables and
    * every persistent RDD (cache and localCheckpoint survive the action). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Register every fixture table as a temp view (events with the derived
    * µs timestamp columns), making `spark.sql` queries self-contained.
    *
    * DDL surface: `sql` also accepts the catalog-backed DDL subset —
    * CREATE TABLE (+ CTAS) / INSERT INTO / INSERT OVERWRITE / CREATE
    * [OR REPLACE] [TEMP] VIEW / ALTER TABLE ADD COLUMNS / SHOW TABLES /
    * DROP — persisted in the session catalog (Derby metastore +
    * spark-warehouse), the analog of Flink SqlClient's catalog DDL
    * (flink-sql-parser parserImpls.ftl); DdlSpec drives the round-trip. */
  def openCatalog(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  private val ExplainRe =
    """(?is)\s*EXPLAIN(\s+(?:FORMATTED|EXTENDED|CODEGEN|COST))?\s+(SELECT\b.*)""".r
  private[graft] val StmtSetRe =
    """(?is)\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\b(.*?)\bEND\s*;?\s*""".r

  private def extendedMatches(q: String): Boolean =
    WindowTvfSql.matches(q) || TemporalSql.matches(q) ||
      graft.cep.MatchRecognize.matchesSql(q)

  private val InsertTargetRe =
    """(?is)\bINSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?`?([\w.]+)`?""".r

  /** Catalog-object names reachable from `name`'s RESOLVED plan (the name
    * itself, plus every view/table its lineage reads). None when the name
    * can't be resolved — callers treat that as "assume it reaches
    * everything" and skip reuse for it. */
  private def lineageNames(
      spark: SparkSession, name: String): Option[Set[String]] =
    scala.util.Try {
      spark.table(name).queryExecution.analyzed.collectWithSubqueries {
        case v: org.apache.spark.sql.catalyst.plans.logical.View =>
          Seq(v.desc.identifier.table.toLowerCase)
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.catalogTable.map(_.identifier.table.toLowerCase).toSeq
        case h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
          Seq(h.tableMeta.identifier.table.toLowerCase)
      }.flatten.toSet + name.toLowerCase
    }.toOption

  /** Leaf sources READ by ≥2 members of a statement set (write targets
    * excluded — pre-materializing a table another member inserts into
    * would freeze a pre-insert snapshot and break the sequential
    * semantics; a leaf VIEW whose lineage reads a write target is just as
    * unsafe, so exclusion follows the resolved lineage, not only the
    * leaf's own name). Members in the extended dialect (window TVF /
    * temporal / MATCH_RECOGNIZE) don't parse with Spark's parser; they
    * fall back to an identifier scan against the session's visible
    * tables. */
  private[graft] def sharedLeafSources(
      spark: SparkSession, stmts: Seq[String]): Seq[String] = {
    // normalized to the BARE table name (last identifier part): lineage
    // names collect bare `identifier.table`, so a qualified INSERT INTO
    // db.t would otherwise never intersect and a view over t would be
    // served from a stale pre-insert snapshot. Bare-name matching can
    // only over-exclude (same table name in two databases), which
    // degrades to the safe no-reuse path.
    val writeTargets = stmts.flatMap(s =>
      InsertTargetRe.findAllMatchIn(s)
        .map(_.group(1).toLowerCase.split('.').last)).toSet
    // extended tables write through a __<t>_base parquet table: a lineage
    // touching either spelling is tainted
    val writeReach = writeTargets ++ writeTargets.map(t => s"__${t}_base")
    lazy val visible: Set[String] =
      spark.catalog.listTables().collect().map(_.name.toLowerCase).toSet
    def leaves(stmt: String): Set[String] =
      (try {
        spark.sessionState.sqlParser.parsePlan(stmt).collectWithSubqueries {
          case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            r.multipartIdentifier.mkString(".").toLowerCase
        }.toSet
      } catch {
        case _: Exception => // extended dialect: conservative identifier scan
          """\b[A-Za-z_][A-Za-z0-9_]*\b""".r.findAllIn(stmt)
            .map(_.toLowerCase).toSet.intersect(visible)
      }) -- writeTargets
    stmts.map(leaves)
      .foldLeft(Map.empty[String, Int]) { (acc, s) =>
        s.foldLeft(acc)((a, n) => a.updated(n, a.getOrElse(n, 0) + 1))
      }
      .collect { case (n, c) if c >= 2 => n }.toSeq.sorted
      .filter { n =>
        if (writeReach.isEmpty) true
        else lineageNames(spark, n) match {
          case Some(reached) => reached.intersect(writeReach).isEmpty
          case None          => false // unresolvable lineage: no reuse
        }
      }
  }

  /** SQL entry point with the engine's extended dispatch (SqlClient
    * analog): window-TVF / legacy grouped-window syntax -> WindowTvfSql,
    * temporal-join syntax -> TemporalSql bridge, MATCH_RECOGNIZE
    * statements -> the CEP SQL bridge, extended DDL (computed columns /
    * WATERMARK) -> WatermarkDdl, everything else -> spark.sql. EXPLAIN
    * works over the EXTENDED surface too (the lowered plan is explained —
    * SqlClient's EXPLAIN-through-the-planner behavior), and EXECUTE
    * STATEMENT SET BEGIN ... END runs a multi-statement batch
    * (SqlClient's statement sets; Spark executes the members
    * sequentially, but leaf sources READ by two or more members are
    * materialized ONCE — persist() swapped in under the same view name
    * for the duration of the set — so an N-INSERT set over one source
    * pays one source scan, the role of Flink's
    * StreamCommonSubGraphBasedOptimizer DAG merge; set
    * `graft.statementSet.reuseSources=false` to opt out, e.g. when the
    * shared source is too large to spill-cache). The whole implemented
    * surface is reachable from one SQL-text front door. */
  // Flink's EXPLAIN details (SqlRichExplain, ExplainDetail): modes the
  // stock EXPLAIN grammar lacks
  private val ExplainChangelogRe =
    """(?is)\s*EXPLAIN\s+CHANGELOG_MODE\s+(\S.*)""".r
  private val ExplainCostDetailRe =
    """(?is)\s*EXPLAIN\s+ESTIMATED_COST\s+(\S.*)""".r
  private val ExplainJsonRe =
    """(?is)\s*EXPLAIN\s+JSON_EXECUTION_PLAN\s+(\S.*)""".r
  // the reference's EXPLAIN body form for sets: `EXPLAIN [details]
  // STATEMENT SET BEGIN ... END` (EXECUTE optional here — SqlRichExplain
  // takes the bare SqlStatementSet)
  private val ExplainStmtSetRe =
    """(?is)\s*(?:EXECUTE\s+)?STATEMENT\s+SET\s+BEGIN\b(.*?)\bEND\s*;?\s*""".r

  /** The "== Streaming Insert ==" rich-explain block for one INSERT
    * member: the route line names the continuous operator (and, for a
    * top-N, the chosen RankProcessStrategy) sqlStreamInsert would pick;
    * the body's changelog modes follow. Nothing executes. */
  private def streamInsertExplainText(
      spark: SparkSession, sink: String, select: String): String = {
    import spark.implicits._
    val route = ChangelogSql.route(spark, select).fold(
      "append INSERT (continuous append-mode when a referenced source " +
        "declares WATERMARK/PROCTIME, plain batch write otherwise)")(
      _.line(spark))
    val inner = ChangelogSql.explainChangelog(spark, select)
      .as[String].collect().head
    s"== Streaming Insert ==\n  sink: $sink\n  route: $route\n\n$inner"
  }

  /** The rich-EXPLAIN modes route their body through the EXTENDED sql()
    * dispatch, which executes statements EAGERLY — so a side-effecting
    * body (INSERT into a connector table, CREATE, SET, ...) would
    * actually run under EXPLAIN. Flink's EXPLAIN never executes the job;
    * until a plan-without-execute path exists for the extended dialect,
    * only query-shaped bodies (SELECT / WITH / TABLE / VALUES) are
    * admitted — everything else rejects loudly instead of silently
    * committing a write. */
  private def requireQueryShapedExplainBody(body: String, mode: String): Unit = {
    // head = the first STRUCTURAL token's word (comments skipped, a
    // parenthesized query unwrapped) — takeWhile(isLetter) on raw text
    // would misread '(SELECT ...' or a leading comment as side-effecting
    val toks = graft.util.SqlTokens.structural(
      graft.util.SqlTokens.tokenize(body))
    val head = toks
      .dropWhile(_.kind == graft.util.SqlTokens.Kind.LParen)
      .headOption
      .filter(_.kind == graft.util.SqlTokens.Kind.Ident)
      .map(_.word(body)).getOrElse("")
    require(Set("SELECT", "WITH", "TABLE", "VALUES").contains(head),
      s"EXPLAIN $mode takes a QUERY body (SELECT/WITH/TABLE/VALUES); " +
        s"'${body.trim.take(60)}' is a statement with side effects and " +
        "will not be executed under EXPLAIN")
  }

  private val SetQuotedRe =
    """(?is)\s*SET\s+'([^']+)'\s*=\s*'([^']*)'\s*;?\s*""".r
  private val SetBareRe = """(?is)\s*SET\s*;?\s*""".r
  private val ResetQuotedRe = """(?is)\s*RESET\s+'([^']+)'\s*;?\s*""".r

  def sql(spark: SparkSession, query: String): DataFrame = query match {
    // SqlClient session-config statements (flink-sql-client
    // SqlSetOperation/SqlResetOperation): Flink's QUOTED spelling —
    // SET 'key' = 'value' / RESET 'key' — which Spark's own SET grammar
    // rejects ("invalid property key"). Spark's unquoted SET/RESET
    // forms fall through to spark.sql untouched. Bare SET lists the
    // session configuration, like the client.
    // EXPLAIN CHANGELOG_MODE / ESTIMATED_COST / JSON_EXECUTION_PLAN —
    // the reference's rich-explain details (ExplainDetail.java):
    // changelog modes annotate per-relation encodings + the inference
    // route; ESTIMATED_COST maps onto Catalyst's cost mode;
    // JSON_EXECUTION_PLAN serializes the optimized plan tree.
    case ExplainChangelogRe(body) =>
      body match {
        // an INSERT INTO ... SELECT body is EXPLAINED as the streaming
        // job it would start (Flink's EXPLAIN over an INSERT plans the
        // job without running it): the route line names the continuous
        // operator sqlStreamInsert would choose, the select's
        // changelog modes follow — and nothing executes, no stream
        // starts, no write commits
        case StreamInsertRe(sink, select) =>
          import spark.implicits._
          Seq(streamInsertExplainText(spark, sink, select)).toDF("plan")
        // the reference's EXPLAIN over a whole STATEMENT SET
        // (SqlRichExplain accepts SqlStatementSet — parserImpls.ftl):
        // each INSERT member is planned as its own streaming job,
        // nothing executes
        case ExplainStmtSetRe(setBody) =>
          import spark.implicits._
          val stmts = graft.util.SqlSplit.splitStatements(setBody)
          require(stmts.nonEmpty, "EXPLAIN ... STATEMENT SET: empty body")
          val parts = stmts.zipWithIndex.map {
            case (StreamInsertRe(sink, select), i) =>
              s"== Member ${i + 1} ==\n" +
                streamInsertExplainText(spark, sink, select)
            case (other, _) => throw new IllegalArgumentException(
              "a STATEMENT SET takes INSERT INTO members only; got: " +
                other.trim.take(80))
          }
          Seq(parts.mkString("\n\n")).toDF("plan")
        case _ =>
          requireQueryShapedExplainBody(body, "CHANGELOG_MODE")
          ChangelogSql.explainChangelog(spark, body)
      }
    case ExplainCostDetailRe(body) =>
      import spark.implicits._
      requireQueryShapedExplainBody(body, "ESTIMATED_COST")
      Seq(sql(spark, body).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("cost")))
        .toDF("plan")
    case ExplainJsonRe(body) =>
      import spark.implicits._
      requireQueryShapedExplainBody(body, "JSON_EXECUTION_PLAN")
      Seq(sql(spark, body).queryExecution.optimizedPlan.toJSON).toDF("plan")
    case SetQuotedRe(k, v) =>
      import spark.implicits._
      spark.conf.set(k, v)
      Seq((k, v)).toDF("key", "value")
    case ResetQuotedRe(k) =>
      import spark.implicits._
      spark.conf.unset(k)
      Seq((k, "<reset>")).toDF("key", "value")
    case SetBareRe() =>
      import spark.implicits._
      spark.conf.getAll.toSeq.sortBy(_._1).toDF("key", "value")
    case StmtSetRe(body) =>
      import spark.implicits._
      val stmts = graft.util.SqlSplit.splitStatements(body)
      require(stmts.nonEmpty, "EXECUTE STATEMENT SET: empty body")
      val reuse = spark.conf.get("graft.statementSet.reuseSources", "true").toBoolean
      // Common-subgraph reuse: cache each shared leaf under its own view
      // name (first member's scan materializes it, later members read the
      // cache), restore the original lineage + unpersist afterwards.
      val swapped = if (!reuse) Seq.empty else
        sharedLeafSources(spark, stmts).flatMap { n =>
          scala.util.Try {
            val wasTempView =
              spark.sessionState.catalog.getTempView(n).isDefined
            val orig = spark.table(n)
            val cached = orig.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            cached.createOrReplaceTempView(n)
            (n, orig, cached, wasTempView)
          }.toOption
        }
      try {
        // INSERTs execute eagerly inside sql(); their empty result frame
        // carries no row count, so the summary reports status, not rows
        // (counting would also re-execute any SELECT member)
        stmts.map { s =>
          sql(spark, s)
          (s.linesIterator.mkString(" ").trim.take(80), "OK")
        }.toDF("statement", "status")
      } finally swapped.foreach { case (n, orig, cached, wasTempView) =>
        // a catalog table was only SHADOWED by the cache view: drop the
        // shadow; a real temp view gets its original lineage back
        if (wasTempView) orig.createOrReplaceTempView(n)
        else spark.catalog.dropTempView(n)
        cached.unpersist(false)
      }
    case ExplainRe(mode, body) if extendedMatches(body) =>
      import spark.implicits._
      val m = Option(mode).map(_.trim.toLowerCase).filter(_.nonEmpty).getOrElse("simple")
      val plan = sql(spark, body).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(m))
      Seq(plan).toDF("plan")
    case _ =>
      // Batch CURRENT_WATERMARK = NULL (Flink's batch-mode semantics —
      // no watermark exists outside a streaming job; the STREAMING form
      // lowers onto the annotation pass in sqlStreamInsert). Rewritten
      // on blanked-text positions so quoted literals survive.
      val query1 = {
        // \b so identifiers merely ENDING in the name survive; the
        // argument must be a bare (possibly qualified) column — a nested
        // expression stays untouched and fails loudly in the parser
        // instead of leaving a stray paren behind
        val CwRe = """(?i)\bCURRENT_WATERMARK\s*\(\s*`?[\w.]*`?\s*\)""".r
        val b = SqlComposer.blank(query)
        if (CwRe.findFirstIn(b).isEmpty) query
        else {
          val sb = new StringBuilder
          var last = 0
          CwRe.findAllMatchIn(b).foreach { m =>
            sb.append(query.substring(last, m.start))
              .append("CAST(NULL AS TIMESTAMP)")
            last = m.end
          }
          sb.append(query.substring(last)).toString
        }
      }
      // LOCALTIME / LOCAL_TIME / LOCALTIMESTAMP / LOCAL_TIMESTAMP:
      // SQL-standard niladics (and optional empty call parens) onto
      // Spark's current_time() / localtimestamp() — Flink's LOCAL_TIME
      // and CURRENT_TIME are the same session-local TIME value
      // (BuiltInFunctionDefinitions.java:1452,1473), and Spark's parser
      // accepts neither keyword bare (it only special-cases CURRENT_DATE/
      // CURRENT_TIMESTAMP/CURRENT_TIME).
      val query2 = {
        val LtRe = """(?i)\bLOCAL_?TIME(STAMP)?\b(\s*\(\s*\))?""".r
        // blank() masks string literals only; a backtick-quoted span is
        // an identifier wherever the keyword sits inside it (`localtime`,
        // `my localtime`), so backtick spans are blanked here too
        val b = {
          val arr = SqlComposer.blank(query1).toCharArray
          var i = 0
          var in = false
          while (i < arr.length) {
            if (arr(i) == '`') in = !in
            else if (in) arr(i) = ' '
            i += 1
          }
          new String(arr)
        }
        if (LtRe.findFirstIn(b).isEmpty) query1
        else {
          val sb = new StringBuilder
          var last = 0
          LtRe.findAllMatchIn(b).foreach { m =>
            val fn = if (m.group(1) == null) "current_time()" else "localtimestamp()"
            sb.append(query1.substring(last, m.start)).append(fn)
            last = m.end
          }
          sb.append(query1.substring(last)).toString
        }
      }
      sqlDispatch(spark, query2)
  }

  /** Statement-scoped BATCH binding of connector tables: a bounded read
    * of every referenced `'connector'=...` table is bound as a temp view
    * shadowing its schema-only catalog view, so `SELECT ... FROM
    * datagen_or_jdbc_table` reads the connector (Flink's batch-mode
    * bounded source semantics) instead of silently scanning the empty
    * parquet base. Write targets are excluded (INSERT must keep
    * resolving the catalog object). Returns the shadowed names for the
    * caller to drop. */
  private def bindConnectorReads(
      spark: SparkSession, query: String): Seq[String] = {
    val head = query.trim.takeWhile(c => c.isLetter).toUpperCase
    if (!Set("SELECT", "WITH", "INSERT", "EXPLAIN", "TABLE").contains(head))
      return Nil
    val writeTargets = InsertTargetRe.findAllMatchIn(query)
      .map(_.group(1).toLowerCase.split('.').last).toSet
    lazy val visible: Set[String] =
      spark.catalog.listTables().collect().map(_.name.toLowerCase).toSet
    val leaves = (try {
      spark.sessionState.sqlParser.parsePlan(query).collectWithSubqueries {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".").toLowerCase
      }
    } catch {
      case _: Exception => // extended dialect: identifier scan fallback
        """\b[A-Za-z_][A-Za-z0-9_]*\b""".r.findAllIn(query)
          .map(_.toLowerCase).toSeq.filter(visible)
    }).distinct.filterNot(n => writeTargets.contains(n.split('.').last))
    leaves.flatMap { n =>
      scala.util.Try {
        val props = WatermarkDdl.tableOptions(spark, n)
        if (props.contains("connector") &&
            spark.sessionState.catalog.getTempView(n).isEmpty) {
          WatermarkDdl.read(spark, n).createOrReplaceTempView(n)
          Some(n)
        } else None
      }.toOption.flatten
    }
  }

  private def sqlDispatch(spark: SparkSession, query0: String): DataFrame = {
      // Planner hints first (FlinkHints/JoinStrategy/LookupJoinHintOptions
      // analog, SqlHints): join-strategy hints translate onto Spark's
      // native hint names, OPTIONS table hints lift a re-read with merged
      // connector options, a LOOKUP hint reroutes the temporal join onto
      // the per-row lookup path. Statements without hint blocks pass
      // through untouched.
      val hinted = SqlHints(spark, query0)
      val query1 = hinted.query
      try {
      hinted.lookup match {
        case Some(opts) =>
          require(TemporalSql.matches(query1),
            "the LOOKUP hint applies to lookup joins — the statement must " +
              "contain a JOIN ... FOR SYSTEM_TIME AS OF ... clause")
          return TemporalSql.sqlLookup(spark, query1, opts)
        case None => ()
      }
      require(!hinted.joinHints || !extendedMatches(query1),
        "join strategy hints are supported on Spark-parsable statements; " +
          "this statement uses an extended dialect (window TVF / temporal " +
          "join / MATCH_RECOGNIZE) whose lowering does not consume hints")
      // batch reads of connector tables resolve to the connector, not the
      // schema-only base (statement-scoped shadow views)
      val bound = bindConnectorReads(spark, query1)
      try {
      // FINAL_STATE(t) relations materialize the changelog's live state
      // (statement-scoped views; after connector binding so a connector
      // changelog decodes first)
      val (query, finals) = ChangelogSql.bindFinalState(spark, query1)
      try {
      // Compositional normalize pass (ParserImpl role, SqlComposer): DDL
      // with extended-dialect bodies runs the body through this same
      // entry first; extended subqueries are lifted to temp views so the
      // shape-precise lowerings below see the bare-relation forms they
      // parse. Plain statements pass through untouched.
      SqlComposer.composedDdl(spark, query).getOrElse {
        // WITH-led extended statements bind their CTEs first (each
        // body through this same entry), then the main statement
        // recurses back in here CTE-free — before lift(), so a lifted
        // subquery never tries to resolve a CTE name that is not yet a
        // view
        SqlComposer.composedWith(spark, query).getOrElse {
          val (q, lifted) = SqlComposer.lift(spark, query)
          try {
          if (WindowTvfSql.matches(q)) WindowTvfSql.sql(spark, q)
          else if (TemporalSql.matches(q)) TemporalSql.sql(spark, q)
          else if (graft.cep.MatchRecognize.matchesSql(q)) {
            // the MR bridge parses SELECT statements; any other
            // statement shape carrying MATCH_RECOGNIZE text (an
            // unrecognized DDL form) must reject LOUDLY — the bridge's
            // head-regex would otherwise match the embedded SELECT and
            // silently discard the clause around it
            require(q.trim.regionMatches(true, 0, "SELECT", 0, 6),
              "MATCH_RECOGNIZE is supported in SELECT statements, in " +
                "subqueries and WITH-led CTE statements (lifted by the " +
                "composer), and in the composed DDL bodies CREATE [OR " +
                "REPLACE] [GLOBAL] TEMPORARY VIEW / CREATE TABLE AS / " +
                s"INSERT INTO ... SELECT; got statement: ${q.trim.take(120)}")
            graft.cep.MatchRecognize.sql(spark, q)
          }
          // changelog-mode inference (FlinkChangelogModeInferenceProgram
          // role): a plain aggregate over a row_kind-carrying relation
          // lowers to retraction-consuming aggregates; anything else
          // keeps the untouched fall-through
          else ChangelogSql.sql(spark, q).getOrElse(WatermarkDdl.sql(spark, q))
          // the lifted __graft_sub_N views are an implementation detail:
          // drop them now that the statement's DataFrame is constructed
          // (analysis has already inlined the view plans)
          } finally lifted.foreach(v => spark.catalog.dropTempView(v): Unit)
        }
      }
      } finally finals.foreach(v => spark.catalog.dropTempView(v): Unit)
      } finally bound.foreach(v => spark.catalog.dropTempView(v): Unit)
      // the __graft_opts_N views (OPTIONS-hint re-reads) are statement-
      // scoped, like the composer's lifted subqueries
      } finally hinted.lifted.foreach(v => spark.catalog.dropTempView(v): Unit)
  }

  private[graft] val StreamInsertRe =
    """(?is)\s*INSERT\s+INTO\s+`?(\w+)`?\s+((?:SELECT|WITH)\b.*)""".r

  /** Continuous INSERT — the Flink streaming-SQL job shape
    * (`INSERT INTO sink SELECT ... FROM watermarked_source`, SURVEY.md
    * §3.1: executeSql on an unbounded source returns a running job).
    * Every referenced catalog table that declares a WATERMARK is bound
    * as a STREAMING read (computed columns + watermark reconstructed
    * from TBLPROPERTIES, exactly `WatermarkDdl.readStream`); the SELECT
    * then runs as a continuous micro-batch query appending to the sink
    * table, and the returned StreamingQuery is the job handle. Append
    * mode means windowed aggregates emit exactly-once finalized results
    * on watermark passage — Flink's event-time INSERT semantics. Batch
    * INSERT (no watermarked source referenced) is rejected loudly:
    * that's `sql()`'s job. */
  def sqlStreamInsert(
      spark: SparkSession, statement: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    statement match {
      case StreamInsertRe(sink, select) =>
        val leaves = (try {
          spark.sessionState.sqlParser.parsePlan(select)
            .collectWithSubqueries {
              case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
                r.multipartIdentifier.mkString(".")
            }
        } catch {
          case _: Exception =>
            // extended dialect (window TVF text, MATCH_RECOGNIZE) doesn't
            // parse with Spark's parser: conservative identifier scan
            // against the catalog's visible tables (the sharedLeafSources
            // fallback) — over-matching only binds extra streaming views
            val visible = spark.catalog.listTables().collect()
              .map(_.name.toLowerCase).toSet
            """\b[A-Za-z_][A-Za-z0-9_]*\b""".r.findAllIn(select)
              .map(_.toLowerCase).toSeq.distinct.filter(visible)
        }).distinct
        // CHANGELOG-MODE streaming route (the reference's actual
        // changelog-inference behavior — retract-aware aggregation while
        // the stream runs, FlinkChangelogModeInferenceProgram +
        // GroupAggFunction.java:43): an aggregate statement over ONE
        // row_kind-carrying relation lowers onto the retraction-consuming
        // streaming aggregate and writes the sink as an upsert changelog.
        // A changelog is unbounded by nature, so no WATERMARK/PROCTIME
        // declaration is required to bind it as a stream.
        // FINAL_STATE is a BATCH materialization (one full pass over the
        // changelog); a continuous query reads the changelog itself —
        // reject before the watermark check produces a misleading error
        require("""(?i)\bFINAL_STATE\s*\(""".r
            .findFirstIn(SqlComposer.blank(select)).isEmpty,
          "FINAL_STATE(t) materializes a changelog's final state — a " +
            "BATCH read; a continuous INSERT reads the changelog " +
            "directly (the retraction-consuming operators maintain the " +
            "live state incrementally)")
        // the continuous changelog routes (ChangelogSql.route):
        // inadmissible variants of a shape a route owns reject there
        // with that route's specific error, never the watermark
        // complaint below
        val route = ChangelogSql.route(spark, select)
        if (route.isDefined)
          return ChangelogSql.start(spark, sink, route.get, checkpointDir)
        // a declared PROCTIME() attribute also marks a streaming source:
        // proc-time pipelines (arrival-order OVER etc.) legitimately have
        // no watermark at all
        val streamed = leaves.filter(t =>
          WatermarkDdl.watermarkCol(spark, t).isDefined ||
            WatermarkDdl.proctimeCol(spark, t).isDefined)
        require(streamed.nonEmpty,
          "streaming INSERT needs at least one WATERMARK- or " +
            "PROCTIME()-declared source " +
            s"(referenced: ${leaves.mkString(", ")}); use sql() for batch INSERT")
        // Bind each streamed source by SHADOWING its name with a temp
        // view over the streaming read — no text rewrite (a regex
        // substitution also hits string literals and same-named
        // aliases, and a multipart name's dot is a metacharacter).
        // Resolution happens inside spark.sql; the shadows are dropped
        // right after (the analyzed plan keeps the binding).
        val streams = streamed.map(t => t -> WatermarkDdl.readStream(spark, t))
        val priorTempViews = streamed
          .filter(t => spark.sessionState.catalog.getTempView(t).isDefined)
          .map(t => t -> spark.table(t)).toMap
        val df =
          try {
            streams.foreach { case (t, sdf) => sdf.createOrReplaceTempView(t) }
            // CURRENT_WATERMARK(rowtime) — Flink's watermark-reading
            // scalar (BuiltInFunctionDefinitions.java CURRENT_WATERMARK):
            // no Spark expression can see the watermark, so the call
            // lowers onto StatefulOps.annotateCurrentWatermark (a
            // stateless pass appending the batch watermark as a column)
            // and the text rewrites to that column. Scoped to plain
            // SELECT/WHERE statements over ONE watermarked source — the
            // annotation pass consumes the event-time marker, so window
            // TVFs / MATCH_RECOGNIZE / OVER cannot sit downstream;
            // composed forms reject loudly.
            val CwRe = """(?i)\bCURRENT_WATERMARK\s*\(\s*`?(\w+)`?\s*\)""".r
            val selectB = SqlComposer.blank(select)
            val select1 =
              if (CwRe.findFirstIn(selectB).isEmpty) select
              else {
                require(streamed.size == 1,
                  "CURRENT_WATERMARK needs exactly ONE watermarked source " +
                    s"in the statement (got: ${streamed.mkString(", ")})")
                require(!WindowTvfSql.matches(select) &&
                    !graft.cep.MatchRecognize.matchesSql(select) &&
                    """(?is)\bOVER\s*\(""".r.findFirstIn(selectB).isEmpty,
                  "CURRENT_WATERMARK composes with plain streaming " +
                    "SELECT/WHERE statements only — the annotation pass " +
                    "consumes the event-time attribute, so window TVFs, " +
                    "MATCH_RECOGNIZE and OVER cannot run downstream of it")
                val wmc = WatermarkDdl.watermarkCol(spark, streamed.head)
                CwRe.findAllMatchIn(selectB).foreach(m0 => require(
                  wmc.exists(_.equalsIgnoreCase(m0.group(1))),
                  s"CURRENT_WATERMARK(${m0.group(1)}): argument must be " +
                    s"the declared WATERMARK column ${wmc.getOrElse("<none>")} " +
                    s"of ${streamed.head}"))
                graft.streaming.StatefulOps
                  .annotateCurrentWatermark(spark.table(streamed.head))
                  .createOrReplaceTempView(streamed.head)
                // splice on blanked-text positions so a quoted
                // 'CURRENT_WATERMARK(' literal is never rewritten
                val sb = new StringBuilder
                var last = 0
                CwRe.findAllMatchIn(selectB).foreach { m0 =>
                  sb.append(select.substring(last, m0.start)).append("__graft_wm")
                  last = m0.end
                }
                sb.append(select.substring(last)).toString
              }
            // any CURRENT_WATERMARK CALL the rewrite did NOT consume
            // (qualified column, nested expression, zero args) must stop
            // HERE: downstream lowerings re-enter Engine.sql, whose
            // batch rewrite would silently turn the call into NULL and
            // filter every row. Only the call form (name followed by an
            // open paren) trips this — the bare word as an identifier or
            // inside a comment is not a call. Line comments are stripped
            // from the blanked text first so commented-out calls pass.
            require("""(?i)\bCURRENT_WATERMARK\s*\(""".r
                .findFirstIn(SqlComposer.blank(select1)
                  .replaceAll("(?m)--.*$", "")).isEmpty,
              "CURRENT_WATERMARK in a streaming statement must be the " +
                "bare unqualified WATERMARK column of the single " +
                "streamed source, e.g. CURRENT_WATERMARK(ts) — " +
                s"unsupported form in: $select")
            // event-time OVER would be rejected by Spark's streaming
            // planner ("non-time-based windows"): lower it onto the
            // stateful OVER operators (StreamExecOverAggregate role).
            // Composed form — OVER above a streaming join/subquery
            // (`SELECT ... OVER ... FROM (SELECT ... JOIN ...) t`) —
            // lowers the subquery as the input. A streaming OVER
            // that fits NEITHER shape is rejected LOUDLY here instead of
            // falling into spark.sql's unsupported-operation error at
            // stream start; an OVER that spark.sql can genuinely plan
            // (e.g. on the batch side of a stream-batch join) still falls
            // through — the reject triggers only when the analyzed plan
            // has a window operator over streaming input.
            // Window-TVF text (TUMBLE/HOP/SESSION over TABLE src, or the
            // legacy grouped-window forms) lowers through WindowTvfSql,
            // which rewrites the grouped streaming shape onto native
            // window()/session_window() aggregation — the reference's
            // `INSERT INTO sink SELECT ... FROM TABLE(TUMBLE(...))
            // GROUP BY window_start` streaming job shape.
            // planner hints in the streaming statement (SqlHints): join
            // hints translate in place, OPTIONS lifts batch connector
            // re-reads, and a LOOKUP hint reroutes the temporal join onto
            // the per-row probe path over the STREAMING fact — the
            // reference's lookup join IS a streaming operator
            // (LookupJoinRunner / AsyncLookupJoinRunner per arriving row)
            val hinted = SqlHints(spark, select1)
            val select2 = hinted.query
            try {
            hinted.lookup.map { opts =>
              require(TemporalSql.matches(select2),
                "the LOOKUP hint applies to lookup joins — the statement " +
                  "must contain a JOIN ... FOR SYSTEM_TIME AS OF ... clause")
              TemporalSql.sqlLookup(spark, select2, opts)
            }.getOrElse {
            if (WindowTvfSql.matches(select2)) WindowTvfSql.sql(spark, select2)
            else if (graft.cep.MatchRecognize.matchesSql(select2))
              // the MR SQL bridge's MEASURES/ALL-ROWS relations are
              // batch lowerings (join-back against the bound events);
              // continuous pattern output has a dedicated streaming NFA
              // entry — reject the unsupported composition loudly
              // instead of dying in spark.sql's parser
              throw new IllegalArgumentException(
                "MATCH_RECOGNIZE in a streaming INSERT is not supported: " +
                  "the SQL bridge's MEASURES/ALL ROWS relations are batch " +
                  "lowerings. Use MatchRecognize.runStream (the " +
                  "StreamExecMatch NFA) for continuous pattern output, or " +
                  "run the statement in batch via sql()")
            else StreamOverSql.lower(spark, select2).getOrElse {
              val df = spark.sql(select2)
              val streamingWindow = df.queryExecution.analyzed.collect {
                case w: org.apache.spark.sql.catalyst.plans.logical.Window
                    if w.isStreaming => w
              }.nonEmpty
              if (streamingWindow)
                throw new IllegalArgumentException(
                  "unsupported streaming OVER: supported forms are " +
                    "SELECT <items> FROM <watermarked table> [WHERE ...] and " +
                    "SELECT <items> FROM (<streaming subquery>) [AS] a " +
                    "[WHERE ...] with every OVER item sharing one ORDER BY " +
                    "<rowtime> (PARTITION BY may differ per item — chained " +
                    "passes; wrap joins in the subquery form). ROW_NUMBER " +
                    "over a window TVF — the reference's WindowRank / " +
                    "WindowDeduplicate — is its own form: SELECT <items> " +
                    "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY " +
                    "window_start, window_end [, keys] ORDER BY <col>) AS " +
                    "rn FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), size))) " +
                    s"WHERE rn <= N (rn = 1 deduplicates). got: $select")
              df
            }
            }
            } finally hinted.lifted.foreach(v =>
              spark.catalog.dropTempView(v): Unit)
          } finally streamed.foreach { t =>
            priorTempViews.get(t) match {
              case Some(orig) => orig.createOrReplaceTempView(t)
              case None       => spark.catalog.dropTempView(t)
            }
          }
        assert(df.isStreaming, "rewritten SELECT lost streaming-ness")
        // a CONNECTOR sink receives each micro-batch through the
        // connector's writer (a base write would be invisible to reads):
        // jdbc appends — or UPSERTS when the sink declares a PRIMARY KEY,
        // Flink's streaming JdbcDynamicTableSink keyed mode; filesystem
        // appends files per commit. Read-only sources reject loudly.
        val sinkProps = scala.util.Try(WatermarkDdl.tableOptions(spark, sink))
          .getOrElse(Map.empty[String, String])
        sinkProps.get("connector") match {
          case Some(conn) =>
            val declared = spark.table(s"__${sink}_base").schema
            require(df.columns.length == declared.fields.length,
              s"INSERT INTO $sink: ${declared.fields.length} columns " +
                s"declared, query produces ${df.columns.length}")
            val props = sinkProps.filterNot(p =>
              WatermarkDdl.isInternalPropName(p._1))
            val keys = sinkProps.get("graft.primary.key").toSeq
              .flatMap(_.split(",").toSeq.map(_.trim)).filter(_.nonEmpty)
            val writeBatch: DataFrame => Unit = conn match {
              case "jdbc" =>
                if (keys.nonEmpty)
                  b => graft.sources.JdbcConnector.upsertWrite(b, props, keys)
                else b => graft.sources.JdbcConnector.write(b, props)
              case "filesystem" =>
                val (path, fmt) =
                  graft.sources.FileSystemConnector.pathFormat(props)
                b => b.write.format(fmt)
                  .mode(org.apache.spark.sql.SaveMode.Append).save(path)
              case other => throw new IllegalArgumentException(
                s"INSERT INTO $sink: connector '$other' has no streaming " +
                  "sink here (kafka needs the client jar + a broker; " +
                  "datagen is read-only)")
            }
            ChangelogSql.startStream(spark, df, "append", checkpointDir)(
              _.foreachBatch { (batch: DataFrame, _: Long) =>
                writeBatch(batch.toDF(declared.fieldNames.toIndexedSeq: _*)
                  .select(declared.fields.toSeq.map(f =>
                    org.apache.spark.sql.functions.col(f.name)
                      .cast(f.dataType)): _*))
              }.start())
          case None =>
            // an extended sink's computed columns are virtual: write the
            // base. A sink nobody declared rejects, as Flink's INSERT INTO
            // an unknown table does
            val target =
              if (spark.catalog.tableExists(s"__${sink}_base")) s"__${sink}_base"
              else if (spark.catalog.tableExists(sink)) sink
              else throw new IllegalArgumentException(
                s"INSERT INTO $sink: no such table — declare the sink " +
                  "(CREATE TABLE) before starting the continuous INSERT")
            ChangelogSql.startStream(spark, df, "append", checkpointDir)(
              _.toTable(target))
        }
      case other => throw new IllegalArgumentException(
        s"sqlStreamInsert expects INSERT INTO <table> SELECT ..., got: $other")
    }

  /** STREAMING statement set — `EXECUTE STATEMENT SET BEGIN <INSERT>;
    * ... END` where every member is a continuous INSERT
    * (StreamStatementSet.execute: Flink runs the members as one deployed
    * job). Each member starts through [[sqlStreamInsert]] with its own
    * checkpoint subdirectory; the returned handles are the job. Honesty
    * note: Flink's streaming set additionally MERGES common source
    * operators into one DAG — Spark's independent streaming queries
    * cannot share operators, so each member scans its sources itself
    * (the batch statement set's persist()-based reuse has no streaming
    * analog); the semantic surface — N continuous INSERTs from one
    * statement — is what this provides. A member that fails to START
    * stops the already-started members before rethrowing: Flink deploys
    * all-or-nothing. */
  def sqlStreamStatementSet(spark: SparkSession, statement: String,
      checkpointDir: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    statement match {
      case StmtSetRe(body) =>
        val stmts = graft.util.SqlSplit.splitStatements(body)
        require(stmts.nonEmpty, "EXECUTE STATEMENT SET: empty body")
        stmts.foreach(s => require(
          """(?is)^\s*INSERT\s+INTO\b""".r.findFirstIn(s).isDefined,
          "a STREAMING statement set takes INSERT INTO members only; " +
            s"got: ${s.trim.take(80)}"))
        val started = Seq.newBuilder[org.apache.spark.sql.streaming.StreamingQuery]
        try {
          stmts.zipWithIndex.foreach { case (s, i) =>
            started += sqlStreamInsert(spark, s, s"$checkpointDir/member_$i")
          }
          started.result()
        } catch {
          case t: Throwable =>
            started.result().foreach(q =>
              try q.stop() catch { case _: Exception => () })
            throw t
        }
      case other => throw new IllegalArgumentException(
        "sqlStreamStatementSet expects EXECUTE STATEMENT SET BEGIN " +
          s"<INSERT INTO ...;>+ END, got: ${other.trim.take(80)}")
    }
}
