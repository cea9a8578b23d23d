package graft.operators

import graft.{Engine, GQuery, QueryModule, Tables}
import graft.operators.ChangelogHistory._
import graft.util.FileTree
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink-side utilities: constraint enforcement and side-output splitting.
  *
  * Reference: flink-table-runtime .../sink/ConstraintEnforcer.java (361 LoC
  * — NOT NULL and CHAR-length enforcement with ERROR/TRIM/DROP policies)
  * and SideOutputDataStream.java (ProcessFunction output tags).
  */
object SinkOps extends QueryModule {

  // per-JVM scratch dirs for the file-roundtrip queries: Bench/Verify
  // invoke each query several times per process, and a FRESH temp dir
  // per invocation leaked a full written dataset copy each pass. A
  // shutdown hook reclaims the disk at process exit. NOTE: sharing one
  // dir per tag means two CONCURRENT invocations of the same roundtrip
  // query in one JVM would race (one task's overwrite deletes files the
  // other is planning over) — these queries are sequential-only by
  // contract (Bench/Verify run queries one at a time).
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.values().forEach(d =>
        FileTree.deleteRecursively(java.nio.file.Paths.get(d))),
      "graft-sink-scratch-cleanup"))
  }
  private def scratchDir(tag: String): String =
    scratchDirs.computeIfAbsent(tag,
      t => java.nio.file.Files.createTempDirectory(t).toString)

  /** Debezium envelopes of an orders history's `Images` rounds: op
    * c/u/d, `ts_ms` the commit round. */
  private def debezium(changes: Seq[DataFrame]): DataFrame =
    changes.zip(Seq("c", "u", "d")).zipWithIndex.map { case ((c, op), i) =>
      c.select(to_json(struct(lit(op).as("op"), lit(i + 1L).as("ts_ms"),
        col("before"), col("after"))).as("value"))
    }.reduce(_ unionByName _)

  sealed trait Policy
  case object ErrorPolicy extends Policy
  case object DropPolicy extends Policy
  case object TrimPolicy extends Policy

  /** Apply NOT NULL + max-char-length constraints ahead of a sink write.
    * ERROR raises on violation (like Flink's default), DROP filters the
    * row, TRIM truncates over-long strings. Pure projection/filter — stays
    * in codegen, no shuffle. */
  def enforceConstraints(
      df: DataFrame,
      notNull: Seq[String],
      charLength: Map[String, Int],
      policy: Policy): DataFrame = {
    val afterNull = policy match {
      case ErrorPolicy =>
        notNull.foldLeft(df) { (d, c) =>
          d.withColumn(c, when(col(c).isNull,
            raise_error(lit(s"NOT NULL constraint violated: $c"))).otherwise(col(c)))
        }
      case DropPolicy =>
        notNull.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
      case TrimPolicy => df // trim policy only affects lengths
    }
    charLength.foldLeft(afterNull) { case (d, (c, n)) =>
      policy match {
        case TrimPolicy => d.withColumn(c, substring(col(c), 1, n))
        // length(NULL) <= n is NULL and a bare filter would DROP the
        // row; length enforcement applies to non-null values only
        // (Flink's ConstraintEnforcer), and nullability is the
        // notNull list's concern
        case DropPolicy => d.filter(col(c).isNull || length(col(c)) <= n)
        case ErrorPolicy => d.withColumn(c,
          when(length(col(c)) > n,
            raise_error(lit(s"CHAR length constraint violated: $c > $n"))).otherwise(col(c)))
      }
    }
  }

  /** Side outputs (DataStream `OutputTag`), as per-tag row counts in a
    * SINGLE pass over the source: one conditional aggregate per tag,
    * unpivoted to (tag, n) rows by exploding an array of (tag, count)
    * structs. One FileScan regardless of tag count. Built entirely from
    * typed APIs: tag names only ever appear as literal VALUES (never
    * spliced into SQL text or column identifiers), so quotes/spaces/
    * backticks in a tag are inert data. */
  def sideOutputCounts(df: DataFrame, tags: Map[String, Column]): DataFrame = {
    val ordered = tags.toSeq.sortBy(_._1)
    val agg = df.agg(
      count(lit(1)).as("_total"), // anchor so agg() has >=1 expr even for empty tags
      ordered.zipWithIndex.map { case ((_, pred), i) =>
        coalesce(sum(when(pred, 1L)), lit(0L)).as(s"_c_$i")
      }: _*)
    val pairs = array(ordered.zipWithIndex.map { case ((tag, _), i) =>
      struct(lit(tag).as("tag"), col(s"_c_$i").as("n"))
    }: _*)
    agg.select(explode(pairs).as("p"))
      .select(col("p.tag").as("tag"), col("p.n").as("n"))
  }

  def queries: Seq[GQuery] = Seq(
    GQuery(
      // Record-level Avro roundtrip (flink-avro's serialization-schema
      // role): rows -> Avro message bytes -> rows, then aggregate; the
      // oracle aggregates the source directly, so any codec corruption
      // breaks the hash match.
      "q75_avro_roundtrip",
      (s, d) => {
        import s.implicits._
        import graft.sources.AvroFormat
        import org.apache.spark.sql.types._
        val base = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            graft.Bits.dec($"o_totalprice").cast("double").as("price"))
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderpriority", StringType),
          StructField("price", DoubleType)))
        AvroFormat.decode(AvroFormat.encode(base), schema)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"price".cast(graft.Bits.Dec)).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |                     ::DECIMAL(12,2)) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Avro FILE roundtrip through the DSv2 container-file connector
      // (AvroFileSource): orders -> OCF files on disk (deflate blocks,
      // two-phase commit) -> splittable read-back -> aggregate. The
      // oracle aggregates the source directly, so a header, codec,
      // sync-split, or type-mapping bug breaks the hash match. The read
      // forces small byte-range splits so the sync-marker protocol is
      // ON the verified path, not just the spec's.
      "q104_avro_file_scan",
      (s, d) => {
        import s.implicits._
        val base = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            graft.Bits.dec($"o_totalprice").cast("double").as("price"))
        val dir = scratchDir("graft-avro-q104") + "/orders"
        base.write.format("graft-avro").option("codec", "deflate")
          .mode("overwrite").save(dir)
        s.read.format("graft-avro")
          .option("maxPartitionBytes", (64 * 1024).toString).load(dir)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"price".cast(graft.Bits.Dec)).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |                     ::DECIMAL(12,2)) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Protobuf FILE roundtrip through the length-delimited DSv2
      // connector (ProtoFileSource): orders -> varint-framed proto3
      // messages on disk -> per-file parallel read-back -> aggregate.
      // Same oracle shape as q104; a framing, wire-codec, or default-
      // restoration bug breaks the hash match.
      "q105_proto_file_scan",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.types._
        val base = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            graft.Bits.dec($"o_totalprice").cast("double").as("price"))
        val dir = scratchDir("graft-proto-q105") + "/orders"
        base.write.format("graft-proto").mode("overwrite").save(dir)
        s.read.format("graft-proto")
          .schema(new StructType().add("o_orderkey", LongType)
            .add("o_orderpriority", StringType).add("price", DoubleType))
          .load(dir)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"price".cast(graft.Bits.Dec)).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |                     ::DECIMAL(12,2)) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Protobuf roundtrip (flink-protobuf's serialization-schema role):
      // rows -> proto3 wire bytes -> rows -> aggregate, same oracle shape
      // as the Avro roundtrip — a codec bug breaks the hash match.
      "q91_protobuf_roundtrip",
      (s, d) => {
        import s.implicits._
        import graft.sources.ProtobufFormat
        import org.apache.spark.sql.types._
        val base = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            graft.Bits.dec($"o_totalprice").cast("double").as("price"))
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderpriority", StringType),
          StructField("price", DoubleType)))
        ProtobufFormat.decode(ProtobufFormat.encode(base), schema)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"price".cast(graft.Bits.Dec)).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |                     ::DECIMAL(12,2)) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // CDC END-TO-END under the oracle gate: a synthetic debezium
      // changelog is BUILT from orders (insert every row at ts 1, +100
      // price update for keys %10=0 at ts 2, delete for keys %17=0 at
      // ts 3), serialized to real JSON envelopes, decoded by
      // Cdc.decodeDebezium, and collapsed by upsertMaterialize. The
      // oracle states the surviving final rows directly over orders —
      // any envelope-shape, decoder, or materializer bug (or a double
      // corrupted by the JSON round-trip) breaks the hash match.
      "q103_cdc_materialize",
      (s, d) => {
        import s.implicits._
        import graft.streaming.Cdc
        // NOTE (r16 optimization round), for q103 and q110-q112 alike:
        // REBALANCE on the orders history ahead of the envelope decode
        // (the q152 pattern) was measured AGAIN and REJECTED — AQE
        // coalesces the ~3 MB exchange to ~1 partition, so no decode
        // parallelism is gained and the added exchange + query-stage
        // jobs cost ~0.15-0.4 s per gate (q103 1.47 -> 1.84 s warm).
        // Confirms r15's call; at 100 TB the scan has >= cores splits
        // and the serial-decode question does not arise.
        val changes = orders(s, d, Seq("o_orderkey"), DoublePrice,
          Images(staleDeletes = true))
        val log = Cdc.decodeDebezium(debezium(changes), imageType(changes.head))
        Cdc.upsertMaterialize(log, Seq("o_orderkey"), "cdc_ts", "cdc_ts")
          .select($"o_orderkey", $"price")
          .orderBy($"o_orderkey")
      },
      Some("""
        |SELECT o_orderkey,
        |       CAST(CASE WHEN o_orderkey % 10 = 0
        |                 THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                 ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
        |            AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 17 <> 0
        |ORDER BY o_orderkey
        |""".stripMargin)),

    GQuery(
      // CHANGELOG-MODE SQL ENTRY under the oracle gate (the reference's
      // changelog-inference path as a SQL-level analog,
      // FlinkChangelogModeInferenceProgram via FlinkStreamProgram.scala:298):
      // a debezium envelope stream (q103's synthetic changelog: insert
      // all orders at ts 1, +100 price update for keys %10=0 at ts 2,
      // delete for keys %17=0 at ts 3 — the delete's before-image
      // carries the CURRENT row, bumped where updated, as a well-formed
      // changelog must) decodes to a row_kind view, and a PLAIN GROUP-BY
      // aggregate statement over that view runs through the front door —
      // ChangelogSql swaps in the retraction-consuming forms, so the
      // result equals the same aggregate over the FINAL state. The
      // oracle states exactly that: aggregate the surviving rows. Any
      // sign-algebra, netting or live-filter bug (e.g. counting -U rows
      // as data) breaks every column.
      "q146_changelog_sql_agg",
      (s, d) => {
        import graft.streaming.Cdc
        val changes = orders(s, d, Seq("o_orderkey", "o_orderpriority"),
          DoublePrice, Images(staleDeletes = false))
        val log = Cdc.decodeDebezium(debezium(changes), imageType(changes.head))
        log.createOrReplaceTempView("orders_changelog")
        try Engine.sql(s, """
          SELECT o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS total,
                 CAST(MIN(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
                 CAST(MAX(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS max_price
          FROM orders_changelog
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority
        """)
        finally s.catalog.dropTempView("orders_changelog"): Unit
      },
      Some("""
        |WITH fs AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS total,
        |       CAST(MIN(price) AS DOUBLE) AS min_price,
        |       CAST(MAX(price) AS DOUBLE) AS max_price
        |FROM fs GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    GQuery(
      // CHANGELOG-MODE INFERENCE THROUGH A JOIN (r12): Flink propagates
      // changelog mode through the whole tree
      // (FlinkChangelogModeInferenceProgram; joins consume retractions,
      // StreamingJoinOperator.java:36) — against a STATIC side the
      // propagation is pure sign algebra, because a retraction joins to
      // exactly the rows its insert joined to. q146's synthetic debezium
      // changelog (keyed by o_custkey this time) JOINs the customer dim
      // and aggregates per market segment; ChangelogSql rewrites the
      // aggregates with the ±1/netted weights THROUGH the join text. The
      // oracle aggregates the final state joined to the same dim — any
      // leak of a retraction row through the join breaks every column.
      "q148_changelog_join_agg",
      (s, d) => {
        import graft.streaming.Cdc
        val changes = orders(s, d, Seq("o_orderkey", "o_custkey"),
          DoublePrice, Images(staleDeletes = false))
        val log = Cdc.decodeDebezium(debezium(changes), imageType(changes.head))
        log.createOrReplaceTempView("orders_changelog_j")
        Tables.customer(s, d).createOrReplaceTempView("customer_dim_j")
        try Engine.sql(s, """
          SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
                 CAST(SUM(CAST(o.price AS DECIMAL(12,2))) AS DOUBLE) AS total,
                 CAST(MIN(CAST(o.price AS DECIMAL(12,2))) AS DOUBLE) AS min_price
          FROM orders_changelog_j o
          JOIN customer_dim_j c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment
          ORDER BY segment
        """)
        finally {
          s.catalog.dropTempView("orders_changelog_j")
          s.catalog.dropTempView("customer_dim_j"): Unit
        }
      },
      Some("""
        |WITH fs AS (
        |  SELECT o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(fs.price) AS DOUBLE) AS total,
        |       CAST(MIN(fs.price) AS DOUBLE) AS min_price
        |FROM fs JOIN customer c ON fs.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    GQuery(
      // JOIN STRATEGY HINTS at the front door (r12): the reference's
      // hint names (JoinStrategy.java — BROADCAST, SHUFFLE_HASH,
      // SHUFFLE_MERGE, NEST_LOOP) translate onto Spark's native hints
      // with loud argument validation (SqlHints). BROADCAST(n) pins the
      // nation dim broadcast; SHUFFLE_MERGE(o) forces the
      // orders join onto sort-merge where broadcast would win
      // by default — the PLAN assertion lives in PlanSpec; the oracle
      // (the identical statement — a hint is a comment to DuckDB) pins
      // that strategy hints never change RESULTS.
      "q149_join_strategy_hints",
      (s, d) => {
        Engine.openCatalog(s, d)
        Engine.sql(s, """
          SELECT /*+ BROADCAST(n), SHUFFLE_MERGE(o) */
                 n.n_name AS n_name, COUNT(*) AS cnt
          FROM customer c
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY n.n_name
          ORDER BY n_name
        """)
      },
      Some("""
        |SELECT /*+ BROADCAST(n), SHUFFLE_MERGE(o) */
        |       n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY n.n_name
        |ORDER BY n_name
        |""".stripMargin)),

    GQuery(
      // DYNAMIC TABLE OPTIONS (r12): FROM t /*+ OPTIONS('k'='v') */
      // merges per-statement options over the DDL's WITH clause,
      // hint-wins (FlinkHints.mergeTableOptions), gated by
      // table.dynamic-table-options.enabled. A bounded datagen table
      // declared with 7 rows reads 19 under the hint and 7 without it —
      // the merge is observable in the row counts; the oracle pins both.
      "q150_dynamic_table_options",
      (s, d) => {
        val t = "dg_q150"
        Engine.sql(s, s"DROP VIEW IF EXISTS $t")
        Engine.sql(s, s"DROP TABLE IF EXISTS __${t}_base")
        Engine.sql(s, s"""
          CREATE TABLE $t (id BIGINT)
          WITH ('connector' = 'datagen', 'number-of-rows' = '7',
                'fields.id.kind' = 'sequence', 'fields.id.start' = '0')""")
        try {
          val hinted = Engine.sql(s,
            s"SELECT 'hinted' AS mode, COUNT(*) AS n " +
              s"FROM $t /*+ OPTIONS('number-of-rows'='19') */")
          val static = Engine.sql(s,
            s"SELECT 'static' AS mode, COUNT(*) AS n FROM $t")
          hinted.unionByName(static).orderBy("mode")
        } finally {
          Engine.sql(s, s"DROP VIEW IF EXISTS $t")
          Engine.sql(s, s"DROP TABLE IF EXISTS __${t}_base"): Unit
        }
      },
      Some("""
        |SELECT 'hinted' AS mode, CAST(19 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'static' AS mode, CAST(7 AS BIGINT) AS n
        |ORDER BY mode
        |""".stripMargin)),

    GQuery(
      // UPSERT-MODE CHANGELOG NORMALIZATION (r12): a relation declared
      // upsert (graft.upsert.keys — the encoding the continuous
      // ChangelogSql routes write and Flink's upsert-kafka carries:
      // +U/-D keyed, NO -U) must normalize to its CURRENT state before
      // any read
      // (StreamExecChangelogNormalize): two +U rows for one key are ONE
      // logical row, so the retract netting — and plain SQL even more so —
      // would double-count. History: every order +U at seq 1, keys %10=0
      // re-upserted with price+100 at seq 2, keys %17=0 deleted at seq 3.
      // The oracle aggregates the final state; a normalization bug
      // (stale row wins, deleted key survives, history row leaks)
      // breaks every column.
      "q151_upsert_normalize",
      (s, d) => {
        val t = "ups_q151"
        ContinuousGates.replaceTable(s, t, orders(s, d,
          Seq("o_orderkey", "o_orderpriority"), DoublePrice, UpsertRows)
          .reduce(_ unionByName _), Map("graft.upsert.keys" -> "o_orderkey"))
        Engine.sql(s, s"""
          SELECT o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS total,
                 CAST(MIN(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS lo
          FROM $t
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""
        |WITH fs AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS total,
        |       CAST(MIN(price) AS DOUBLE) AS lo
        |FROM fs GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    GQuery(
      // UPSERT-KAFKA DECODE under the oracle gate (r12,
      // UpsertKafkaDynamicTableFactory + DynamicKafkaRecordSerialization
      // Schema): orders history rendered as WIRE MESSAGES — json key
      // bytes carrying the pk, json value bytes (tombstone NULL for
      // deletes), offsets as the per-key order — decoded by
      // KafkaConnector.upsertDecode into the row_kind/seq convention,
      // landed as a declared upsert table, and aggregated through the
      // front door (ChangelogNormalize applies). Same history as q151
      // (+U at 1, %10 re-upserted at 2, %17 tombstoned at 3), so the
      // oracle is the same final state: a decode bug (key/value
      // misalignment, tombstone mishandling, offset ordering) breaks
      // every column.
      "q152_upsert_kafka_decode",
      (s, d) => {
        import s.implicits._
        val t = "upk_q152"
        val Seq(v1, v2, dels) = orders(s, d,
          Seq("o_orderkey", "o_orderpriority"), DoublePrice, UpsertRows)
        val keyJson = to_json(struct($"o_orderkey")).cast("binary").as("key")
        val wire = v1.unionByName(v2).select(keyJson,
          to_json(struct($"o_orderkey", $"o_orderpriority", $"price"))
            .cast("binary").as("value"), $"cdc_ts".as("offset"))
          .unionByName(dels.select(keyJson,
            lit(null).cast("binary").as("value"), $"cdc_ts".as("offset")))
        // the orders scan is ONE task (single small parquet row group),
        // which dragged the whole JSON decode + CTAS through ~1 task —
        // guide §2.5 "input skew: repartition immediately after the
        // read". REBALANCE (not a fixed n) stays AQE-sized at any scale.
        val decoded = graft.sources.KafkaConnector.upsertDecode(
          wire.hint("rebalance"), v1.drop("row_kind", "cdc_ts").schema,
          Seq("o_orderkey"),
          Map("key.format" -> "json", "value.format" -> "json"))
        ContinuousGates.replaceTable(s, t, decoded,
          Map("graft.upsert.keys" -> "o_orderkey"))
        Engine.sql(s, s"""
          SELECT o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS total,
                 CAST(MAX(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS hi
          FROM $t
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""
        |WITH fs AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(price) AS DOUBLE) AS total,
        |       CAST(MAX(price) AS DOUBLE) AS hi
        |FROM fs GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    GQuery(
      // FINAL_STATE(t) (r13): the SQL spelling of materialize-first —
      // a BATCH window-function statement (ROW_NUMBER top-3 per
      // priority) over a retract changelog's CURRENT live multiset,
      // the statement shape that deliberately REJECTS over the raw
      // changelog (no retraction-consuming rewrite). Same three-phase
      // history as q153 (+I all, -U/+U %10 price bumps, -D %17), so
      // the oracle is row_number over the final state; a netting bug
      // (lost multiplicity, surviving delete, un-retracted -U) breaks
      // rows and hash.
      "q155_final_state_topn",
      (s, d) => {
        val t = "cl_q155"
        ContinuousGates.replaceTable(s, t, orders(s, d,
          Seq("o_orderkey", "o_orderpriority"), DoublePrice, RetractRows)
          .reduce(_ unionByName _))
        Engine.sql(s, s"""
          SELECT o_orderpriority, o_orderkey,
                 CAST(price AS DOUBLE) AS price, CAST(rn AS BIGINT) AS rn
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_orderkey DESC) AS rn
            FROM FINAL_STATE($t)) x
          WHERE rn <= 3
          ORDER BY o_orderpriority, rn""")
      },
      Some("""
        |WITH fs AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT o_orderpriority, o_orderkey, CAST(price AS DOUBLE) AS price, rn
        |FROM (
        |  SELECT o_orderkey, o_orderpriority, price,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_orderkey DESC) AS rn
        |  FROM fs) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, rn
        |""".stripMargin)),

    GQuery(
      // NESTED columns through the Avro file connector: orders packed
      // into a STRUCT (with a nested inner struct), an ARRAY of derived
      // longs, and a MAP — written as OCF, read back, flattened with
      // explode/element_at, aggregated. The oracle states the same
      // arithmetic over the flat table, so any nested encode/decode or
      // null-handling bug breaks the hash match.
      "q109_avro_nested_roundtrip",
      (s, d) => {
        import s.implicits._
        val base = Tables.orders(s, d).select(
          $"o_orderkey",
          struct($"o_orderpriority".as("prio"),
            struct(graft.Bits.dec($"o_totalprice").cast("double").as("price")).as("inner"),
            when($"o_orderkey" % 7 === 0, lit(null).cast("string"))
              .otherwise($"o_orderstatus").as("status")).as("rec"),
          array($"o_orderkey" % 10, $"o_orderkey" % 100).as("xs"),
          map(lit("ck"), $"o_custkey").as("m"))
        val dir = scratchDir("graft-avro-q109") + "/orders"
        base.write.format("graft-avro").option("codec", "deflate")
          .mode("overwrite").save(dir)
        s.read.format("graft-avro").load(dir)
          .select($"rec.prio".as("prio"), $"rec.inner.price".as("price"),
            $"rec.status".as("status"), explode($"xs").as("x"),
            element_at($"m", "ck").as("ck"))
          .groupBy($"prio")
          .agg(count(lit(1)).as("n"),
            sum($"price".cast(graft.Bits.Dec)).cast("double").as("total"),
            count($"status").as("n_status"),
            sum($"x").as("sum_x"),
            sum($"ck").as("sum_ck"))
          .orderBy($"prio")
      },
      Some("""
        |SELECT o_orderpriority AS prio, CAST(2 * COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(2 * CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
        |                     AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |       CAST(2 * COUNT(CASE WHEN o_orderkey % 7 <> 0 THEN 1 END) AS BIGINT) AS n_status,
        |       CAST(SUM(o_orderkey % 10 + o_orderkey % 100) AS BIGINT) AS sum_x,
        |       CAST(SUM(2 * o_custkey) AS BIGINT) AS sum_ck
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority
        |""".stripMargin)),

    GQuery(
      // Canal CDC END-TO-END under the oracle gate (mirror of q103's
      // debezium pipeline, exercising canal's BATCHED data[] arrays and
      // partial-old overlay): synthetic canal messages carry orders in
      // 2-row batches (inserts at es=1), single-row UPDATE batches with
      // `old` holding ONLY the changed column (+100 price at es=2), and
      // DELETE batches for keys %17=0 at es=3 — decoded by decodeCanal,
      // collapsed by upsertMaterialize. Oracle = surviving final rows.
      "q110_canal_cdc_materialize",
      (s, d) => {
        import s.implicits._
        import graft.streaming.Cdc
        import org.apache.spark.sql.types._
        val Seq(ins, upd, del) = orders(s, d, Seq("o_orderkey"), DoublePrice,
          Images(staleDeletes = true))
        val payload = imageType(ins)
        val noOld = lit(null).cast(ArrayType(payload)).as("old")
        // batched inserts: two consecutive orders per canal message
        val inserts = ins
          .withColumn("__grp", ($"after.o_orderkey" / 2).cast("long"))
          .groupBy($"__grp")
          .agg(collect_list($"after").as("rows"))
          .select(to_json(struct($"rows".as("data"), noOld,
            lit("INSERT").as("type"), lit(1L).as("es"))).as("value"))
        val updates = upd.select(to_json(struct(array($"after").as("data"),
          // canal's partial old image: ONLY the changed column
          array(struct(lit(null).cast(LongType).as("o_orderkey"),
            $"before.price".as("price"))).as("old"),
          lit("UPDATE").as("type"), lit(2L).as("es"))).as("value"))
        val deletes = del.select(to_json(struct(array($"before").as("data"),
          noOld, lit("DELETE").as("type"), lit(3L).as("es"))).as("value"))
        val log = Cdc.decodeCanal(
          inserts.unionByName(updates).unionByName(deletes), payload)
        Cdc.upsertMaterialize(log, Seq("o_orderkey"), "cdc_ts", "cdc_ts")
          .select($"o_orderkey", $"price")
          .orderBy($"o_orderkey")
      },
      Some("""
        |SELECT o_orderkey,
        |       CAST(CASE WHEN o_orderkey % 10 = 0
        |                 THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                 ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
        |            AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 17 <> 0
        |ORDER BY o_orderkey
        |""".stripMargin)),

    GQuery(
      // Maxwell CDC END-TO-END under the oracle gate (q103/q110's change
      // set in maxwell's envelope: single-row `data` objects, partial
      // `old` images, ts in SECONDS — the decoder scales to ms): decoded
      // by decodeMaxwell, collapsed by upsertMaterialize. Same oracle.
      "q111_maxwell_cdc_materialize",
      (s, d) => {
        import s.implicits._
        import graft.streaming.Cdc
        import org.apache.spark.sql.types._
        val Seq(ins, upd, del) = orders(s, d, Seq("o_orderkey"), DoublePrice,
          Images(staleDeletes = true))
        val payload = imageType(ins)
        def message(data: Column, old: Column, op: String, ts: Long) =
          to_json(struct(data.as("data"), old.as("old"), lit(op).as("type"),
            lit(ts).as("ts"))).as("value")
        val inserts = ins.select(
          message($"after", lit(null).cast(payload), "insert", 1))
        // maxwell's old carries ONLY the changed column
        val updates = upd.select(message($"after",
          struct(lit(null).cast(LongType).as("o_orderkey"),
            $"before.price".as("price")), "update", 2))
        val deletes = del.select(
          message($"before", lit(null).cast(payload), "delete", 3))
        val log = Cdc.decodeMaxwell(
          inserts.unionByName(updates).unionByName(deletes), payload)
        Cdc.upsertMaterialize(log, Seq("o_orderkey"), "cdc_ts", "cdc_ts")
          .select($"o_orderkey", $"price")
          .orderBy($"o_orderkey")
      },
      Some("""
        |SELECT o_orderkey,
        |       CAST(CASE WHEN o_orderkey % 10 = 0
        |                 THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                 ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
        |            AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 17 <> 0
        |ORDER BY o_orderkey
        |""".stripMargin)),

    GQuery(
      // Ogg (GoldenGate) CDC END-TO-END under the oracle gate — the
      // fourth and last envelope format, completing the set (q103
      // debezium, q110 canal, q111 maxwell): full before/after images,
      // I/U/D op_type, ISO current_ts parsed to ms. Same change set,
      // same oracle.
      "q112_ogg_cdc_materialize",
      (s, d) => {
        import s.implicits._
        import graft.streaming.Cdc
        val changes = orders(s, d, Seq("o_orderkey"), DoublePrice,
          Images(staleDeletes = true))
        val payload = imageType(changes.head)
        val messages = changes.zip(Seq("I", "U", "D")).zipWithIndex
          .map { case ((c, op), i) => c.select(to_json(struct(
            $"before", $"after", lit(op).as("op_type"),
            lit(f"2024-01-01 00:00:0${i + 1}%d.000000").as("current_ts")))
            .as("value")) }
        val log = Cdc.decodeOgg(messages.reduce(_ unionByName _), payload)
        Cdc.upsertMaterialize(log, Seq("o_orderkey"), "cdc_ts", "cdc_ts")
          .select($"o_orderkey", $"price")
          .orderBy($"o_orderkey")
      },
      Some("""
        |SELECT o_orderkey,
        |       CAST(CASE WHEN o_orderkey % 10 = 0
        |                 THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                 ELSE CAST(o_totalprice AS DECIMAL(12,2)) END
        |            AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 17 <> 0
        |ORDER BY o_orderkey
        |""".stripMargin)),

    GQuery(
      "q54_constraint_enforce",
      (s, d) => {
        import s.implicits._
        enforceConstraints(
          Tables.part(s, d),
          notNull = Seq("p_name"),
          charLength = Map("p_type" -> 5, "p_brand" -> 7),
          policy = TrimPolicy)
          .select($"p_partkey", $"p_type", $"p_brand")
          .orderBy($"p_partkey")
      },
      Some("""
        |SELECT p_partkey, substring(p_type, 1, 5) AS p_type,
        |       substring(p_brand, 1, 7) AS p_brand
        |FROM part
        |ORDER BY p_partkey
        |""".stripMargin)),

    GQuery(
      "q55_side_outputs",
      (s, d) => {
        import s.implicits._
        sideOutputCounts(Tables.events(s, d), Map(
          "errors" -> ($"event_type" === "error"),
          "big" -> ($"value" > 150.0),
          "rest" -> ($"event_type" =!= "error" && $"value" <= 150.0)))
          .orderBy($"tag")
      },
      Some("""
        |SELECT 'big' AS tag, CAST(COUNT(*) AS BIGINT) AS n FROM events WHERE value > 150.0
        |UNION ALL
        |SELECT 'errors', CAST(COUNT(*) AS BIGINT) FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT 'rest', CAST(COUNT(*) AS BIGINT) FROM events
        |WHERE event_type <> 'error' AND value <= 150.0
        |ORDER BY tag
        |""".stripMargin))
  )
}
