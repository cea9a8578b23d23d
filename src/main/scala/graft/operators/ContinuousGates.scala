package graft.operators

import graft.{Bits, ChangelogSql, Engine, GQuery, QueryModule, Tables}
import graft.ChangelogSql.SeqCol
import graft.util.{Conf, FileTree}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The changelog histories the changelog gates replay, built once here:
  * the continuous gates below, the batch changelog gates q151/q152/q155
  * and the CDC envelope gates q103, q110-q112, q146 and q148 in
  * [[SinkOps]]. */
object ChangelogHistory {

  /** How an orders history carries its price: `of` reads it from
    * `o_totalprice`, `bump` adds the +100 of an update. */
  sealed abstract class Price(val of: Column => Column,
      val bump: Column => Column)
  /** DOUBLE through Bits.dec; the +100 is added in DECIMAL(12,2). */
  case object DoublePrice extends Price(p => Bits.dec(p).cast("double"),
    p => (p.cast(Bits.Dec) + lit(100).cast(Bits.Dec)).cast("double"))
  /** DECIMAL(12,2) throughout (exact sums in the gate and the oracle). */
  case object DecimalPrice extends Price(p => Bits.dec(p),
    p => (p + lit(100).cast(Bits.Dec)).cast(Bits.Dec))

  /** How a history's rounds are written. */
  sealed trait Rows
  /** `row_kind` rows: +I, then -U/+U pairs, then -D. */
  case object RetractRows extends Rows
  /** `row_kind` rows of an upsert relation: +U, then +U, then -D. */
  case object UpsertRows extends Rows
  /** One row per change with its `before` and `after` images (structs of
    * the columns, a typed NULL where the change has none), which an
    * envelope gate renders into its own wire format. `staleDeletes`: a
    * delete's before-image carries the insert-time price, not the
    * current one. */
  final case class Images(staleDeletes: Boolean) extends Rows

  /** `df` as changelog rows: `row_kind` and `cdc_ts` ahead of its own
    * columns. */
  def stamped(df: DataFrame, kind: String, ts: Long): DataFrame =
    df.select(lit(kind).as("row_kind") +: lit(ts).as("cdc_ts") +:
      df.columns.toSeq.map(col): _*)

  /** Every row of `base` inserted at 1, keys divisible by `every`
    * deleted at 2. */
  def deleteEvery(base: DataFrame, every: Int): Seq[DataFrame] =
    Seq(stamped(base, "+I", 1),
      stamped(base.filter(col("o_orderkey") % every === 0), "-D", 2))

  /** The orders history, one frame per commit round: every order
    * inserted at 1, keys %10 priced +100 at 2, keys %17 deleted at 3.
    * Columns: `cols`, then `price`; a delete carries the current price
    * (bumped where updated) unless `Images(staleDeletes = true)`. */
  def orders(s: SparkSession, d: String, cols: Seq[String], price: Price,
      rows: Rows): Seq[DataFrame] = {
    val key = col("o_orderkey")
    val base = Tables.orders(s, d)
      .select(cols.map(col) :+ price.of(col("o_totalprice")).as("price"): _*)
    val bumped = price.bump(col("price"))
    val updated = base.filter(key % 10 === 0)
    val deleted = base.filter(key % 17 === 0)
    val deletedNow = deleted.withColumn("price",
      when(key % 10 === 0, bumped).otherwise(col("price")))
    rows match {
      case RetractRows => Seq(stamped(base, "+I", 1),
        stamped(updated, "-U", 2)
          .unionByName(stamped(updated.withColumn("price", bumped), "+U", 2)),
        stamped(deletedNow, "-D", 3))
      case UpsertRows => Seq(stamped(base, "+U", 1),
        stamped(updated.withColumn("price", bumped), "+U", 2),
        stamped(deletedNow, "-D", 3))
      case Images(staleDeletes) =>
        val image = struct(cols.map(col) :+ col("price"): _*)
        val none = lit(null).cast(base.schema)
        Seq(base.select(none.as("before"), image.as("after")),
          updated.select(image.as("before"),
            struct(cols.map(col) :+ bumped.as("price"): _*).as("after")),
          (if (staleDeletes) deleted else deletedNow)
            .select(image.as("before"), none.as("after")))
    }
  }

  /** The row type of an `Images` history's `before`/`after` images. */
  def imageType(changes: DataFrame): StructType =
    changes.schema("after").dataType.asInstanceOf[StructType]

  /** The customer history of an upsert relation keyed by c_custkey,
    * one frame per commit round: every customer +U at 1 with `column`
    * as `as`, keys %5 +U at 2 with `changed(column)`, keys %13 -D at 3. */
  def customers(s: SparkSession, d: String, column: String, as: String,
      changed: Column => Column): Seq[DataFrame] = {
    val key = col("c_custkey")
    val base = Tables.customer(s, d).select(key, col(column))
    Seq(stamped(base.select(key, col(column).as(as)), "+U", 1),
      stamped(base.filter(key % 5 === 0)
        .select(key, changed(col(column)).as(as)), "+U", 2),
      stamped(base.filter(key % 13 === 0)
        .select(key, lit(null).cast("string").as(as)), "-D", 3))
  }
}

/** One source relation of a continuous gate: its table, its table
  * properties (`graft.upsert.keys`, `graft.changelog.mode`) and its
  * changelog, one frame per commit round. */
final case class GateSource(table: String, props: Map[String, String],
    rounds: (SparkSession, String) => Seq[DataFrame])

/** How a gate reads its last sink back. */
sealed trait SinkRead
/** ChangelogSql.materializeUpsertSink: the live rows of an upsert sink. */
case object Upserts extends SinkRead
/** `FINAL_STATE(sink)` after refreshTable: a retract sink, netted. */
case object FinalState extends SinkRead

/** A continuous gate as data: its sources, its sinks (table, column
  * list), its `INSERT INTO … SELECT` statements in start order, how the
  * result is read and projected, and its oracle. */
final case class ContinuousGate(
    name: String,
    sources: Seq[GateSource],
    sinks: Seq[(String, String)],
    inserts: Seq[String],
    read: SinkRead,
    project: DataFrame => DataFrame,
    oracle: String)

/** The continuous changelog gates: each statement runs as a stream WHILE
  * its sources' commit rounds land, and the materialized sink must equal
  * DuckDB's answer over the final state. */
object ContinuousGates extends QueryModule {
  import ChangelogHistory._

  /** DROP `t`, then CTAS `rows` into it through the HEALING front door
    * (a prior JVM's orphaned managed directory heals in sqlHealingCreate;
    * a bare saveAsTable dies with LOCATION_ALREADY_EXISTS on the second
    * fresh-metastore run), then set its table properties. */
  def replaceTable(s: SparkSession, t: String, rows: DataFrame,
      props: Map[String, String] = Map.empty): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    rows.createOrReplaceTempView(s"__${t}_src")
    try Engine.sql(s, s"CREATE TABLE $t AS SELECT * FROM __${t}_src")
    finally s.catalog.dropTempView(s"__${t}_src")
    if (props.nonEmpty) s.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
  }

  private def append(s: SparkSession, t: String, rows: DataFrame): Unit = {
    rows.createOrReplaceTempView(s"__${t}_in")
    try s.sql(s"INSERT INTO $t SELECT * FROM __${t}_in"): Unit
    finally s.catalog.dropTempView(s"__${t}_in"): Unit
  }

  /** Runs `g`: creates each source from its first round and each sink,
    * starts each statement on its own fresh checkpoint and drains it,
    * then lands every later round on all sources before draining every
    * statement in start order; stops the statements in reverse order and
    * deletes their checkpoints also when a start fails.
    *
    * Pins, derived from the gate: 8 state partitions (Flink's per-job
    * parallelism lever via `graft.stream.statePartitions` — these are
    * small-state jobs over a handful of keys, so 8 stores per stateful
    * operator, not one per batch-sized shuffle partition); and when a
    * round appends to more than one source, a 1000 ms trigger, which
    * usually merges that round's appends into one micro-batch (under the
    * zero-interval default a poll between the two INSERTs splits the
    * round, paying the per-batch machinery twice; measured on q163: both
    * rounds merged, round walls 3.4→2.8 s and 2.1→1.6 s). It does not
    * guarantee the merge: a poll can still land between two appends and
    * split a round (q163 ran 3 or 4 micro-batches, q158 4 or 5, across
    * Bench runs of one tree). The result is identical either way. */
  def runGate(s: SparkSession, d: String, g: ContinuousGate): DataFrame = {
    val rounds = g.sources.map(src => src -> src.rounds(s, d))
    val pins = ("graft.stream.statePartitions" -> "8") +:
      (if (rounds.count(_._2.size > 1) > 1)
        Seq("graft.stream.triggerIntervalMs" -> "1000") else Nil)
    Conf.scoped(s, pins: _*) {
      rounds.foreach { case (src, rs) =>
        replaceTable(s, src.table, rs.head, src.props) }
      // sinks too go through the healing front door: a prior JVM's
      // orphaned managed dir would otherwise kill the stream's first write
      g.sinks.foreach { case (t, cols) =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Engine.sql(s, s"CREATE TABLE $t ($cols) USING parquet")
      }
      val ckpts = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
      def drain(qs: Iterable[StreamingQuery]): Unit =
        qs.foreach(_.processAllAvailable())
      // stops statement i, deletes its checkpoint, then does the same for
      // every earlier one, whatever throws
      def stopFrom(i: Int): Unit = if (i >= 0) {
        try {
          try started.lift(i).foreach(_.stop())
          finally FileTree.deleteRecursively(ckpts(i))
        } finally stopFrom(i - 1)
      }
      try {
        g.inserts.foreach { stmt =>
          ckpts += java.nio.file.Files.createTempDirectory(s"graft-${g.name}")
          started += Engine.sqlStreamInsert(s, stmt, ckpts.last.toString)
          drain(started.takeRight(1))
        }
        (1 until rounds.map(_._2.size).max).foreach { r =>
          rounds.foreach { case (src, rs) =>
            rs.lift(r).foreach(append(s, src.table, _)) }
          drain(started)
        }
      } finally stopFrom(ckpts.size - 1)
      val sink = g.sinks.last._1
      g.project(g.read match {
        case Upserts => ChangelogSql.materializeUpsertSink(s, sink)
        case FinalState =>
          s.catalog.refreshTable(sink)
          Engine.sql(s, s"SELECT * FROM FINAL_STATE($sink)")
      })
    }
  }

  private def dbl(c: String): Column = col(c).cast("double").as(c)

  val gates: Seq[ContinuousGate] = Seq(
    ContinuousGate(
      // CONTINUOUS RETRACTABLE TOP-N (r13, RetractableTopNFunction.java:
      // 56): the streaming statement `ROW_NUMBER() OVER (PARTITION BY
      // ... ORDER BY ...) WHERE rn <= N` over a RETRACT changelog,
      // running WHILE the history lands in three commits — inserts,
      // -U/+U price updates (payload refresh at unchanged rank), -D
      // deletes (rank backfills + explicit vacated-rank deletes). The
      // materialized upsert sink must equal DuckDB's row_number over
      // the FINAL state; a missed retraction, stale rank, or surviving
      // vacated rank breaks rows and hash.
      "q153_stream_retractable_topn",
      Seq(GateSource("cl_q153", Map.empty,
        orders(_, _, Seq("o_orderkey", "o_orderpriority"), DoublePrice,
          RetractRows))),
      Seq("cl_q153_sink" -> s"""row_kind STRING, o_orderpriority STRING,
        o_orderkey BIGINT, price DOUBLE, rn BIGINT, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q153_sink
          SELECT o_orderpriority, o_orderkey, price, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_orderkey DESC) AS rn
            FROM cl_q153) x
          WHERE rn <= 5"""),
      Upserts,
      _.select(col("o_orderpriority"), col("o_orderkey"), dbl("price"),
        col("rn")).orderBy("o_orderpriority", "rn"),
      """
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
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn
        |""".stripMargin),

    ContinuousGate(
      // ONE-STATEMENT CONTINUOUS AGGREGATE OVER A DECLARED UPSERT
      // STREAM (r13, StreamExecChangelogNormalize feeding
      // GroupAggFunction as one topology): q151's upsert history — +U
      // at 1, %10 keys RE-UPSERTED at 2 (the double-count trap), %17
      // tombstoned at 3 — lands in three commits while ONE
      // `INSERT INTO ... SELECT` aggregates it continuously. The
      // normalize chain emits the -U/+U retract transitions the sign
      // algebra consumes, so the materialized sink equals the batch
      // normalize+aggregate: same oracle as q151's final state.
      "q154_stream_upsert_aggregate",
      Seq(GateSource("ups_q154", Map("graft.upsert.keys" -> "o_orderkey"),
        orders(_, _, Seq("o_orderkey", "o_orderpriority"), DoublePrice,
          UpsertRows))),
      Seq("ups_q154_sink" -> s"""o_orderpriority STRING, n BIGINT,
        total DOUBLE, lo DOUBLE, row_kind STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO ups_q154_sink
          SELECT o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS total,
                 CAST(MIN(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS lo
          FROM ups_q154 GROUP BY o_orderpriority"""),
      Upserts,
      _.select(col("o_orderpriority"), col("n"), dbl("total"), dbl("lo"))
        .orderBy("o_orderpriority"),
      """
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
        |""".stripMargin),

    ContinuousGate(
      // CONTINUOUS TOP-N ORDER BY STRING (r14): the streaming top-N
      // statement ranking on an arbitrary comparable sort key — the
      // generated-comparator capability of the reference's
      // ComparableRecordComparator.java:35, realized as a memcmp
      // sort-key ENCODING (graft_sort_key / graft.util.SortKey) keyed
      // into the transformWithState dataState+counts pairing. The order
      // column is a derived unique STRING (priority # zero-padded key),
      // partitioned by o_orderstatus so ranks compare across alphabetic
      // prefixes, with a delete commit forcing rank backfill under
      // string-keyed retraction matching. Oracle = DuckDB ROW_NUMBER
      // over the surviving rows on the same string (binary collation on
      // both sides).
      "q156_stream_topn_string_order",
      Seq(GateSource("cl_q156", Map.empty, (s, d) => deleteEvery(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          concat(col("o_orderpriority"), lit("#"),
            lpad(col("o_orderkey").cast("string"), 12, "0")).as("skey")), 3))),
      Seq("cl_q156_sink" -> s"""row_kind STRING, o_orderstatus STRING,
        o_orderkey BIGINT, skey STRING, rn BIGINT, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q156_sink
          SELECT o_orderstatus, o_orderkey, skey, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY skey DESC) AS rn
            FROM cl_q156) x
          WHERE rn <= 4"""),
      Upserts,
      _.select(col("o_orderstatus"), col("o_orderkey"), col("skey"), col("rn"))
        .orderBy("o_orderstatus", "rn"),
      """
        |WITH fs AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         o_orderpriority || '#' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS skey
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, o_orderkey, skey, rn
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, skey,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |           ORDER BY skey DESC) AS rn
        |  FROM fs) t
        |WHERE rn <= 4 ORDER BY o_orderstatus, rn
        |""".stripMargin),

    ContinuousGate(
      // CONTINUOUS TOP-N ORDER BY DECIMAL, ASCENDING (r14): the other
      // half of the arbitrary-comparable-sort-key gate — a DECIMAL(18,2)
      // order column with MIXED SIGNS (tens'-complement encoding path
      // for negatives) ranked ASC through the SQL front door (q153 is
      // DESC; a missing-direction default reading as DESC would break
      // every rank here). Unique by construction (injective in
      // o_orderkey) so the oracle's ROW_NUMBER is deterministic.
      "q157_stream_topn_decimal_asc",
      Seq(GateSource("cl_q157", Map.empty, (s, d) => deleteEvery(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          signedDval), 3))),
      Seq("cl_q157_sink" -> s"""row_kind STRING, o_orderpriority STRING,
        o_orderkey BIGINT, dval DECIMAL(18,2), rn BIGINT, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q157_sink
          SELECT o_orderpriority, o_orderkey, dval, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY dval) AS rn
            FROM cl_q157) x
          WHERE rn <= 4"""),
      Upserts,
      _.select(col("o_orderpriority"), col("o_orderkey"), dbl("dval"), col("rn"))
        .orderBy("o_orderpriority", "rn"),
      """
        |WITH fs AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(CAST(o_orderkey AS DECIMAL(18,2)) - 30000.50
        |              AS DECIMAL(18,2)) AS dval
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderpriority, o_orderkey, CAST(dval AS DOUBLE) AS dval, rn
        |FROM (
        |  SELECT o_orderkey, o_orderpriority, dval,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |           ORDER BY dval) AS rn
        |  FROM fs) t
        |WHERE rn <= 4 ORDER BY o_orderpriority, rn
        |""".stripMargin),

    ContinuousGate(
      // FAST TOP-1 END TO END (r14, FastTop1Function.java:54 /
      // RankProcessStrategy.UpdateFastStrategy): the full derivation
      // chain under the oracle gate — an INSERT-ONLY-declared source
      // feeds a continuous MAX aggregate (the sign-algebra route records the
      // monotone column on its sink), and a DESC top-1 statement over
      // that sink plan-routes onto the O(1)-leader-state operator while
      // BOTH streams run across two commits (the leader changes when
      // the second commit lands a higher key). The materialized answer
      // must equal DuckDB's rank-1 row over the final aggregate state —
      // a wrong monotone derivation, a missed leader handoff, or a
      // stale rank breaks rows and hash.
      "q158_stream_fasttop1_monotone",
      Seq(GateSource("cl_q158",
        Map("graft.changelog.mode" -> "insert-only"), (s, d) => {
          val base = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderpriority"))
          Seq(stamped(base.filter(col("o_orderkey") % 2 === 0), "+I", 1),
            stamped(base.filter(col("o_orderkey") % 2 =!= 0), "+I", 2))
        })),
      Seq(
        "cl_q158_agg" ->
          s"o_orderpriority STRING, mx BIGINT, row_kind STRING, $SeqCol BIGINT",
        "cl_q158_sink" -> s"""row_kind STRING, o_orderpriority STRING,
          mx BIGINT, rn BIGINT, $SeqCol BIGINT"""),
      Seq(
        "INSERT INTO cl_q158_agg SELECT o_orderpriority, MAX(o_orderkey) AS mx " +
          "FROM cl_q158 GROUP BY o_orderpriority",
        """
          INSERT INTO cl_q158_sink
          SELECT o_orderpriority, mx, rn FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY mx DESC) AS rn
            FROM cl_q158_agg) x
          WHERE rn <= 1"""),
      Upserts,
      _.select(col("o_orderpriority"), col("mx"), col("rn")).orderBy("rn"),
      """
        |SELECT o_orderpriority, mx, rn FROM (
        |  SELECT o_orderpriority, CAST(MAX(o_orderkey) AS BIGINT) AS mx,
        |         ROW_NUMBER() OVER (ORDER BY MAX(o_orderkey) DESC) AS rn
        |  FROM orders GROUP BY o_orderpriority) t
        |WHERE rn = 1
        |""".stripMargin),

    ContinuousGate(
      // MULTI-COLUMN ORDER BY in the continuous top-N (r14): the
      // composite-sort-key capability — `ROW_NUMBER() OVER (PARTITION
      // BY status ORDER BY priority DESC, dval ASC)` ranks on the
      // CONCATENATION of direction-baked field encodings (a DESC
      // variable-width STRING followed by an ASC DECIMAL with mixed
      // signs — the two hardest field shapes composed), with a delete
      // commit forcing rank backfill under composite-keyed retraction
      // matching. Oracle = DuckDB's two-item ROW_NUMBER over the
      // surviving rows; one mis-ordered field pair (terminator bleed,
      // inverted-escape slip) breaks ranks, rows and hash.
      "q159_stream_topn_multicol",
      Seq(GateSource("cl_q159", Map.empty, (s, d) => deleteEvery(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), signedDval), 3))),
      Seq("cl_q159_sink" -> s"""row_kind STRING, o_orderstatus STRING,
        o_orderpriority STRING, dval DECIMAL(18,2), o_orderkey BIGINT,
        rn BIGINT, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q159_sink
          SELECT o_orderstatus, o_orderpriority, dval, o_orderkey, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY o_orderpriority DESC, dval) AS rn
            FROM cl_q159) x
          WHERE rn <= 3"""),
      Upserts,
      _.select(col("o_orderstatus"), col("o_orderpriority"), dbl("dval"),
        col("o_orderkey"), col("rn")).orderBy("o_orderstatus", "rn"),
      """
        |WITH fs AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |         CAST(CAST(o_orderkey AS DECIMAL(18,2)) - 30000.50
        |              AS DECIMAL(18,2)) AS dval
        |  FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, o_orderpriority, CAST(dval AS DOUBLE) AS dval,
        |       o_orderkey, rn
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, dval,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |           ORDER BY o_orderpriority DESC, dval) AS rn
        |  FROM fs) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn
        |""".stripMargin),

    ContinuousGate(
      // CONTINUOUS TWO-SIDED RETRACTION JOIN (r15, StreamExecJoin.java:
      // 132 -> StreamingJoinOperator.java:36): ONE `INSERT INTO s
      // SELECT ... FROM a JOIN b ON ...` statement over TWO changelog
      // relations, running while three commits land on BOTH sides —
      // inserts, -U/+U price bumps (left) and +U re-upserts (right, a
      // DECLARED UPSERT relation: the ChangelogNormalize chain feeds
      // the join's right side, the double-count trap), then -D deletes
      // on both (right tombstones CASCADE their orders out of the
      // join). The sink holds the join's RETRACT changelog;
      // FINAL_STATE nets it and must equal DuckDB's join over the two
      // final states — a missed retraction on either side, a lost
      // multiplicity, or a normalize slip breaks rows and hash.
      "q160_stream_join",
      ordersJoinCustomers("q160", DoublePrice, "c_name", "name",
        concat(_, lit("_v2"))),
      Seq("cl_q160_sink" -> s"""row_kind STRING, o_orderkey BIGINT,
        price DOUBLE, name STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q160_sink
          SELECT o.o_orderkey, o.price, c.name
          FROM cl_q160_ord o JOIN cl_q160_cust c ON o.o_custkey = c.c_custkey"""),
      FinalState,
      _.select(col("o_orderkey"), dbl("price"), col("name")).orderBy("o_orderkey"),
      """
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |fc AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_name || '_v2'
        |              ELSE c_name END AS name
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, name
        |FROM fo JOIN fc ON fo.o_custkey = fc.c_custkey
        |ORDER BY o_orderkey
        |""".stripMargin),

    ContinuousGate(
      // COMPUTED ORDER BY items in the continuous top-N (r15): the
      // statement ranks on `LENGTH(o_orderpriority) DESC,
      // price < 150000.0, o_orderkey` — a computed expression, a
      // BOOLEAN expression (the r15 fieldBoolean encoding; false < true
      // per SQL, direction-baked like every field) and a bare-column
      // tiebreak. The expressions project into derived payload columns
      // BEFORE the state boundary (the reference planner materializes
      // computed rank fields into the row the same way), so a -D must
      // re-encode to the identical composite key its +I did — the
      // delete commit proves retraction matching through computed
      // fields. Oracle = DuckDB's ROW_NUMBER over the same expressions.
      "q161_stream_topn_expr",
      Seq(GateSource("cl_q161", Map.empty, (s, d) => deleteEvery(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), DoublePrice.of(col("o_totalprice")).as("price")),
        13))),
      Seq("cl_q161_sink" -> s"""row_kind STRING, o_orderstatus STRING,
        o_orderpriority STRING, price DOUBLE, o_orderkey BIGINT, rn BIGINT,
        $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q161_sink
          SELECT o_orderstatus, o_orderpriority, price, o_orderkey, rn FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
              ORDER BY LENGTH(o_orderpriority) DESC, price < 150000.0,
                       o_orderkey) AS rn
            FROM cl_q161) x
          WHERE rn <= 4"""),
      Upserts,
      _.select(col("o_orderstatus"), col("o_orderpriority"), dbl("price"),
        col("o_orderkey"), col("rn")).orderBy("o_orderstatus", "rn"),
      """
        |WITH fs AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT o_orderstatus, o_orderpriority, CAST(price AS DOUBLE) AS price,
        |       o_orderkey, rn
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority, price,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |           ORDER BY LENGTH(o_orderpriority) DESC,
        |                    (price < 150000.0), o_orderkey) AS rn
        |  FROM fs) t
        |WHERE rn <= 4 ORDER BY o_orderstatus, rn
        |""".stripMargin),

    ContinuousGate(
      // CONTINUOUS LEFT OUTER retraction JOIN + WHERE pushdown (r15
      // second pass, OuterJoinRecordStateViews.java:335): q160's
      // two-changelog history under a LEFT JOIN — customers tombstoned
      // at commit 3 CASCADE their orders back to NULL-padded rows
      // (pad restored on last-match retraction) instead of out of the
      // result, and the left-side WHERE conjunct pushes down to the
      // orders stream BEFORE the join state (a padded-side or
      // cross-side predicate would reject). Oracle = DuckDB LEFT JOIN
      // over the two final states with the same filter; a missed pad
      // transition or a mispushed filter breaks rows and hash.
      "q162_stream_outer_join",
      ordersJoinCustomers("q162", DoublePrice, "c_name", "name",
        concat(_, lit("_v2"))),
      Seq("cl_q162_sink" -> s"""row_kind STRING, o_orderkey BIGINT,
        price DOUBLE, name STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q162_sink
          SELECT o.o_orderkey, o.price, c.name
          FROM cl_q162_ord o LEFT JOIN cl_q162_cust c ON o.o_custkey = c.c_custkey
          WHERE o.price > 150000.0"""),
      FinalState,
      // NULL pads read back under a marker: the oracle compare is
      // exact-value over sorted frames, and None==None is not equal
      // in pandas — both sides coalesce identically, so a missed pad
      // (or a phantom one) still breaks the match
      _.select(col("o_orderkey"), dbl("price"),
        coalesce(col("name"), lit("<pad>")).as("name")).orderBy("o_orderkey"),
      """
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |fc AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN c_name || '_v2'
        |              ELSE c_name END AS name
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT o_orderkey, CAST(price AS DOUBLE) AS price,
        |       COALESCE(name, '<pad>') AS name
        |FROM fo LEFT JOIN fc ON fo.o_custkey = fc.c_custkey
        |WHERE price > 150000.0
        |ORDER BY o_orderkey
        |""".stripMargin),

    ContinuousGate(
      // AGG-OVER-JOIN as ONE continuous statement (r15 third pass —
      // StreamExecJoin feeding StreamExecGroupAggregate,
      // GroupAggFunction.java:43 consuming the join's retract stream):
      // `SELECT c.seg, COUNT/SUM/MIN/MAX/AVG/COUNT(DISTINCT) ... FROM
      // ord JOIN cust GROUP BY c.seg` over TWO changelogs, the right a
      // DECLARED UPSERT through the normalize chain. Three commits:
      // inserts; -U/+U price bumps (left) + customers RE-SEGMENTED to
      // 'MOVED' (right upserts MIGRATE their orders between groups —
      // retract from the old group, add to the new); -D deletes on
      // both. The materialized upsert sink must equal DuckDB's
      // join+GROUP BY over the two final states — a missed group
      // migration, a lost retraction in any accumulator, or a stale
      // MIN/MAX extreme breaks rows and hash. DECIMAL sums keep the
      // compare exact; AVG rounds via the dround convention.
      "q163_stream_join_agg",
      ordersJoinCustomers("q163", DecimalPrice, "c_mktsegment", "seg",
        _ => lit("MOVED")),
      Seq("cl_q163_sink" -> s"""seg STRING, cnt BIGINT, custs BIGINT,
        rev DECIMAL(38,2), lo DECIMAL(12,2), hi DECIMAL(12,2), avg_p DOUBLE,
        row_kind STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q163_sink
          SELECT c.seg, COUNT(*) AS cnt,
                 COUNT(DISTINCT o.o_custkey) AS custs,
                 SUM(o.price) AS rev, MIN(o.price) AS lo,
                 MAX(o.price) AS hi, AVG(o.price) AS avg_p
          FROM cl_q163_ord o JOIN cl_q163_cust c ON o.o_custkey = c.c_custkey
          GROUP BY c.seg"""),
      Upserts,
      _.select(col("seg"), col("cnt"), col("custs"), dbl("rev"), dbl("lo"),
        dbl("hi"), Bits.dround(col("avg_p"), 6).as("avg_p")).orderBy("seg"),
      s"""
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                   AS DECIMAL(12,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |fc AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT seg, COUNT(*) AS cnt, COUNT(DISTINCT o_custkey) AS custs,
        |       CAST(SUM(price) AS DOUBLE) AS rev,
        |       CAST(MIN(price) AS DOUBLE) AS lo,
        |       CAST(MAX(price) AS DOUBLE) AS hi,
        |       ${Bits.droundSql(
               "CAST(SUM(price) AS DOUBLE) / COUNT(price)", 6)} AS avg_p
        |FROM fo JOIN fc ON fo.o_custkey = fc.c_custkey
        |GROUP BY seg ORDER BY seg
        |""".stripMargin),

    ContinuousGate(
      // TOP-N OVER AN AGGREGATE OVER A JOIN — FOUR chained stateful
      // operators in ONE statement (r15 third pass, the reference's
      // ChangelogNormalize -> StreamExecJoin ->
      // StreamExecGroupAggregate -> StreamExecRank plan): rank the
      // segments by revenue while q163's two-changelog history plays —
      // price bumps, customers re-segmented to 'MOVED' (their orders
      // MIGRATE between groups, reshuffling the ranking), deletes on
      // both sides. The inner aggregate emits RETRACT PAIRS
      // (generateUpdateBefore) into the sorted rank state; the
      // materialized sink must equal DuckDB's ROW_NUMBER over the
      // final-state aggregate — a lost pair, a stale rank, or a missed
      // group migration breaks rows and hash.
      "q164_stream_topn_over_agg",
      ordersJoinCustomers("q164", DecimalPrice, "c_mktsegment", "seg",
        _ => lit("MOVED")),
      Seq("cl_q164_sink" -> s"""seg STRING, rev DECIMAL(38,2), rn BIGINT,
        row_kind STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q164_sink
          SELECT seg, rev, rn FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
            FROM ( SELECT c.seg, SUM(o.price) AS rev
                   FROM cl_q164_ord o JOIN cl_q164_cust c ON o.o_custkey = c.c_custkey
                   GROUP BY c.seg )
          ) WHERE rn <= 3"""),
      Upserts,
      _.select(col("seg"), dbl("rev"), col("rn").cast("long").as("rn"))
        .orderBy("rn"),
      """
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                   AS DECIMAL(12,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |fc AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
        |              ELSE c_mktsegment END AS seg
        |  FROM customer WHERE c_custkey % 13 <> 0),
        |agg AS (
        |  SELECT seg, SUM(price) AS rev
        |  FROM fo JOIN fc ON fo.o_custkey = fc.c_custkey GROUP BY seg)
        |SELECT seg, CAST(rev AS DOUBLE) AS rev, rn FROM (
        |  SELECT seg, rev,
        |         ROW_NUMBER() OVER (ORDER BY rev DESC, seg ASC) AS rn
        |  FROM agg) WHERE rn <= 3 ORDER BY rn
        |""".stripMargin),

    ContinuousGate(
      // CONTINUOUS COUNT(DISTINCT) over ONE changelog (r15 third pass):
      // the one aggregate the sign-algebra route cannot express (Spark
      // bans distinct aggregation on streaming DataFrames) lowers onto
      // the TWS group aggregate — counted-value MapState per group (the
      // distinct-value data view Flink's planner splits out). Orders
      // stream grouped by priority: distinct customers, row count, and
      // exact DECIMAL revenue through three commits of inserts, -U/+U
      // price bumps (which must NOT change the distinct count — same
      // custkey re-inserted) and -D deletes (which drop a customer only
      // when their LAST order goes). Oracle = DuckDB over final state.
      "q165_stream_count_distinct",
      Seq(GateSource("cl_q165", Map.empty, orders(_, _,
        Seq("o_orderkey", "o_custkey", "o_orderpriority"), DecimalPrice,
        RetractRows))),
      Seq("cl_q165_sink" -> s"""prio STRING, custs BIGINT, cnt BIGINT,
        rev DECIMAL(38,2), row_kind STRING, $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q165_sink
          SELECT o_orderpriority AS prio, COUNT(DISTINCT o_custkey) AS custs,
                 COUNT(*) AS cnt, SUM(price) AS rev
          FROM cl_q165 GROUP BY o_orderpriority"""),
      Upserts,
      _.select(col("prio"), col("custs"), col("cnt"), dbl("rev")).orderBy("prio"),
      """
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                   AS DECIMAL(12,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0)
        |SELECT o_orderpriority AS prio, COUNT(DISTINCT o_custkey) AS custs,
        |       COUNT(*) AS cnt, CAST(SUM(price) AS DOUBLE) AS rev
        |FROM fo GROUP BY o_orderpriority ORDER BY prio
        |""".stripMargin),

    ContinuousGate(
      // TWO-LEVEL ROLLUP in ONE statement (r15 third pass): an
      // aggregate OVER an aggregate subquery — per-customer revenue
      // inside, per-priority statistics outside (customer count,
      // total, the BIGGEST single customer). The inner
      // StreamExecGroupAggregate emits RETRACT PAIRS; a price bump on
      // one order must retract that customer's OLD revenue from the
      // outer SUM and MAX before adding the new one, and a customer
      // whose last order deletes must leave the outer COUNT. Oracle =
      // DuckDB's nested aggregate over the final state.
      "q166_stream_nested_agg",
      Seq(GateSource("cl_q166", Map.empty, orders(_, _,
        Seq("o_orderkey", "o_custkey", "o_orderpriority"), DecimalPrice,
        RetractRows))),
      Seq("cl_q166_sink" -> s"""prio STRING, custs BIGINT,
        total DECIMAL(38,2), top_cust DECIMAL(38,2), row_kind STRING,
        $SeqCol BIGINT"""),
      Seq("""
          INSERT INTO cl_q166_sink
          SELECT prio, COUNT(*) AS custs, SUM(cust_rev) AS total,
                 MAX(cust_rev) AS top_cust
          FROM ( SELECT o_orderpriority AS prio, o_custkey,
                        SUM(price) AS cust_rev
                 FROM cl_q166 GROUP BY o_orderpriority, o_custkey )
          GROUP BY prio"""),
      Upserts,
      _.select(col("prio"), col("custs"), dbl("total"), dbl("top_cust"))
        .orderBy("prio"),
      """
        |WITH fo AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100
        |                   AS DECIMAL(12,2))
        |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |inner_agg AS (
        |  SELECT o_orderpriority AS prio, o_custkey,
        |         SUM(price) AS cust_rev
        |  FROM fo GROUP BY o_orderpriority, o_custkey)
        |SELECT prio, COUNT(*) AS custs,
        |       CAST(SUM(cust_rev) AS DOUBLE) AS total,
        |       CAST(MAX(cust_rev) AS DOUBLE) AS top_cust
        |FROM inner_agg GROUP BY prio ORDER BY prio
        |""".stripMargin)
  )

  /** A unique DECIMAL(18,2) of mixed sign: o_orderkey - 30000.50. */
  private def signedDval: Column =
    (col("o_orderkey").cast("decimal(18,2)") -
      lit("30000.50").cast("decimal(18,2)")).cast("decimal(18,2)").as("dval")

  /** The two sources of a join gate: `cl_<q>_ord`, the orders history
    * (o_orderkey, o_custkey, price), and `cl_<q>_cust`, a DECLARED
    * UPSERT customer history — the front door chains ChangelogNormalize
    * in front of the join's right input. */
  private def ordersJoinCustomers(q: String, price: Price, column: String,
      as: String, changed: Column => Column): Seq[GateSource] = Seq(
    GateSource(s"cl_${q}_ord", Map.empty,
      orders(_, _, Seq("o_orderkey", "o_custkey"), price, RetractRows)),
    GateSource(s"cl_${q}_cust", Map("graft.upsert.keys" -> "c_custkey"),
      customers(_, _, column, as, changed)))

  def queries: Seq[GQuery] =
    gates.map(g => GQuery(g.name, runGate(_, _, g), Some(g.oracle)))
}
