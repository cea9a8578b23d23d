package graft

import graft.streaming.StatefulOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming OVER aggregation through the SQL front door — the
  * StreamExecOverAggregate role (reference flink-table-planner
  * .../plan/nodes/exec/stream/StreamExecOverAggregate.java: an event-time
  * `OVER (PARTITION BY k ORDER BY rowtime ...)` in a continuous query
  * compiles to the RowTime{Rows,Range}{Bounded,Unbounded}Preceding
  * process functions). Spark's window functions reject streaming frames
  * ("non-time-based windows are not supported"), so the clause is lowered
  * onto [[graft.streaming.StatefulTws.overMultiAggsChained]]: every
  * aggregate becomes one or two slots of a value VECTOR summed over the
  * frame, and all items sharing a PARTITION BY run in ONE stateful pass —
  * exactly how StreamExecOverAggregate fuses all of a window's aggregates
  * into one operator. The pass runs on transformWithState, so the
  * statement starts on the RocksDB provider (`ChangelogSql.startStream`).
  *
  * Supported statement shape:
  * {{{
  * SELECT <pk>, <rowtime>,
  *        SUM(expr) OVER w AS s, COUNT(expr|*) OVER w AS c, AVG(expr) OVER w AS a,
  *        MIN(expr) OVER w AS lo, MAX(expr) OVER w AS hi
  * FROM <watermarked table> [WHERE <predicate>]
  * -- w = ([PARTITION BY <pk>] ORDER BY <rowtime> [ROWS n PRECEDING |
  * --      RANGE INTERVAL '<n>' <unit> PRECEDING | UNBOUNDED])
  * }}}
  * Without PARTITION BY the whole stream shares one state key — a
  * parallelism-1 operator by construction, exactly Flink's
  * non-partitioned OVER (a result-shaping operator, not a data-path one).
  *
  * Ordering by a declared `PROCTIME()` attribute instead of the
  * watermark column selects the PROCESSING-TIME executors (Flink's
  * ProcTime{Rows,Range}{Bounded,Unbounded}PrecedingFunction family):
  * rows aggregate in per-key arrival order with no watermark buffering,
  * processing time being the micro-batch tick — so RANGE frames treat a
  * key's whole micro-batch as peers, Flink's same-proctime peer rule at
  * batch granularity (see StatefulOps.procOverAggsByKey).
  * Any number of SUM/COUNT/AVG/MIN/MAX/FIRST_VALUE/LAST_VALUE items
  * sharing ONE ORDER BY rowtime; since r8 the FRAMES may DIFFER per
  * item — items sharing a PARTITION BY run in one fused pass, each slot
  * aggregating over its own window (Slots.Multi) — and since r9 the
  * PARTITION BY may differ per item too: each distinct partition spec
  * becomes one pass of a CHAINED pipeline (one spec = a chain of length
  * one), exactly the reference's one-StreamExecOverAggregate-per-window
  * operator chain.
  * MIN/MAX/FIRST_VALUE/LAST_VALUE ride a NaN-sentinel slot with a
  * Min/Max/First/Last combine op (a NaN DATA value is indistinguishable
  * from NULL there — the standard float-aggregate caveat);
  * FIRST_VALUE/LAST_VALUE follow the reference's aggregates
  * (FirstValueAggFunction: first/last NON-NULL, i.e. IGNORE NULLS —
  * batch spark.sql needs an explicit IGNORE NULLS for the same result).
  * Non-aggregate select items must be the partition column, the
  * rowtime, or one of the aggregated expressions (projected as nullable
  * DOUBLE — the aggregate's input, NULLs preserved). The ORDER BY column must be
  * the table's declared WATERMARK attribute. Rows are released in
  * watermark order. Tied rowtimes follow the standard: under a RANGE
  * frame — explicit, or the implicit default when no frame clause is
  * written — tied rows are PEERS and share one aggregate value (Flink's
  * RowTimeRange*Function semantics, and what the same text computes in
  * batch); under a ROWS frame they are processed row-at-a-time in
  * deterministic (t, values) order, the bounded and unbounded frames
  * alike.
  *
  * NULL semantics: all five aggregates ignore NULL inputs, and a frame
  * with no non-null inputs reads NULL — exact SQL semantics, including
  * SUM (NULL inputs ride a NaN sentinel every combine op skips). A NaN
  * DATA value would be indistinguishable from NULL under that encoding
  * (batch spark.sql propagates NaN for the same text), so NaN inputs are
  * rejected EAGERLY with a clear error by default — set
  * `graft.streamOver.nanInput=allow` to accept them reading back NULL.
  *
  * Watermark caveat: Catalyst pushes a WHERE predicate that doesn't
  * reference the rowtime BELOW the EventTimeWatermark node
  * (PushPredicateThroughNonJoin), so rows excluded by WHERE do not
  * advance event time. Flink's source-generated watermarks advance on
  * every source row regardless of downstream Calc filters — pipelines
  * that rely on filtered-out traffic to move the clock must widen the
  * WHERE or declare a tighter watermark delay.
  */
object StreamOverSql {

  private val subCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Same-length literal blanking (shared implementation — SqlSplit). */
  private def blanked(s: String): String =
    graft.util.SqlSplit.blankLiterals(s)

  private val SelRe =
    """(?is)^\s*SELECT\s+(.+?)\s+FROM\s+`?(\w+)`?\s*(?:\bWHERE\s+(.+?))?\s*;?\s*$""".r
  private val OverItemRe =
    ("""(?is)^\s*([A-Za-z_]\w*)\s*\(\s*(.+?|\*)\s*\)""" +
      """(?:\s+(IGNORE|RESPECT)\s+NULLS)?\s+OVER\s*\(\s*""" +
      """(?:PARTITION\s+BY\s+`?(\w+)`?\s+)?ORDER\s+BY\s+`?(\w+)`?\s*(.*?)\)""" +
      """\s*(?:AS\s+`?(\w+)`?)?\s*$""").r

  private val BuiltinOverFns =
    Set("SUM", "COUNT", "AVG", "MIN", "MAX", "FIRST_VALUE", "LAST_VALUE")

  // ---- user-defined OVER aggregates (StatefulOps.OverAgg) -------------
  // the SQL route's registry for arbitrary aggregate slots — the
  // AggsHandlerCodeGenerator.scala:57 surface: any aggregate with a
  // fixed-width accumulator runs inside the fused event-time pass.
  // Registered names are recognized exactly like the built-ins (an
  // UNregistered name means the statement is not this shape and falls
  // through to spark.sql, which rejects it as an unknown function).
  private val customAggs =
    new java.util.concurrent.ConcurrentHashMap[String, StatefulOps.OverAgg]()

  /** Register `name` (case-insensitive) as a streaming OVER aggregate. */
  def registerAggregate(name: String, agg: StatefulOps.OverAgg): Unit = {
    require(!BuiltinOverFns(name.toUpperCase),
      s"cannot override built-in OVER aggregate $name")
    // contract checks at REGISTRATION, not first use: a zero/size
    // mismatch would silently corrupt the shared accumulator layout
    // (regions are sized by `size` but seeded by arraycopy of `zero`)
    require(agg.size >= 1, s"OverAgg $name: size must be >= 1, got ${agg.size}")
    require(agg.zero.length == agg.size,
      s"OverAgg $name: zero.length ${agg.zero.length} != size ${agg.size}")
    customAggs.put(name.toUpperCase, agg): Unit
  }

  /** Registry lookup shared with ChangelogSql (retractable registered
    * aggregates are admissible over changelog relations too). */
  private[graft] def customAgg(fn: String): Option[StatefulOps.OverAgg] =
    Option(customAggs.get(fn.toUpperCase))
  private val RowsFrameRe =
    """(?is)^\s*ROWS\s+BETWEEN\s+(\d+)\s+PRECEDING\s+AND\s+CURRENT\s+ROW\s*$""".r
  private val RangeFrameRe =
    ("""(?is)^\s*RANGE\s+BETWEEN\s+INTERVAL\s+'(\d+)'\s+""" +
      """(SECOND|MINUTE|HOUR|DAY)S?\s+PRECEDING\s+AND\s+CURRENT\s+ROW\s*$""").r
  private val UnboundedFrameRe =
    ("""(?is)^\s*(?:(ROWS|RANGE)\s+(?:BETWEEN\s+UNBOUNDED\s+PRECEDING\s+""" +
      """AND\s+CURRENT\s+ROW|UNBOUNDED\s+PRECEDING))?\s*$""").r
  private val AliasRe = """(?is)^\s*(.+?)\s+AS\s+`?(\w+)`?\s*$""".r

  private final case class AggItem(fn: String, valueText: String,
      nullsOpt: Option[String], pk: Option[String], rowtime: String,
      frameText: String, aliasOpt: Option[String]) {
    /** A single unaliased item keeps the historical `sum_over` name;
      * multiple items disambiguate by position. */
    def alias(idx: Int, total: Int): String = aliasOpt.getOrElse(
      fn.toLowerCase + (if (total == 1) "_over" else s"_over$idx"))
  }

  private def parseOverItem(item: String): Option[AggItem] = item match {
    case OverItemRe(f, v, nl, p, o, fr, al)
        if BuiltinOverFns(f.toUpperCase) || customAgg(f).isDefined =>
      Some(AggItem(f.toUpperCase, v.trim, Option(nl).map(_.toUpperCase),
        Option(p), o, fr.trim, Option(al)))
    case _ => None
  }

  private def frameOk(fr: String): Boolean =
    UnboundedFrameRe.matches(fr) || RowsFrameRe.matches(fr) ||
      RangeFrameRe.matches(fr)

  /** Dispatch predicate — SHAPE-PRECISE: true only when the whole
    * statement fits the supported single-table form (one or more
    * SUM/COUNT/AVG/MIN/MAX/FIRST_VALUE/LAST_VALUE OVER items sharing one
    * ORDER BY rowtime; frames AND PARTITION BY may differ per item —
    * shared-spec items fuse into one pass, distinct specs chain). A
    * statement that
    * merely CONTAINS an OVER — e.g. a window function on the batch-side
    * subquery of a stream-batch join — must fall through to spark.sql,
    * which plans it as before; a statement that fits the shape but is
    * semantically invalid (wrong ORDER BY column, extra select items)
    * stays here and is rejected loudly by [[lower]]. */
  def matches(select: String): Boolean = select match {
    case SelRe(itemsText, _, _) =>
      val items = graft.util.SqlSplit.splitTopLevel(itemsText).map(_.trim)
      val overs = items.filter(i => """(?is)\bOVER\b""".r.findFirstIn(i).isDefined)
      overs.nonEmpty && {
        val parsed = overs.map(parseOverItem)
        parsed.forall(_.isDefined) && {
          val ps = parsed.flatten
          // one shared ORDER BY rowtime; PARTITION BY may differ per item
          // (multi-spec statements lower onto CHAINED passes, the
          // reference's one-operator-per-window shape)
          ps.forall(p => frameOk(p.frameText)) &&
            ps.map(_.rowtime).distinct.size == 1
        }
      }
    case _ => false
  }

  private val FromSubHeadRe = """(?is)^\s*SELECT\s+(.+?)\s+FROM\s*\(""".r
  private val AliasHeadRe = """(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)\b(.*)$""".r

  /** Remove `alias.`-qualified prefixes outside string literals, so a
    * select list written against a subquery alias resolves against the
    * lifted single-table view ("t.price" -> "price"). */
  private def stripQualifier(text: String, alias: String): String = {
    val b = blanked(text)
    val re = ("""(?i)\b""" + java.util.regex.Pattern.quote(alias) + """\s*\.\s*""").r
    val cut = re.findAllMatchIn(b).map(m => (m.start, m.end)).toList
    if (cut.isEmpty) text
    else {
      val sb = new StringBuilder
      var i = 0
      cut.foreach { case (s, e) => sb.append(text.substring(i, s)); i = e }
      sb.append(text.substring(i)).toString
    }
  }

  /** COMPOSED streaming OVER — the round-7 verdict's "streaming OVER +
    * join" gap: `SELECT <over items> FROM (<subquery>) [AS] a [WHERE ...]`
    * where the subquery is arbitrary streaming SQL (typically a
    * stream-batch or stream-stream join that assembles the OVER's input).
    * The subquery lowers through spark.sql first (the caller has already
    * shadowed watermarked sources with streaming reads), binds as a
    * generated temp view, alias qualifiers are stripped from the outer
    * items, and the rewritten single-table statement takes the normal
    * [[lower]] path. The watermark column is recognized through Spark's
    * event-time column METADATA (spark.watermarkDelayMs survives
    * projection, rename and joins), since a lifted view has no catalog
    * watermark declaration. None = not this shape (caller decides whether
    * to fall through to spark.sql or reject loudly). */
  def lowerComposed(spark: SparkSession, select: String): Option[DataFrame] = {
    if (matches(select)) return Some(lower(spark, select))
    val b = blanked(select)
    if ("""(?is)\bOVER\s*\(""".r.findFirstIn(b).isEmpty) return None
    val head = FromSubHeadRe.findFirstMatchIn(b).getOrElse(return None)
    val open = head.end - 1
    val close = graft.util.SqlSplit.matchParen(b, open)
    if (close < 0) return None
    val inner = select.substring(open + 1, close).trim
    if (!inner.regionMatches(true, 0, "SELECT", 0, 6)) return None
    var tail = select.substring(close + 1)
    var aliasOpt: Option[String] = None
    tail match {
      case AliasHeadRe(w, rest) if !w.equalsIgnoreCase("WHERE") =>
        aliasOpt = Some(w); tail = rest
      case _ => ()
    }
    // an inner that doesn't analyze is not this shape — let the caller's
    // spark.sql path report the error on the ORIGINAL statement text
    val innerDf = scala.util.Try(spark.sql(inner)).getOrElse(return None)
    if (!innerDf.isStreaming) return None // batch statement: spark.sql plans it whole
    val view = s"__graft_over_sub_${subCounter.incrementAndGet()}"
    innerDf.createOrReplaceTempView(view)
    // drop the generated view whichever way this returns: on the None
    // path nothing references it, and on the lowered path analysis has
    // already captured the subquery's plan inside the returned DataFrame
    try {
      val items0 = select.substring(head.start(1), head.end(1))
      val strip = (s: String) => aliasOpt.map(a => stripQualifier(s, a)).getOrElse(s)
      val rewritten = s"SELECT ${strip(items0)} FROM $view ${strip(tail)}".trim
      if (matches(rewritten)) Some(lower(spark, rewritten)) else None
    } finally spark.catalog.dropTempView(view): Unit
  }

  /** Lower the SELECT to a STREAMING DataFrame. Resolves `FROM <table>`
    * via `spark.table` — callers (sqlStreamInsert) shadow the name with
    * the watermarked streaming view first. */
  def lower(spark: SparkSession, select: String): DataFrame = {
    import graft.streaming.StatefulTws
    import graft.streaming.StatefulOps.{OverFrame, SlotOp}
    import spark.implicits._
    val (itemsText, table, whereOpt) = select match {
      case SelRe(items, t, w) => (items, t, Option(w))
      case _ => throw new IllegalArgumentException(
        "streaming OVER supports SELECT <items> FROM <table> [WHERE ...]; " +
          s"got: $select")
    }
    val items = graft.util.SqlSplit.splitTopLevel(itemsText).map(_.trim)
    val isOver: Seq[Boolean] =
      items.map(i => """(?is)\bOVER\b""".r.findFirstIn(i).isDefined)
    val overTexts = items.zip(isOver).collect { case (i, true) => i }
    require(overTexts.nonEmpty, "no OVER item in streaming OVER statement")
    val aggs = overTexts.map { i =>
      parseOverItem(i).getOrElse(throw new IllegalArgumentException(
        "unsupported OVER item (need SUM|COUNT|AVG(expr) OVER (PARTITION " +
          s"BY col ORDER BY rowtime [ROWS|RANGE frame]) [AS alias]): $i"))
    }
    val aliases = aggs.zipWithIndex.map { case (a, i) => a.alias(i, aggs.size) }
    require(aliases.distinct.size == aliases.size,
      s"duplicate OVER output aliases: ${aliases.mkString(", ")}")
    // one shared ORDER BY; FRAMES may differ per item (fused in one pass,
    // Slots.Multi) and PARTITION BY may differ per item — each distinct
    // partition spec becomes one CHAINED stateful pass (the reference's
    // one-StreamExecOverAggregate-per-window chain). Different ORDER BY
    // columns stay rejected (one event-time clock per statement).
    require(aggs.map(_.rowtime).distinct.size == 1,
      "every OVER item must share one ORDER BY rowtime column " +
        s"(got: ${aggs.map(_.rowtime).distinct})")
    // distinct partition specs in first-appearance order. PARTITION BY
    // is optional (Flink's non-partitioned OVER): without it the whole
    // stream shares ONE state key — a parallelism-1 operator by
    // construction, same as the reference's global OVER
    val specs: Seq[Option[String]] = aggs.map(_.pk).distinct
    val rowtime = aggs.head.rowtime
    def parseFrame(text: String): OverFrame = text match {
      // no frame clause = the SQL default, RANGE UNBOUNDED PRECEDING —
      // peer-sharing semantics, same as batch spark.sql / DuckDB
      case UnboundedFrameRe(kw) =>
        if (kw != null && kw.equalsIgnoreCase("ROWS")) OverFrame.Unbounded
        else OverFrame.UnboundedRange
      case RowsFrameRe(n) => OverFrame.Rows(n.toInt + 1)
      case RangeFrameRe(n, unit) =>
        OverFrame.Range(n.toLong * (unit.toUpperCase match {
          case "SECOND" => 1000L
          case "MINUTE" => 60000L
          case "HOUR" => 3600000L
          case "DAY" => 86400000L
        }))
      case other => throw new IllegalArgumentException(
        s"unsupported OVER frame for streaming: $other")
    }
    aggs.foreach { a =>
      require(BuiltinOverFns(a.fn) || customAgg(a.fn).isDefined,
        s"unsupported OVER aggregate ${a.fn}")
      require(a.fn != "COUNT" || a.valueText == "*" ||
          !a.valueText.contains("("),
        s"COUNT supports * or a plain column, got COUNT(${a.valueText})")
      require(a.fn == "COUNT" || a.valueText != "*", s"${a.fn}(*) is not SQL")
      // FIRST_VALUE/LAST_VALUE follow the reference's aggregate
      // semantics — first/last NON-NULL value (FirstValueAggFunction /
      // LastValueAggFunction), i.e. IGNORE NULLS. RESPECT NULLS cannot
      // be expressed through the NaN-sentinel NULL encoding and differs
      // from the reference; rejected loudly. NOTE: batch spark.sql
      // defaults to RESPECT NULLS for the same text — write IGNORE NULLS
      // explicitly for batch/stream parity on NULL data.
      require(a.nullsOpt.isEmpty ||
          Set("FIRST_VALUE", "LAST_VALUE")(a.fn),
        s"${a.fn} does not take an ${a.nullsOpt.getOrElse("")} NULLS clause")
      require(!a.nullsOpt.contains("RESPECT"),
        s"${a.fn} RESPECT NULLS is not supported: the reference's " +
          "FIRST_VALUE/LAST_VALUE aggregates ignore NULLs")
    }

    val wmCol = scala.util.Try(
      WatermarkDdl.watermarkCol(spark, table)).toOption.flatten
    // ORDER BY a declared PROCTIME() attribute selects the
    // processing-time executors (ProcTime*Function family): arrival-order
    // aggregation, no watermark buffering
    val procTime = scala.util.Try(
      WatermarkDdl.proctimeCol(spark, table)).toOption.flatten.contains(rowtime)
    val src0 = spark.table(table)
    // A lifted subquery view (lowerComposed) has no catalog watermark
    // declaration; Spark marks the event-time attribute with column
    // metadata (EventTimeWatermark.delayKey) that survives projection,
    // rename and joins — accept that as the declared rowtime.
    val wmMeta = src0.schema.find(_.name == rowtime)
      .exists(f => f.metadata.contains("spark.watermarkDelayMs"))
    require(procTime || wmCol.contains(rowtime) || wmMeta,
      s"streaming OVER must ORDER BY the declared WATERMARK column " +
        s"(${wmCol.getOrElse("<none>")}), a watermarked (event-time) " +
        s"column of the input, or a PROCTIME() attribute, got $rowtime")
    require(src0.isStreaming,
      s"$table did not resolve to a streaming read (batch OVER is spark.sql's job)")
    val src = whereOpt.map(src0.where).getOrElse(src0)
    require(src.schema(rowtime).dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"rowtime $rowtime must be TIMESTAMP, got ${src.schema(rowtime).dataType}")

    // slot assembly: SUM/AVG -> one NaN-sentinel value slot (Sum op);
    // COUNT -> one indicator slot; AVG adds the non-null-count slot;
    // MIN/MAX -> a NaN-sentinel slot with a Min/Max combine op;
    // FIRST_VALUE/LAST_VALUE -> a NaN-sentinel slot with a First/Last
    // combine op. NaN encodes a NULL input, skipped by every combine op,
    // so a frame with no non-null inputs reduces to NaN and reads back
    // NULL — SQL's NULL-ignoring aggregates without killing the
    // non-nullable encoder. Slots DEDUP by (kind, expression, FRAME):
    // SUM(v) + COUNT(v) + AVG(v) over one window share one value and one
    // indicator slot — every buffered row in state carries the minimal
    // vector; the same aggregate over a different frame is its own slot.
    def norm(s: String): String = s.toLowerCase.replaceAll("[\\s`]+", "")
    val slotCols = Vector.newBuilder[Column]
    val slotOps = Vector.newBuilder[SlotOp]
    val slotFrames = Vector.newBuilder[OverFrame]
    var nSlots = 0
    val slotCache = scala.collection.mutable.Map.empty[(String, String, String), Int]
    def slotOf(a: AggItem, kind: String, txt: String,
        op: SlotOp = SlotOp.Sum)(c: => Column): Int =
      slotCache.getOrElseUpdate((kind, txt, norm(a.frameText)),
        { slotCols += c; slotOps += op; slotFrames += parseFrame(a.frameText)
          nSlots += 1; nSlots - 1 })
    // NULL inputs ride a NaN sentinel — so a genuine NaN DATA value would
    // silently read back NULL, diverging from batch spark.sql where NaN
    // propagates. Guard the ambiguity EAGERLY (one codegen'd isnan branch
    // per slot): a NaN input fails the query with a clear message.
    // graft.streamOver.nanInput=allow restores the documented
    // NaN-reads-as-NULL behavior for pipelines that accept it.
    val rejectNaN = spark.conf.get(
      "graft.streamOver.nanInput", "reject") != "allow"
    def sentinel(ve: Column): Column = {
      val guarded =
        if (!rejectNaN) ve
        else when(isnan(ve), raise_error(lit(
          "NaN input to a streaming OVER aggregate: the NaN-sentinel NULL " +
            "encoding cannot represent it (batch OVER would propagate NaN). " +
            "Filter NaNs out, or set graft.streamOver.nanInput=allow to " +
            "read them back as NULL")).cast("double")).otherwise(ve)
      coalesce(guarded, lit(Double.NaN))
    }
    def valueSlot(a: AggItem): Int = slotOf(a, "val", norm(a.valueText))(
      sentinel(expr(a.valueText).cast("double")))
    def indicatorSlot(a: AggItem): Int =
      if (a.valueText == "*") slotOf(a, "star", "")(lit(1.0))
      else slotOf(a, "ind", norm(a.valueText))(
        when(expr(a.valueText).isNotNull, 1.0).otherwise(0.0))
    def opSlot(a: AggItem, kind: String, op: SlotOp): Int =
      slotOf(a, kind, norm(a.valueText), op)(
        sentinel(expr(a.valueText).cast("double")))
    val aggSlots: Seq[(AggItem, Int, Int)] = aggs.map { a =>
      a.fn match {
        case "SUM" => (a, valueSlot(a), -1)
        case "COUNT" => (a, indicatorSlot(a), -1)
        case "AVG" => (a, valueSlot(a), indicatorSlot(a))
        case "MIN" => (a, opSlot(a, "min", SlotOp.Min), -1)
        case "MAX" => (a, opSlot(a, "max", SlotOp.Max), -1)
        case "FIRST_VALUE" => (a, opSlot(a, "first", SlotOp.First), -1)
        case "LAST_VALUE" => (a, opSlot(a, "last", SlotOp.Last), -1)
        case fn => // registered user-defined aggregate (parseOverItem
          // admits only built-ins and registry hits)
          (a, opSlot(a, s"uda:$fn", SlotOp.Agg(customAgg(fn).get)), -1)
      }
    }

    // normalize non-aggregate items: each must be pk / rowtime / one of
    // the aggregated expressions, carrying its output alias. Output
    // column order follows the select-item order, OVER items included
    // (matched by POSITION, so textually identical items stay distinct).
    // Mapping precedence: any VALUE-carrying slot backs a projected
    // expression — SUM/AVG/MIN/MAX all store the NaN-sentinel input
    // itself (COUNT's 0/1 indicator is not the value — an expression
    // aggregated solely by COUNT cannot be projected); pk/rowtime
    // entries are added last and win collisions, so a projected `k`
    // stays the key column even when SUM(k) is among the aggregates.
    val valueSlotByText: Map[String, Int] =
      aggSlots.collect { case (a, s, _) if a.fn != "COUNT" =>
        norm(a.valueText) -> s }.reverse.toMap // first declaration wins
    val known: Map[String, String] =
      valueSlotByText.map { case (txt, s) => txt -> s"v$s" } ++
        Map(norm(rowtime) -> "t") ++
        specs.zipWithIndex.collect { case (Some(p), i) => norm(p) -> s"k$i" }
    var overPos = -1
    val outCols: Seq[(String, String)] = items.zip(isOver).map {
      case (_, true) =>
        overPos += 1
        (s"__agg$overPos", aliases(overPos))
      case (AliasRe(e, al), _) => (norm(e), al)
      case (e, _) => (norm(e), e.trim.replace("`", ""))
    }
    outCols.foreach { case (e, _) =>
      require(e.startsWith("__agg") || known.contains(e),
        s"streaming OVER select items must be the partition column, the " +
          s"rowtime or an aggregated expression (COUNT-only doesn't " +
          s"qualify — its 0/1 indicator is not the value); got '$e'") }

    val frames = slotFrames.result()
    val ops = slotOps.result()
    val slotColsV = slotCols.result()
    val n0 = slotColsV.size
    val m = specs.size
    // ROW KEY: every partition column, null-safe, \u0001-joined. The
    // components are base64-encoded so a partition VALUE containing the
    // separator (or equal to the null tag) can never desync the split —
    // the base64 alphabet contains neither the u0001 separator nor the
    // u0000 null tag
    val sep = "\u0001"
    val nullTag = "\u0000"
    def compOf(p: Option[String]): Column = p match {
      case Some(c) => when(col(c).isNull, lit(nullTag))
        .otherwise(base64(encode(col(c).cast("string"), "UTF-8")))
      case None => lit("")
    }
    val composite = concat_ws(sep, specs.map(compOf): _*)
    // the slots each spec's items READ from their pass's sums
    val readSlots: Seq[Seq[Int]] = specs.map { p =>
      aggSlots.collect { case (a, s, c) if a.pk == p =>
        Seq(s) ++ (if (c >= 0) Seq(c) else Nil)
      }.flatten.distinct.sorted
    }
    // extended-vector length entering pass j: original slots + carries
    // appended after passes 0..j-1
    def lenAt(j: Int): Int = n0 + readSlots.take(j).map(_.size).sum

    // every pass yields (ck = row key, ts, vals, sums)
    val ran: DataFrame =
      if (procTime) {
        // proc-time executors ignore the (computed) proctime column's
        // values — processing time IS the batch tick, emitted as t_ms.
        // Multi-frame and multi-spec proc-time OVER are not lowered (the
        // reference's ProcTime*Function family is one operator per
        // window too).
        require(m == 1,
          "processing-time OVER supports one PARTITION BY per statement " +
            s"(got: ${specs.mkString(", ")})")
        require(frames.distinct.size == 1,
          "processing-time OVER supports one shared frame per statement " +
            s"(got: ${frames.distinct.mkString(", ")})")
        require(!ops.exists(_.isInstanceOf[SlotOp.Agg]),
          "processing-time OVER does not support user-defined aggregates " +
            "(the proc-time executors reduce pairwise); use the " +
            "event-time route")
        val typed = src.select(composite.as("k"), array(slotColsV: _*).as("v"))
          .as[(String, Seq[Double])]
        StatefulOps.procOverAggsByKey(typed, frames.head, ops)
          .toDF("ck", "t_ms", "vals", "sums")
          .withColumn("ts", timestamp_millis(col("t_ms")))
      } else {
        // the event-time passes: one StatefulTws.overMultiAggsChained
        // pass per spec, in statement order, keyed on the spec's
        // component of the row key; after pass j the slots spec j's items
        // read are APPENDED to the row vector, so the last pass's rows
        // carry every window's results. Pass j materializes sums ONLY for
        // those slots — every other slot (other specs' originals AND
        // carries) runs under a Rows(1) frame, so pass j's row-buffer
        // retention is driven by spec j's own frames alone (a pass never
        // pays another spec's 1-day RANGE). The rowtime is selected
        // UNCAST: the source's watermark (set by WatermarkDdl.readStream)
        // propagates through a plain alias but not through a cast
        val ownSlots: Seq[Set[Int]] = readSlots.map(_.toSet)
        def extFrames(j: Int, len: Int): IndexedSeq[OverFrame] =
          IndexedSeq.tabulate(len)(i =>
            if (i < n0 && ownSlots(j)(i)) frames(i) else OverFrame.Rows(1))
        def extOps(len: Int): IndexedSeq[SlotOp] =
          IndexedSeq.tabulate(len)(i => if (i < n0) ops(i) else SlotOp.Sum)
        (0 until m).foldLeft(src.select(compOf(specs.head).as("_1"),
            composite.as("_2"), col(rowtime).as("_3"),
            array(slotColsV: _*).as("_4"))) { (in, j) =>
          val input =
            if (j == 0) in
            else in.select(element_at(split(col("ck"), sep, -1), j + 1).as("_1"),
              col("ck").as("_2"), col("ts").as("_3"),
              concat(col("vals"),
                array(readSlots(j - 1).map(i => col("sums").getItem(i)): _*)).as("_4"))
          StatefulTws.overMultiAggsChained(
            input.as[(String, String, java.sql.Timestamp, Seq[Double])],
            extFrames(j, lenAt(j)), extOps(lenAt(j)), dropLate = j == 0)
            .toDF("ck", "ts", "vals", "sums")
        }
      }

    // spec j's aggregates: the LAST pass reads its own sums; earlier
    // specs read the carry positions appended after their pass
    def sumAt(j: Int, s: Int): Column =
      if (j == m - 1) col("sums").getItem(s)
      else col("vals").getItem(lenAt(j) + readSlots(j).indexOf(s))
    def aggCol(i: Int): Column = {
      val (a, s, c) = aggSlots(i)
      val j = specs.indexOf(a.pk)
      a.fn match {
        case "COUNT" => sumAt(j, s).cast("long")
        case "AVG" =>
          when(sumAt(j, c) === 0.0, lit(null).cast("double"))
            .otherwise(sumAt(j, s) / sumAt(j, c))
        case _ => // SUM/MIN/MAX/FIRST_VALUE/LAST_VALUE: NaN = all-NULL frame
          when(isnan(sumAt(j, s)), lit(null).cast("double"))
            .otherwise(sumAt(j, s))
      }
    }
    val projected = outCols.map { case (e, alias) =>
      (if (e.startsWith("__agg")) aggCol(e.stripPrefix("__agg").toInt)
       else known(e) match {
         case "t" => col("ts")
         case ks if ks.startsWith("k") =>
           val i = ks.stripPrefix("k").toInt
           val comp = element_at(split(col("ck"), sep, -1), i + 1)
           val tpe = src.schema.find(_.name.equalsIgnoreCase(specs(i).get))
             .map(_.dataType).getOrElse(org.apache.spark.sql.types.StringType)
           when(comp === nullTag, lit(null))
             .otherwise(decode(unbase64(comp), "UTF-8")).cast(tpe)
         case vs => // NaN sentinel = the row's own input was NULL
           val v = col("vals").getItem(vs.stripPrefix("v").toInt)
           when(isnan(v), lit(null).cast("double")).otherwise(v)
       }).as(alias)
    }
    ran.select(projected: _*)
  }
}
