package graft

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.OverFrame
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias,
  UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
  CurrentRow, Expression, NullsFirst, RangeFrame, RowFrame, SortOrder,
  SpecifiedWindowFrame, UnboundedPreceding, UnspecifiedFrame,
  WindowExpression, WindowFrame}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DayTimeIntervalType, IntegerType}

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
  * Supported statement shape, read once off Spark's parsed plan
  * ([[lower]]), so every spelling the parser accepts reads alike:
  * {{{
  * SELECT <pk>, <rowtime>,
  *        SUM(expr) OVER w AS s, COUNT(expr|*) OVER w AS c, AVG(expr) OVER w AS a,
  *        MIN(expr) OVER w AS lo, MAX(expr) OVER w AS hi
  * FROM <watermarked table> | (<streaming subquery>) [AS] a
  * [WHERE <predicate>]
  * -- w = ([PARTITION BY <pk>] ORDER BY <rowtime> [ROWS n PRECEDING |
  * --      RANGE INTERVAL '<n>' <unit> PRECEDING | UNBOUNDED])
  * }}}
  * Items share ONE ORDER BY rowtime; FRAMES may differ per item (one
  * fused pass, each slot over its own window, Slots.Multi) and so may
  * PARTITION BY: each distinct partition spec is one pass of a CHAINED
  * pipeline, the reference's one-StreamExecOverAggregate-per-window
  * chain. Without PARTITION BY the whole stream shares one state key —
  * Flink's parallelism-1 non-partitioned OVER. FIRST_VALUE/LAST_VALUE
  * follow the reference's aggregates (FirstValueAggFunction: first/last
  * NON-NULL, i.e. IGNORE NULLS — batch spark.sql needs an explicit
  * IGNORE NULLS for the same result). Non-aggregate select items must
  * be the partition column, the rowtime, or one of the aggregated
  * expressions (projected as nullable DOUBLE — the aggregate's input,
  * NULLs preserved). The ORDER BY column must be the table's declared
  * WATERMARK attribute. Rows are released in watermark order. Tied
  * rowtimes follow the standard: under a RANGE frame — explicit, or the
  * implicit default — tied rows are PEERS and share one aggregate value
  * (Flink's RowTimeRange*Function semantics, and what the same text
  * computes in batch); under a ROWS frame they are processed
  * row-at-a-time in deterministic (t, values) order.
  *
  * Ordering by a declared `PROCTIME()` attribute instead selects the
  * PROCESSING-TIME executors (Flink's ProcTime*PrecedingFunction
  * family): rows aggregate in per-key arrival order with no watermark
  * buffering, processing time being the micro-batch tick — so RANGE
  * frames treat a key's whole micro-batch as peers
  * (StatefulOps.procOverAggsByKey).
  *
  * NULL semantics: every aggregate ignores NULL inputs, and a frame
  * with no non-null inputs reads NULL — exact SQL semantics, including
  * SUM (NULL inputs ride a NaN sentinel every combine op skips). A NaN
  * DATA value would be indistinguishable from NULL under that encoding
  * (batch spark.sql propagates NaN for the same text), so NaN inputs are
  * rejected EAGERLY with a clear error.
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

  /** One OVER item: `fn(arg)` (`arg` None = `*`) over its window: the
    * PARTITION BY column, the ORDER BY column and the frame. `nulls`:
    * the IGNORE/RESPECT NULLS clause written between the call and OVER. */
  private final case class AggItem(fn: String, arg: Option[ChangelogSql.Sliced],
      nulls: Option[String], pk: Option[String], rowtime: String,
      frame: OverFrame, aliasOpt: Option[String]) {
    def argText: String = arg.fold("*")(_.sql)
    /** A single unaliased item keeps the historical `sum_over` name;
      * multiple items disambiguate by position. */
    def alias(idx: Int, total: Int): String = aliasOpt.getOrElse(
      fn.toLowerCase + (if (total == 1) "_over" else s"_over$idx"))
  }

  /** The window function `e` is, when the select item is one, and its
    * alias. */
  private def overOf(e: Expression): Option[(WindowExpression, Option[String])] =
    e match {
      case Alias(w: WindowExpression, name) => Some((w, Some(name)))
      case UnresolvedAlias(w: WindowExpression, _) => Some((w, None))
      case _ => None
    }

  /** The frame `f` denotes: no frame clause is the SQL default, RANGE
    * UNBOUNDED PRECEDING (peer-sharing, as batch spark.sql and DuckDB);
    * None for one this lowering does not run. */
  private def frameOf(f: WindowFrame): Option[OverFrame] = f match {
    case UnspecifiedFrame => Some(OverFrame.UnboundedRange)
    case SpecifiedWindowFrame(t, lo, CurrentRow) => (t, lo) match {
      case (RowFrame, UnboundedPreceding) => Some(OverFrame.Unbounded)
      case (RangeFrame, UnboundedPreceding) => Some(OverFrame.UnboundedRange)
      // `n PRECEDING` reads -n; an interval reads microseconds
      case (RowFrame, n) if n.foldable && n.dataType == IntegerType =>
        Some(n.eval().asInstanceOf[Int]).filter(_ <= 0).map(k => OverFrame.Rows(1 - k))
      case (RangeFrame, n) if n.foldable && n.dataType.isInstanceOf[DayTimeIntervalType] =>
        Some(n.eval().asInstanceOf[Long]).filter(us => us <= 0 && us % 1000 == 0)
          .map(us => OverFrame.Range(-us / 1000))
      case _ => None
    }
    case _ => None
  }

  /** Lower the statement to a STREAMING DataFrame when it is a streaming
    * OVER; None = not this shape, and the caller falls through to
    * spark.sql. The statement is parsed once with Spark's parser; its
    * SELECT block gives the OVER items, the WHERE and the FROM. A
    * statement that merely CONTAINS an OVER — a window function on the
    * batch-side subquery of a stream-batch join, or an OVER inside a
    * larger expression — is not this shape; one that is, but is
    * semantically invalid (wrong ORDER BY column, extra select items),
    * throws. The FROM is a relation — callers (sqlStreamInsert) shadow
    * the name with the watermarked streaming view first — or the
    * COMPOSED form `FROM (<subquery>) [AS] a`: the subquery is arbitrary
    * streaming SQL (typically a join assembling the OVER's input),
    * lowered through spark.sql and aliased `a`. */
  def lower(spark: SparkSession, select: String): Option[DataFrame] = {
    import ChangelogSql.{aliasOf, block, isStarArg, parsed, sliced, sqlOf}
    import graft.streaming.StatefulTws
    import graft.streaming.StatefulOps.SlotOp
    import spark.implicits._
    val b = parsed(spark, select).flatMap(block).filter(b => b.groupBy.isEmpty &&
      b.having.isEmpty && !b.distinct && !b.ordered).getOrElse(return None)
    val (table, fromAlias, body) = b.from match {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        (Some(r.multipartIdentifier.head), None, None)
      case SubqueryAlias(id, q) => (None, aliasOf(id), Some(q))
      case _ => return None
    }
    // a column, bare or qualified by the FROM's alias (else its table)
    val quals = fromAlias.orElse(table).toSeq
    def colName(e: Expression): Option[String] = e match {
      case UnresolvedAttribute(Seq(c)) => Some(c)
      case UnresolvedAttribute(Seq(q, c)) if quals.exists(_.equalsIgnoreCase(q)) => Some(c)
      case _ => None
    }
    val overs = b.items.map(overOf)
    if (overs.forall(_.isEmpty) || b.items.zip(overs).exists { case (i, o) =>
        o.isEmpty && i.exists(_.isInstanceOf[WindowExpression]) }) return None
    val aggs = overs.flatten.map { case (w, aliasOpt) =>
      val f = Some(w.windowFunction).collect { case f: UnresolvedFunction => f }
        .filter(f => f.nameParts.size == 1 && f.arguments.size == 1 &&
          !f.isDistinct && f.filter.isEmpty && f.orderingWithinGroup.isEmpty)
        .getOrElse(return None)
      val fn = f.nameParts.head.toUpperCase
      if (!BuiltinOverFns(fn) && customAgg(fn).isEmpty) return None
      val spec = w.windowSpec
      val pk = spec.partitionSpec match {
        case Seq() => None
        case Seq(p) => Some(colName(p).getOrElse(return None))
        case _ => return None
      }
      val rowtime = spec.orderSpec match {
        case Seq(SortOrder(c, Ascending, NullsFirst, _)) => colName(c).getOrElse(return None)
        case _ => return None
      }
      // IGNORE NULLS is in the plan, RESPECT NULLS only in the text
      // between the call's closing parenthesis and the window spec
      val text = graft.util.SqlSplit.blankLiterals(f.origin.sqlText.get)
      val close = graft.util.SqlSplit.matchParen(text, text.indexOf('(', f.origin.startIndex.get))
      val nulls = if (f.ignoreNulls) Some("IGNORE") else Some("RESPECT").filter(_ =>
        text.substring(close + 1, spec.origin.startIndex.get).toUpperCase.contains("RESPECT"))
      val arg = f.arguments.head
      AggItem(fn, Option.when(!isStarArg(f, arg))(sliced(arg)), nulls, pk,
        rowtime, frameOf(spec.frameSpecification).getOrElse(return None), aliasOpt)
    }
    // one shared ORDER BY: one event-time clock per statement
    if (aggs.map(_.rowtime).distinct.size > 1) return None
    // the composed form's subquery: the caller has already shadowed
    // watermarked sources with streaming reads
    val sub = body.map(q => scala.util.Try(spark.sql(sqlOf(q))).toOption
      .filter(_.isStreaming).getOrElse(return None))
      .map(df => fromAlias.fold(df)(df.alias))

    val aliases = aggs.zipWithIndex.map { case (a, i) => a.alias(i, aggs.size) }
    require(aliases.distinct.size == aliases.size,
      s"duplicate OVER output aliases: ${aliases.mkString(", ")}")
    // distinct partition specs in first-appearance order, one chained
    // pass each; None = the non-partitioned OVER's one state key
    val specs: Seq[Option[String]] = aggs.map(_.pk).distinct
    val rowtime = aggs.head.rowtime
    aggs.foreach { a =>
      require(a.fn != "COUNT" || a.arg.isEmpty || !a.argText.contains("("),
        s"COUNT supports * or a plain column, got COUNT(${a.argText})")
      require(a.fn == "COUNT" || a.arg.isDefined, s"${a.fn}(*) is not SQL")
      // FIRST_VALUE/LAST_VALUE follow the reference's aggregate
      // semantics — first/last NON-NULL value (FirstValueAggFunction /
      // LastValueAggFunction), i.e. IGNORE NULLS. RESPECT NULLS cannot
      // be expressed through the NaN-sentinel NULL encoding and differs
      // from the reference; rejected loudly. NOTE: batch spark.sql
      // defaults to RESPECT NULLS for the same text — write IGNORE NULLS
      // explicitly for batch/stream parity on NULL data.
      require(a.nulls.isEmpty ||
          Set("FIRST_VALUE", "LAST_VALUE")(a.fn),
        s"${a.fn} does not take an ${a.nulls.getOrElse("")} NULLS clause")
      require(!a.nulls.contains("RESPECT"),
        s"${a.fn} RESPECT NULLS is not supported: the reference's " +
          "FIRST_VALUE/LAST_VALUE aggregates ignore NULLs")
    }

    val wmCol = table.flatMap(t =>
      scala.util.Try(WatermarkDdl.watermarkCol(spark, t)).toOption.flatten)
    // ORDER BY a declared PROCTIME() attribute selects the
    // processing-time executors (ProcTime*Function family): arrival-order
    // aggregation, no watermark buffering
    val procTime = table.exists(t => scala.util.Try(
      WatermarkDdl.proctimeCol(spark, t)).toOption.flatten.contains(rowtime))
    val src0 = sub.getOrElse(spark.table(table.get))
    // A subquery has no catalog watermark declaration; Spark marks the
    // event-time attribute with column metadata
    // (EventTimeWatermark.delayKey, spark.watermarkDelayMs) that survives
    // projection, rename and joins — accept that as the declared rowtime.
    val wmMeta = src0.schema.find(_.name == rowtime)
      .exists(f => f.metadata.contains("spark.watermarkDelayMs"))
    require(procTime || wmCol.contains(rowtime) || wmMeta,
      s"streaming OVER must ORDER BY the declared WATERMARK column " +
        s"(${wmCol.getOrElse("<none>")}), a watermarked (event-time) " +
        s"column of the input, or a PROCTIME() attribute, got $rowtime")
    require(src0.isStreaming,
      s"${table.mkString} did not resolve to a streaming read (batch OVER is spark.sql's job)")
    val src = b.where.map(w => src0.where(w.sql)).getOrElse(src0)
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
    // an expression up to case and qualifiers: the key of a slot's
    // input and of a projected item
    def norm(e: Expression): Expression = e.transformUp {
      case a: UnresolvedAttribute =>
        UnresolvedAttribute(Seq(colName(a).getOrElse(a.name).toLowerCase))
      case f: UnresolvedFunction => f.copy(nameParts = f.nameParts.map(_.toLowerCase))
    }
    def key(a: AggItem): Option[Expression] = a.arg.map(s => norm(s.e))
    val slotCols = Vector.newBuilder[Column]
    val slotOps = Vector.newBuilder[SlotOp]
    val slotFrames = Vector.newBuilder[OverFrame]
    var nSlots = 0
    val slotCache =
      scala.collection.mutable.Map.empty[(String, Option[Expression], OverFrame), Int]
    def slotOf(a: AggItem, kind: String,
        op: SlotOp = SlotOp.Sum)(c: => Column): Int =
      slotCache.getOrElseUpdate((kind, key(a), a.frame),
        { slotCols += c; slotOps += op; slotFrames += a.frame
          nSlots += 1; nSlots - 1 })
    // NULL inputs ride a NaN sentinel — so a genuine NaN DATA value would
    // silently read back NULL, diverging from batch spark.sql where NaN
    // propagates. Guard the ambiguity EAGERLY (one codegen'd isnan branch
    // per slot): a NaN input fails the query with a clear message.
    def sentinel(ve: Column): Column = coalesce(
      when(isnan(ve), raise_error(lit(
        "NaN input to a streaming OVER aggregate: the NaN-sentinel NULL " +
          "encoding cannot represent it (batch OVER would propagate NaN). " +
          "Filter NaNs out")).cast("double")).otherwise(ve),
      lit(Double.NaN))
    def valueSlot(a: AggItem): Int = slotOf(a, "val")(
      sentinel(expr(a.argText).cast("double")))
    def indicatorSlot(a: AggItem): Int =
      if (a.arg.isEmpty) slotOf(a, "star")(lit(1.0))
      else slotOf(a, "ind")(when(expr(a.argText).isNotNull, 1.0).otherwise(0.0))
    def opSlot(a: AggItem, kind: String, op: SlotOp): Int =
      slotOf(a, kind, op)(sentinel(expr(a.argText).cast("double")))
    val aggSlots: Seq[(AggItem, Int, Int)] = aggs.map { a =>
      a.fn match {
        case "SUM" => (a, valueSlot(a), -1)
        case "COUNT" => (a, indicatorSlot(a), -1)
        case "AVG" => (a, valueSlot(a), indicatorSlot(a))
        case "MIN" => (a, opSlot(a, "min", SlotOp.Min), -1)
        case "MAX" => (a, opSlot(a, "max", SlotOp.Max), -1)
        case "FIRST_VALUE" => (a, opSlot(a, "first", SlotOp.First), -1)
        case "LAST_VALUE" => (a, opSlot(a, "last", SlotOp.Last), -1)
        case fn => // registered user-defined aggregate (the item
          // reader admits only built-ins and registry hits)
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
    def colKey(c: String): Expression = UnresolvedAttribute(Seq(c.toLowerCase))
    val valueSlotByExpr: Map[Expression, Int] =
      aggSlots.collect { case (a, s, _) if a.fn != "COUNT" =>
        key(a).get -> s }.reverse.toMap // first declaration wins
    val known: Map[Expression, String] =
      valueSlotByExpr.map { case (e, s) => e -> s"v$s" } ++
        Map(colKey(rowtime) -> "t") ++
        specs.zipWithIndex.collect { case (Some(p), i) => colKey(p) -> s"k$i" }
    // each item: Left(its OVER position) or Right(its key), and its name
    val overPos = overs.scanLeft(-1)((i, o) => if (o.isDefined) i + 1 else i).tail
    val outCols: Seq[(Either[Int, Expression], String)] =
      b.items.zip(overs).zip(overPos).map {
        case ((_, Some(_)), i) => (Left(i), aliases(i))
        case ((item, None), _) =>
          val (e, name) = item match {
            case Alias(e, al) => (e, al)
            case UnresolvedAlias(e, _) => (e, sliced(e).sql.replace("`", ""))
            case a: UnresolvedAttribute => (a, a.nameParts.last)
            case e => (e, sliced(e).sql)
          }
          require(known.contains(norm(e)),
            s"streaming OVER select items must be the partition column, the " +
              s"rowtime or an aggregated expression (COUNT-only doesn't " +
              s"qualify — its 0/1 indicator is not the value); got '${sliced(e).sql}'")
          (Right(norm(e)), name)
      }

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
    val projected = outCols.map { case (e, name) =>
      (e.fold(aggCol, k => known(k) match {
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
       })).as(name)
    }
    Some(ran.select(projected: _*))
  }
}
