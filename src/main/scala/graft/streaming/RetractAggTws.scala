package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Retraction-consuming GROUP AGGREGATE as a transformWithState
  * processor — the operator that lets one continuous SQL statement chain
  * `JOIN -> GROUP BY` as a single topology (the reference plans
  * StreamExecJoin feeding StreamExecGroupAggregate; the runtime function
  * is flink-table-runtime/.../aggregate/GroupAggFunction.java:43 with
  * the retractable MIN/MAX data views of MinWithRetractAggFunction.java).
  *
  * Why TWS and not the sign-algebra SQL rewrite `ChangelogSql.streamAgg`
  * uses: that rewrite is a NATIVE update-mode streaming aggregation, and
  * Spark only composes stateful operators in APPEND mode — an
  * update-mode aggregate cannot sit downstream of the join's
  * transformWithState. This processor emits the refreshed group as an
  * append-mode changelog delta instead, exactly like the join and
  * sorted-top-N ports it chains with.
  *
  * State shape per group key:
  *   - `acc` ValueState: (net row count, one compact scalar accumulator
  *     string per aggregate) — COUNT/SUM/AVG are O(1) folds in both
  *     directions (sum += sign * v), Flink's generated accumulator row;
  *   - `vals` MapState["<i>|" + enc -> (live count, rendered value)] —
  *     the counted-multiset data view behind retractable MIN/MAX and
  *     COUNT(DISTINCT) (MapView in MinWithRetractAggFunction.java:60).
  *     MIN/MAX keep the CURRENT extreme in `acc` and only rescan the
  *     map when the extreme itself is fully retracted — Flink's
  *     "recompute on retract of the max" lazy repair, point-writes
  *     otherwise (probe-pinned by [[AggStateStats]]).
  *
  * Input rows: (groupKey, sign ±1, raw renderings per aggregate arg,
  * memcmp-ASC sort-key encodings per MIN/MAX arg); NULL args arrive as
  * None and are ignored by every aggregate except COUNT(*) — SQL null
  * semantics. Output per touched group per micro-batch: ONE refreshed
  * row (groupKey, rendered aggregate values, live) — live=false means
  * the group emptied and the sink must DELETE it. A group born and
  * fully retracted inside one batch emits nothing. */
object RetractAggTws {

  /** One aggregate's runtime kind (derived by the front door from the
    * SQL function + argument type):
    * count_star | count | count_distinct | sum_long | sum_dec |
    * sum_double | avg_long | avg_dec | avg_double | min | max. */
  case class AggSpec(kind: String)

  /** Test-visible state-I/O probe (the JoinStateStats pattern): pins
    * that applying a change is O(1) point writes and that MIN/MAX only
    * iterate the counted-value map when the current extreme was fully
    * retracted (`extremeScans` counts map entries walked in rescans).
    * Counters are JVM-wide (local-mode executors share the test JVM). */
  object AggStateStats {
    val pointWrites = new java.util.concurrent.atomic.AtomicLong
    val extremeScans = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = { pointWrites.set(0L); extremeScans.set(0L) }
  }

  // scalar accumulator renderings: a pair packs as "a,b" (both halves
  // are numeric renderings — never contain a comma); the MIN/MAX slot
  // is "" (no values), "?" (extreme retracted, rescan pending) or
  // "=" + enc (current extreme's map-key suffix)
  private def splitPair(s: String): (String, String) = {
    val i = s.indexOf(',')
    (s.substring(0, i), s.substring(i + 1))
  }

  private class GroupAggProc(specs: Seq[AggSpec], emitRetracts: Boolean)
      extends StatefulProcessor[String,
        (String, Int, Seq[Option[String]], Seq[Option[String]]),
        (String, String, Seq[Option[String]])] {

    @transient private var acc: ValueState[(Long, Seq[String])] = _
    @transient private var vals: MapState[String, (Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // encoders come from object-level vals: init runs PER TASK PER
      // MICRO-BATCH, and Encoders.product resolves through Scala runtime
      // reflection behind a GLOBAL lock (JavaUniverse.runtimeMirror) —
      // measured serializing all state tasks of a batch (thread dumps,
      // guide §7.3) at ~300 ms/task of burned CPU
      acc = getHandle.getValueState[(Long, Seq[String])]("acc",
        eAcc, TTLConfig.NONE)
      vals = getHandle.getMapState[String, (Long, String)]("vals",
        eStr, eValsV, TTLConfig.NONE)
    }

    private def zeroAcc(kind: String): String = kind match {
      case "count_star" | "min" | "max" => ""
      case "count" | "count_distinct" => "0"
      case "sum_long" | "avg_long" => "0,0"
      case "sum_dec" | "avg_dec" => "0,0"
      case "sum_double" | "avg_double" =>
        java.lang.Double.doubleToLongBits(0.0).toString + ",0"
    }

    /** BATCH-LOCAL overlay over `vals` (r16, guide §1.2 per-task work):
      * mapUpd paid ~3 RocksDB JNI round-trips PER INPUT ROW (containsKey
      * + getValue + updateValue), and a group's rows arrive together —
      * the same entry (a re-inserted distinct value, a repeated price)
      * is re-read and re-written once per row. The overlay reads each
      * entry through from state ONCE, folds every in-batch change in JVM
      * memory, and [[flushOverlay]] writes each touched entry exactly
      * once before anything renders. Value = (live count, rendered
      * value, existed-in-state) — the flag skips a tombstone delete for
      * entries born and fully retracted inside one batch. */
    @transient private var overlay:
        java.util.HashMap[String, (Long, String, Boolean)] = _

    private def ovGet(k: String): (Long, String, Boolean) = {
      val o = overlay.get(k)
      if (o != null) o
      else if (vals.containsKey(k)) {
        val v = vals.getValue(k); (v._1, v._2, true)
      } else (0L, null, false)
    }

    private def flushOverlay(): Unit = {
      overlay.forEach { (k, v) =>
        if (v._1 <= 0L) {
          if (v._3) { vals.removeKey(k); AggStateStats.pointWrites.incrementAndGet(): Unit }
        } else {
          vals.updateValue(k, (v._1, v._2))
          AggStateStats.pointWrites.incrementAndGet(): Unit
        }
      }
      overlay.clear()
    }

    /** Counted point-update of the i-th aggregate's value map; returns
      * (entryCreated, entryRemoved). An unknown retraction is ignored —
      * the same malformed-changelog tolerance as the join port. */
    private def mapUpd(i: Int, enc: String, sign: Int, raw: String)
        : (Boolean, Boolean) = {
      val k = s"$i|$enc"
      val (c0, _, existed) = ovGet(k)
      if (c0 <= 0L && sign < 0) return (false, false)
      val c = c0 + sign
      overlay.put(k, (c, raw, existed))
      if (c <= 0L) (false, c0 > 0L)
      else (c0 <= 0L, false)
    }

    /** Walk the i-th aggregate's entries to find the extreme after its
      * previous one was fully retracted — Flink's recompute-on-retract
      * repair (MinWithRetractAggFunction.java:120). */
    private def rescan(i: Int, wantMax: Boolean): String = {
      val prefix = s"$i|"
      var best: String = null
      vals.iterator().foreach { case (k, _) =>
        AggStateStats.extremeScans.incrementAndGet()
        if (k.startsWith(prefix)) {
          val enc = k.substring(prefix.length)
          if (best == null || (if (wantMax) enc > best else enc < best))
            best = enc
        }
      }
      if (best == null) "" else "=" + best
    }

    /** Render the aggregate output row from (rowCount, slots). A dirty
      * MIN/MAX slot ("?" — extreme fully retracted this batch) repairs
      * itself here via [[rescan]]; persisted slots are never dirty, so
      * pre-batch renders (the retract pair's UPDATE_BEFORE) read pure. */
    private def renderOuts(rowCount: Long, slots: Array[String],
        live: Boolean): Seq[Option[String]] =
      specs.zipWithIndex.map { case (sp, i) =>
        sp.kind match {
          case "count_star" => Some(rowCount.toString)
          case "count" | "count_distinct" => Some(slots(i))
          case "sum_long" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None else Some(s0)
          case "sum_dec" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None else Some(s0)
          case "sum_double" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None
            else Some(java.lang.Double.longBitsToDouble(s0.toLong).toString)
          case "avg_long" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None
            else Some((s0.toLong.toDouble / n0.toLong).toString)
          case "avg_dec" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None
            else Some((new java.math.BigDecimal(s0).doubleValue()
              / n0.toLong).toString)
          case "avg_double" =>
            val (s0, n0) = splitPair(slots(i))
            if (n0.toLong == 0L) None
            else Some((java.lang.Double.longBitsToDouble(s0.toLong)
              / n0.toLong).toString)
          case "min" | "max" =>
            if (!live) None
            else {
              if (slots(i) == "?")
                slots(i) = rescan(i, wantMax = sp.kind == "max")
              if (slots(i).isEmpty) None
              else Some(vals.getValue(s"$i|${slots(i).substring(1)}")._2)
            }
        }
      }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Int, Seq[Option[String]], Seq[Option[String]])],
        tv: TimerValues): Iterator[(String, String, Seq[Option[String]])] = {
      if (overlay == null)
        overlay = new java.util.HashMap[String, (Long, String, Boolean)]()
      val existedBefore = acc.exists()
      var rowCount = if (existedBefore) acc.get()._1 else 0L
      val slots: Array[String] =
        if (existedBefore) acc.get()._2.toArray
        else specs.map(s => zeroAcc(s.kind)).toArray
      // retract mode: the pair's UPDATE_BEFORE is the pre-batch render —
      // taken now, before any map entry mutates (GroupAggFunction emits
      // UPDATE_BEFORE from the accumulator's previous value the same way)
      val oldOuts: Seq[Option[String]] =
        if (emitRetracts && existedBefore)
          renderOuts(rowCount, slots.clone(), live = true)
        else null

      rows.foreach { case (_, sign, raws, sorts) =>
        rowCount += sign
        var i = 0
        while (i < specs.length) {
          val kind = specs(i).kind
          val raw = raws(i)
          kind match {
            case "count_star" => ()
            case "count" =>
              if (raw.isDefined) slots(i) = (slots(i).toLong + sign).toString
            case "count_distinct" =>
              raw.foreach { v =>
                val (created, removed) = mapUpd(i, v, sign, v)
                if (created) slots(i) = (slots(i).toLong + 1).toString
                else if (removed) slots(i) = (slots(i).toLong - 1).toString
              }
            case "sum_long" | "avg_long" =>
              raw.foreach { v =>
                val (s0, n0) = splitPair(slots(i))
                slots(i) = (s0.toLong + sign * v.toLong).toString + "," +
                  (n0.toLong + sign).toString
              }
            case "sum_dec" | "avg_dec" =>
              raw.foreach { v =>
                val (s0, n0) = splitPair(slots(i))
                val d = new java.math.BigDecimal(v)
                  .multiply(java.math.BigDecimal.valueOf(sign.toLong))
                slots(i) = new java.math.BigDecimal(s0).add(d).toPlainString +
                  "," + (n0.toLong + sign).toString
              }
            case "sum_double" | "avg_double" =>
              raw.foreach { v =>
                val (s0, n0) = splitPair(slots(i))
                val s1 = java.lang.Double.longBitsToDouble(s0.toLong) +
                  sign * v.toDouble
                slots(i) = java.lang.Double.doubleToLongBits(s1).toString +
                  "," + (n0.toLong + sign).toString
              }
            case "min" | "max" =>
              raw.foreach { v =>
                val enc = sorts(i).get
                val (_, removed) = mapUpd(i, enc, sign, v)
                val wantMax = kind == "max"
                val cur = slots(i)
                if (sign > 0) {
                  if (cur.isEmpty ||
                      (cur.startsWith("=") && {
                        val c = cur.substring(1)
                        if (wantMax) enc > c else enc < c
                      })) slots(i) = "=" + enc
                } else if (removed && cur == "=" + enc) slots(i) = "?"
              }
          }
          i += 1
        }
      }

      // a stray retraction with no matching insert is ignored upstream
      // entry-wise (mapUpd); clamp the net count the same way so a
      // malformed changelog can't report a negative group
      if (rowCount < 0L) rowCount = 0L
      val live = rowCount != 0L
      if (!live) {
        // the whole map clears: pending overlay entries never flush
        overlay.clear()
        acc.clear(); vals.clear()
        if (!existedBefore) return Iterator.empty
        // the -D row's payload: retract mode retracts the EXACT previous
        // row; upsert mode's delete payload is never read by a keep-last
        // sink (emptied accumulators render — counts 0, the rest NULL)
      } else flushOverlay() // renderOuts/rescan below read pure state
      val newOuts = renderOuts(rowCount, slots, live)
      if (live) acc.update((rowCount, scala.collection.immutable.ArraySeq
        .unsafeWrapArray(slots)))
      if (!emitRetracts)
        Iterator.single((key, if (live) Cdc.UpdateAfter else Cdc.Delete,
          newOuts))
      else (existedBefore, live) match {
        case (true, true) => Iterator((key, Cdc.UpdateBefore, oldOuts),
          (key, Cdc.UpdateAfter, newOuts))
        case (false, true) => Iterator.single((key, Cdc.Insert, newOuts))
        case (true, false) => Iterator.single((key, Cdc.Delete, oldOuts))
        case _ => Iterator.empty // unreachable: early-returned above
      }
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, String, Seq[Option[String]])] =
      Iterator.empty // no timers: state lives until explicitly retracted
  }

  private val eIn =
    Encoders.product[(String, Int, Seq[Option[String]], Seq[Option[String]])]
  private val eOut = Encoders.product[(String, String, Seq[Option[String]])]
  // state encoders, resolved ONCE per JVM (see GroupAggProc.init)
  private val eAcc = Encoders.product[(Long, Seq[String])]
  private val eValsV = Encoders.product[(Long, String)]
  private val eStr = Encoders.STRING

  /** One retraction-consuming group aggregate over a keyed changelog of
    * pre-rendered aggregate arguments; output rows are (group key,
    * row kind, rendered values). Runs the TWS operator in APPEND mode
    * (the emission is a changelog delta stream), which is what lets it
    * chain DOWNSTREAM of the join port and of ChangelogNormalize in one
    * continuous statement. Requires the RocksDB state store provider,
    * like every transformWithState operator.
    *
    * `emitRetracts` selects the emission encoding (the reference's
    * generateUpdateBefore planner flag on StreamExecGroupAggregate):
    *   - false (UPSERT): ONE row per touched group per batch — +U with
    *     the refreshed values while the group lives, -D when it empties.
    *     What a keyed upsert sink consumes.
    *   - true (RETRACT): exact pairs — +I on group birth, -U(previous) /
    *     +U(current) on refresh, -D(previous) on death. What a
    *     DOWNSTREAM retraction-consuming operator (rank, join, another
    *     aggregate) requires, since it must retract the exact prior row. */
  def groupAggChangelog(
      input: Dataset[(String, Int, Seq[Option[String]], Seq[Option[String]])],
      specs: Seq[AggSpec], emitRetracts: Boolean = false)
      : Dataset[(String, String, Seq[Option[String]])] = {
    implicit val ein: Encoder[(String, Int, Seq[Option[String]], Seq[Option[String]])] = eIn
    implicit val eout: Encoder[(String, String, Seq[Option[String]])] = eOut
    input.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new GroupAggProc(specs, emitRetracts),
        TimeMode.None(), OutputMode.Append(), eOut)
  }
}
