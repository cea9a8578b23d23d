package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Retraction-consuming two-sided stream joins on transformWithState
  * (flink-table-runtime .../join/stream/StreamingJoinOperator.java):
  * both inputs are CHANGELOGS (row_kind +I/-U/+U/-D per
  * graft.streaming.Cdc), the output is the changelog of the join. All
  * four join types are covered:
  *   - inner:       +I left emits +I (l, r) per live right row of the key;
  *                  -D left retracts one live instance and emits -D per
  *                  live right row — symmetrically for the right side;
  *   - left outer:  an unmatched left row emits (+I l, NULL); when its
  *                  first right match arrives the pad is RETRACTED and the
  *                  real join rows emit, and back to the pad when the last
  *                  match retracts (OuterJoinRecordStateView.java:335);
  *   - right outer: the mirror image;
  *   - full outer:  pads on BOTH sides.
  *
  * State per key: each side's live COUNTED multiset as a named
  * `MapState[payload, count]` handle, so a probe touches exactly the
  * entries it reads or writes — Flink's JoinRecordStateView MapState
  * shape (flink-table-runtime/.../join/stream/state/
  * JoinRecordStateViews.java:131) with the same per-entry access
  * asymptotics. Because the join condition is the key itself, every
  * left row of a key matches every live right row, so Flink's per-record
  * association count degenerates to the other side's total live count.
  *
  * Emission order within a micro-batch is store-defined (MapState
  * iteration order); the NET changelog (counts of +I minus -D per joined
  * row) is order-independent — the property the specs pin against a
  * batch join of the end states and against the GroupState reference
  * fold in the test tree.
  *
  * Runtime prerequisite: transformWithState requires the RocksDB state
  * store provider. */
object StreamJoinTws {
  import Cdc.{Delete, Insert}
  import Retract.isAdd

  /** Test-visible state-I/O probe for the inner-join port (the
    * TopNStateStats pattern): pins that applying ONE change is O(1)
    * point writes on its own side's MapState plus an iteration of the
    * OTHER side's live entries — the emission's inherent O(matches)
    * cost (StreamingJoinOperator's otherSideStateView.getRecords) —
    * never a materialization of the row's OWN side. Counters are
    * JVM-wide (local-mode executors share the test JVM). */
  object JoinStateStats {
    val pointWrites = new java.util.concurrent.atomic.AtomicLong
    val otherSideEntriesIterated = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = {
      pointWrites.set(0L)
      otherSideEntriesIterated.set(0L)
    }
  }

  /** Lifts both sides into one tagged row type (side, key, row_kind,
    * leftPayload?, rightPayload?) so one keyed operator sees both. */
  private[streaming] def tagged[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit etag: Encoder[(Int, K, String, Option[L], Option[R])])
      : Dataset[(Int, K, String, Option[L], Option[R])] =
    left.map(r => (0, r._1, r._2, Option(r._3), Option.empty[R]))
      .union(right.map(r => (1, r._1, r._2, Option.empty[L], Option(r._3))))

  // object-level val: processor init runs per task per micro-batch and
  // encoder construction pays globally-locked runtime reflection (see
  // RetractAggTws for the measurement)
  private val eInt = Encoders.scalaInt

  private class InnerJoinProc[K, L, R](encL: Encoder[L], encR: Encoder[R])
      extends StatefulProcessor[K, (Int, K, String, Option[L], Option[R]),
        (K, String, Option[L], Option[R])] {

    @transient private var liveL: MapState[L, Int] = _
    @transient private var liveR: MapState[R, Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      liveL = getHandle.getMapState[L, Int]("liveL", encL, eInt, TTLConfig.NONE)
      liveR = getHandle.getMapState[R, Int]("liveR", encR, eInt, TTLConfig.NONE)
    }

    private def probed[T](it: Iterator[(T, Int)]): Iterator[(T, Int)] =
      it.map { e => JoinStateStats.otherSideEntriesIterated.incrementAndGet(); e }

    override def handleInputRows(key: K,
        rows: Iterator[(Int, K, String, Option[L], Option[R])],
        tv: TimerValues): Iterator[(K, String, Option[L], Option[R])] = {
      val out = List.newBuilder[(K, String, Option[L], Option[R])]
      def emitTimes(kind: String, l: Option[L], r: Option[R], times: Int): Unit =
        (0 until times).foreach(_ => out += ((key, kind, l, r)))

      rows.foreach { case (side, _, kind, lOpt, rOpt) =>
        if (side == 0) {
          val l = lOpt.get
          if (isAdd(kind)) {
            probed(liveR.iterator()).foreach { case (r, c) => emitTimes(Insert, Some(l), Some(r), c) }
            liveL.updateValue(l,
              (if (liveL.containsKey(l)) liveL.getValue(l) else 0) + 1)
            JoinStateStats.pointWrites.incrementAndGet()
          } else if (liveL.containsKey(l)) {
            val c = liveL.getValue(l)
            if (c == 1) liveL.removeKey(l) else liveL.updateValue(l, c - 1)
            JoinStateStats.pointWrites.incrementAndGet()
            probed(liveR.iterator()).foreach { case (r, cr) => emitTimes(Delete, Some(l), Some(r), cr) }
          }
        } else {
          val r = rOpt.get
          if (isAdd(kind)) {
            probed(liveL.iterator()).foreach { case (l, c) => emitTimes(Insert, Some(l), Some(r), c) }
            liveR.updateValue(r,
              (if (liveR.containsKey(r)) liveR.getValue(r) else 0) + 1)
            JoinStateStats.pointWrites.incrementAndGet()
          } else if (liveR.containsKey(r)) {
            val c = liveR.getValue(r)
            if (c == 1) liveR.removeKey(r) else liveR.updateValue(r, c - 1)
            JoinStateStats.pointWrites.incrementAndGet()
            probed(liveL.iterator()).foreach { case (l, cl) => emitTimes(Delete, Some(l), Some(r), cl) }
          }
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(K, String, Option[L], Option[R])] =
      Iterator.empty // no timers: state lives until explicitly retracted
  }

  private val eTagStr =
    Encoders.product[(Int, String, String, Option[String], Option[String])]
  private val eMidStr =
    Encoders.product[(String, String, Option[String], Option[String])]
  private val eOutStr = Encoders.product[(String, String, String, String)]

  /** The SQL front door's inner join: both sides pre-encoded as
    * (joinKey, row_kind, payload) string tuples, output the join's
    * changelog (joinKey, +I/-D, leftPayload, rightPayload) — the
    * continuous-statement form of StreamExecJoin.java:132 →
    * StreamingJoinOperator.java:36 with JoinRecordStateViews.java:230's
    * InputSideHasNoUniqueKey MapState shape per side. Runs the TWS
    * operator in APPEND mode: the emission is a changelog DELTA stream
    * (+I/-D rows), which is what lets the join chain DOWNSTREAM of the
    * fMGWS ChangelogNormalize when a DECLARED UPSERT relation feeds a
    * side (Spark rejects an Update-mode query containing an append-mode
    * flatMapGroupsWithState — the same composition rule the sorted
    * top-N port documents). */
  def innerJoinChangelog(
      left: Dataset[(String, String, String)],
      right: Dataset[(String, String, String)])
      : Dataset[(String, String, String, String)] = {
    implicit val etag: Encoder[(Int, String, String, Option[String], Option[String])] = eTagStr
    implicit val emid: Encoder[(String, String, Option[String], Option[String])] = eMidStr
    tagged(left, right)
      .groupByKey(_._2)(Encoders.STRING)
      .transformWithState(
        new InnerJoinProc[String, String, String](Encoders.STRING, Encoders.STRING),
        TimeMode.None(), OutputMode.Append(), emid)
      .map { t: (String, String, Option[String], Option[String]) =>
        (t._1, t._2, t._3.get, t._4.get)
      }(eOutStr)
  }

  /** The OUTER variants (left/right/full) on the same MapState split,
    * round-7's completion of the port: pad bookkeeping needs each side's
    * total live count BEFORE the current row applies (does this +I left
    * row end the right side's pad era? does this -D left row restore
    * it?). The totals are two named ValueState counters — point-reads —
    * exactly the (joinKey -> count) bookkeeping Flink's
    * OuterJoinRecordStateView adds over the inner view
    * (join/stream/state/OuterJoinRecordStateViews.java:335's association
    * count, degenerated to one integer because the key IS the join
    * condition, see the object scaladoc). */
  private class OuterJoinProc[K, L, R](
      padLeft: Boolean, padRight: Boolean, encL: Encoder[L], encR: Encoder[R])
      extends StatefulProcessor[K, (Int, K, String, Option[L], Option[R]),
        (K, String, Option[L], Option[R])] {

    @transient private var liveL: MapState[L, Int] = _
    @transient private var liveR: MapState[R, Int] = _
    @transient private var totL: ValueState[Int] = _
    @transient private var totR: ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      liveL = getHandle.getMapState[L, Int]("liveL", encL, eInt, TTLConfig.NONE)
      liveR = getHandle.getMapState[R, Int]("liveR", encR, eInt, TTLConfig.NONE)
      totL = getHandle.getValueState[Int]("totL", eInt, TTLConfig.NONE)
      totR = getHandle.getValueState[Int]("totR", eInt, TTLConfig.NONE)
    }

    override def handleInputRows(key: K,
        rows: Iterator[(Int, K, String, Option[L], Option[R])],
        tv: TimerValues): Iterator[(K, String, Option[L], Option[R])] = {
      var tL = if (totL.exists()) totL.get() else 0
      var tR = if (totR.exists()) totR.get() else 0
      val out = List.newBuilder[(K, String, Option[L], Option[R])]
      def emit(kind: String, l: Option[L], r: Option[R], times: Int): Unit =
        (0 until times).foreach(_ => out += ((key, kind, l, r)))

      rows.foreach { case (side, _, kind, lOpt, rOpt) =>
        if (side == 0) {
          val l = lOpt.get
          if (isAdd(kind)) {
            if (tR == 0) { if (padLeft) emit(Insert, Some(l), None, 1) }
            else liveR.iterator().foreach { case (r, c) => emit(Insert, Some(l), Some(r), c) }
            // first left row of the key: right-side pads become matched rows
            if (padRight && tL == 0)
              liveR.iterator().foreach { case (r, c) => emit(Delete, None, Some(r), c) }
            liveL.updateValue(l,
              (if (liveL.containsKey(l)) liveL.getValue(l) else 0) + 1)
            tL += 1
          } else if (liveL.containsKey(l)) {
            val c = liveL.getValue(l)
            if (c == 1) liveL.removeKey(l) else liveL.updateValue(l, c - 1)
            tL -= 1
            if (tR == 0) { if (padLeft) emit(Delete, Some(l), None, 1) }
            else liveR.iterator().foreach { case (r, cr) => emit(Delete, Some(l), Some(r), cr) }
            // last left row gone: right rows fall back to pads
            if (padRight && tL == 0)
              liveR.iterator().foreach { case (r, cr) => emit(Insert, None, Some(r), cr) }
          }
        } else {
          val r = rOpt.get
          if (isAdd(kind)) {
            if (tL == 0) { if (padRight) emit(Insert, None, Some(r), 1) }
            else liveL.iterator().foreach { case (l, c) => emit(Insert, Some(l), Some(r), c) }
            if (padLeft && tR == 0)
              liveL.iterator().foreach { case (l, c) => emit(Delete, Some(l), None, c) }
            liveR.updateValue(r,
              (if (liveR.containsKey(r)) liveR.getValue(r) else 0) + 1)
            tR += 1
          } else if (liveR.containsKey(r)) {
            val c = liveR.getValue(r)
            if (c == 1) liveR.removeKey(r) else liveR.updateValue(r, c - 1)
            tR -= 1
            if (tL == 0) { if (padRight) emit(Delete, None, Some(r), 1) }
            else liveL.iterator().foreach { case (l, cl) => emit(Delete, Some(l), Some(r), cl) }
            if (padLeft && tR == 0)
              liveL.iterator().foreach { case (l, cl) => emit(Insert, Some(l), None, cl) }
          }
        }
      }
      if (tL == 0 && tR == 0) { totL.clear(); totR.clear() }
      else { totL.update(tL); totR.update(tR) }
      out.result().iterator
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(K, String, Option[L], Option[R])] =
      Iterator.empty // no timers: state lives until explicitly retracted
  }

  private def run[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)],
      padLeft: Boolean, padRight: Boolean)(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])])
      : Dataset[(K, String, Option[L], Option[R])] =
    tagged(left, right)
      .groupByKey(_._2)
      .transformWithState(new OuterJoinProc[K, L, R](padLeft, padRight, el, er),
        TimeMode.None(), OutputMode.Update(), emid)

  /** Inner join of two keyed changelogs. Input rows: (key, row_kind,
    * payload). Output rows: (key, row_kind, leftPayload, rightPayload)
    * with row_kind in {+I, -D} (an inner join never emits null payloads,
    * so the internal Options unwrap at the edge). */
  def innerJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      eout: Encoder[(K, String, L, R)])
      : Dataset[(K, String, L, R)] =
    tagged(left, right)
      .groupByKey(_._2)
      .transformWithState(new InnerJoinProc[K, L, R](el, er),
        TimeMode.None(), OutputMode.Update(), emid)
      .map { case (k, kind, l, r) => (k, kind, l.get, r.get) }

  /** The SQL front door's OUTER joins: both sides pre-encoded string
    * tuples like [[innerJoinChangelog]], the padded output carries None
    * on an unmatched side (the sink projects it to NULL columns) —
    * OuterJoinRecordStateViews.java:335's pad bookkeeping (the per-side
    * live-total ValueState counters decide pad-era transitions) run in
    * APPEND mode so the operator chains downstream of
    * ChangelogNormalize exactly like the inner port. */
  def outerJoinChangelog(
      left: Dataset[(String, String, String)],
      right: Dataset[(String, String, String)],
      padLeft: Boolean, padRight: Boolean)
      : Dataset[(String, String, Option[String], Option[String])] = {
    implicit val etag: Encoder[(Int, String, String, Option[String], Option[String])] = eTagStr
    implicit val emid: Encoder[(String, String, Option[String], Option[String])] = eMidStr
    tagged(left, right)
      .groupByKey(_._2)(Encoders.STRING)
      .transformWithState(
        new OuterJoinProc[String, String, String](padLeft, padRight,
          Encoders.STRING, Encoders.STRING),
        TimeMode.None(), OutputMode.Append(), emid)
  }

  /** LEFT OUTER join: output rows (key, row_kind, leftPayload,
    * Option(rightPayload)). */
  def leftOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      eout: Encoder[(K, String, L, Option[R])])
      : Dataset[(K, String, L, Option[R])] =
    run(left, right, padLeft = true, padRight = false)
      .map { case (k, kind, l, r) => (k, kind, l.get, r) }

  /** RIGHT OUTER join: output rows (key, row_kind, Option(leftPayload),
    * rightPayload). */
  def rightOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      eout: Encoder[(K, String, Option[L], R)])
      : Dataset[(K, String, Option[L], R)] =
    run(left, right, padLeft = false, padRight = true)
      .map { case (k, kind, l, r) => (k, kind, l, r.get) }

  /** FULL OUTER join: output rows (key, row_kind, Option(leftPayload),
    * Option(rightPayload)) — pads on both sides. */
  def fullOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])])
      : Dataset[(K, String, Option[L], Option[R])] =
    run(left, right, padLeft = true, padRight = true)

  // ---- ChangelogNormalize FUSED into the join (r16 optimization) -----

  private val eFusedIn =
    Encoders.product[(Int, String, String, String, Long)]
  private val eNorm = Encoders.product[(Long, String, Boolean)]

  /** ChangelogNormalize fused into the join state (optimization guide
    * §2.4 "remove shuffles outright"): when a DECLARED UPSERT side's key
    * equals the join's equi-key, every row of one upsert group lands on
    * exactly ONE join state key, so the normalize keep-last state
    * collapses to a single (seq, payload, live) triple held INSIDE the
    * join processor — one state boundary (one keyed exchange + one
    * state-store commit per micro-batch) instead of the chained
    * normalize -> join pair. Flink's planner reuses the distribution the
    * same way when the upsert key equals the join key; here the operator
    * owns the keep-last fold itself.
    *
    * NET-changelog equality with normalizeUpsert -> join holds by
    * construction: the keep-last fold is confluent — the surviving image
    * per key is the max-seq row, stale rows drop, and intermediate
    * emission pairs cancel — and the join emissions per derived delta
    * are exactly Inner/OuterJoinProc's (spec-pinned net-equal in
    * StreamJoinTwsSpec). An upsert side needs no payload multiset: its
    * live image IS the one (payload, 1) entry the other side iterates.
    *
    * Input rows: (side 0|1, joinKey, kind, payload, seq). A retract-mode
    * side sends its row_kind with seq 0; an upsert-mode side sends RAW
    * upsert rows (any add kind = newest image, -D = delete) with its
    * declared order column as seq. */
  private class FusedJoinProc(padLeft: Boolean, padRight: Boolean,
      upsertL: Boolean, upsertR: Boolean)
      extends StatefulProcessor[String, (Int, String, String, String, Long),
        (String, String, Option[String], Option[String])] {

    @transient private var liveL: MapState[String, Int] = _
    @transient private var liveR: MapState[String, Int] = _
    @transient private var totL: ValueState[Int] = _
    @transient private var totR: ValueState[Int] = _
    @transient private var normL: ValueState[(Long, String, Boolean)] = _
    @transient private var normR: ValueState[(Long, String, Boolean)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      if (upsertL)
        normL = getHandle.getValueState("normL", eNorm, TTLConfig.NONE)
      else {
        liveL = getHandle.getMapState[String, Int]("liveL",
          Encoders.STRING, eInt, TTLConfig.NONE)
        // own-side live total is only consulted for the OTHER side's pad
        // transitions; an upsert side derives it from its norm state
        if (padRight)
          totL = getHandle.getValueState[Int]("totL", eInt, TTLConfig.NONE)
      }
      if (upsertR)
        normR = getHandle.getValueState("normR", eNorm, TTLConfig.NONE)
      else {
        liveR = getHandle.getMapState[String, Int]("liveR",
          Encoders.STRING, eInt, TTLConfig.NONE)
        if (padLeft)
          totR = getHandle.getValueState[Int]("totR", eInt, TTLConfig.NONE)
      }
    }

    override def handleInputRows(key: String,
        rows: Iterator[(Int, String, String, String, Long)],
        tv: TimerValues): Iterator[(String, String, Option[String], Option[String])] = {
      val out = List.newBuilder[(String, String, Option[String], Option[String])]
      def emit(kind: String, l: Option[String], r: Option[String],
          times: Int): Unit =
        (0 until times).foreach(_ => out += ((key, kind, l, r)))

      var nL: Option[(Long, String, Boolean)] =
        if (upsertL && normL.exists()) Some(normL.get()) else None
      var nR: Option[(Long, String, Boolean)] =
        if (upsertR && normR.exists()) Some(normR.get()) else None
      var nLTouched = false
      var nRTouched = false
      var tL: Int =
        if (upsertL) nL.count(_._3)
        else if (padRight) { if (totL.exists()) totL.get() else 0 }
        else 0
      var tR: Int =
        if (upsertR) nR.count(_._3)
        else if (padLeft) { if (totR.exists()) totR.get() else 0 }
        else 0
      val (tL0, tR0) = (tL, tR)

      def liveEntries(side: Int): Iterator[(String, Int)] =
        if (side == 0) {
          if (upsertL) nL.iterator.collect { case (_, p, true) => (p, 1) }
          else liveL.iterator()
        } else {
          if (upsertR) nR.iterator.collect { case (_, p, true) => (p, 1) }
          else liveR.iterator()
        }

      // apply ONE retract-delta on `side` — the emission sequence is
      // exactly Inner/OuterJoinProc's (matches-or-pad, then the other
      // side's pad-era transition, around the own-side state update)
      def applyDelta(side: Int, add: Boolean, p: String): Unit = {
        val padSelf = if (side == 0) padLeft else padRight
        val padOther = if (side == 0) padRight else padLeft
        val other = 1 - side
        def sided(self: Option[String], oth: Option[String]) =
          if (side == 0) (self, oth) else (oth, self)
        if (add) {
          var any = false
          liveEntries(other).foreach { case (o, c) =>
            any = true
            val (l, r) = sided(Some(p), Some(o)); emit(Insert, l, r, c)
          }
          if (!any && padSelf) {
            val (l, r) = sided(Some(p), None); emit(Insert, l, r, 1)
          }
          if (padOther && (if (side == 0) tL else tR) == 0)
            liveEntries(other).foreach { case (o, c) =>
              val (l, r) = sided(None, Some(o)); emit(Delete, l, r, c)
            }
          if (side == 0) {
            if (!upsertL) liveL.updateValue(p,
              (if (liveL.containsKey(p)) liveL.getValue(p) else 0) + 1)
            tL += 1
          } else {
            if (!upsertR) liveR.updateValue(p,
              (if (liveR.containsKey(p)) liveR.getValue(p) else 0) + 1)
            tR += 1
          }
        } else {
          // upsert-derived deltas always retract a live image; retract
          // sides ignore no-op retractions of absent rows
          val present =
            if (side == 0) upsertL || liveL.containsKey(p)
            else upsertR || liveR.containsKey(p)
          if (present) {
            if (side == 0) {
              if (!upsertL) {
                val c = liveL.getValue(p)
                if (c == 1) liveL.removeKey(p) else liveL.updateValue(p, c - 1)
              }
              tL -= 1
            } else {
              if (!upsertR) {
                val c = liveR.getValue(p)
                if (c == 1) liveR.removeKey(p) else liveR.updateValue(p, c - 1)
              }
              tR -= 1
            }
            var any = false
            liveEntries(other).foreach { case (o, c) =>
              any = true
              val (l, r) = sided(Some(p), Some(o)); emit(Delete, l, r, c)
            }
            if (!any && padSelf) {
              val (l, r) = sided(Some(p), None); emit(Delete, l, r, 1)
            }
            if (padOther && (if (side == 0) tL else tR) == 0)
              liveEntries(other).foreach { case (o, c) =>
                val (l, r) = sided(None, Some(o)); emit(Insert, l, r, c)
              }
          }
        }
      }

      // the normalizeUpsert transition table, folded on the fly: newest
      // seq wins (stale rows drop), delete keeps a (seq, image, false)
      // tombstone, a delete of an absent key records nothing
      def applyUpsert(side: Int, kind: String, p: String, seq: Long): Unit = {
        val cur = if (side == 0) nL else nR
        if (cur.exists(_._1 > seq)) return
        val isDelete = kind == Delete
        val next: Option[(Long, String, Boolean)] = cur match {
          case Some((_, prev, true)) if isDelete =>
            applyDelta(side, add = false, prev)
            Some((seq, prev, false))
          case Some((_, prev, true)) =>
            if (prev != p) {
              applyDelta(side, add = false, prev)
              applyDelta(side, add = true, p)
            }
            Some((seq, p, true))
          case other if isDelete =>
            other.map { case (_, pp, _) => (seq, pp, false) }
          case _ =>
            applyDelta(side, add = true, p)
            Some((seq, p, true))
        }
        if (side == 0) { nL = next; nLTouched = true }
        else { nR = next; nRTouched = true }
      }

      rows.foreach { case (side, _, kind, payload, seq) =>
        if (if (side == 0) upsertL else upsertR)
          applyUpsert(side, kind, payload, seq)
        else applyDelta(side, isAdd(kind), payload)
      }

      if (nLTouched) nL.foreach(normL.update)
      if (nRTouched) nR.foreach(normR.update)
      if (!upsertL && padRight && tL != tL0) {
        if (tL == 0) totL.clear() else totL.update(tL)
      }
      if (!upsertR && padLeft && tR != tR0) {
        if (tR == 0) totR.clear() else totR.update(tR)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, String, Option[String], Option[String])] =
      Iterator.empty // no timers: state lives until explicitly retracted
  }

  /** The SQL front door's FUSED normalize+join port: `tagged` carries
    * both sides pre-encoded as (side, joinKey, kind, payload, seq) rows
    * — see [[FusedJoinProc]]. `upsertL`/`upsertR` mark which side(s)
    * arrive as raw upsert streams (key = join key) and normalize
    * in-state; pad flags select the join type exactly like the chained
    * ports. APPEND mode: the emission is the join's +I/-D delta
    * changelog. */
  def fusedJoinChangelog(
      tagged: Dataset[(Int, String, String, String, Long)],
      padLeft: Boolean, padRight: Boolean,
      upsertL: Boolean, upsertR: Boolean)
      : Dataset[(String, String, Option[String], Option[String])] = {
    implicit val emid: Encoder[(String, String, Option[String], Option[String])] = eMidStr
    tagged.groupByKey(_._2)(Encoders.STRING)
      .transformWithState(
        new FusedJoinProc(padLeft, padRight, upsertL, upsertR),
        TimeMode.None(), OutputMode.Append(), emid)
  }

  /** Encoder for [[fusedJoinChangelog]]'s tagged input rows — exposed so
    * the front door builds both sides without re-deriving it. */
  def fusedInputEncoder: Encoder[(Int, String, String, String, Long)] = eFusedIn
}
