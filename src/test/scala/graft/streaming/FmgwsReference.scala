package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.collection.mutable

/** Test-only flatMapGroupsWithState references for the operators whose
  * single implementation is a transformWithState processor: the
  * retractable top-N ([[RetractTws]]), the four changelog stream joins
  * ([[StreamJoinTws]]) and the event-time OVER pass ([[StatefulTws]]).
  * Each body is the GroupState fold that used to ship beside the port,
  * kept verbatim so the equality specs (RetractTwsSpec,
  * StreamJoinTwsSpec, StatefulTwsSpec, StreamingSpec) still replay every
  * script against an independent implementation on the default state
  * store provider. */
object FmgwsReference {
  import Cdc.{Delete, Insert, UpdateAfter}
  import Retract.{isAdd, isRetract}

  /** Retractable top-N per key over a changelog of
    * (key, row_kind, score, payload), with an explicit DOWNSTREAM
    * CHANGELOG. A retraction (-U/-D) removes one matching (score,
    * payload) instance from a counted multiset; the emit is the
    * full RetractableTopNFunction contract
    * (rank/RetractableTopNFunction.java:56 emits updates AND deletes so
    * a sink keyed by (key, rank) stays exact): whenever a key's top-N
    * changes, the refreshed ranks emit as ("+U", key, rank, score,
    * payload) and ranks the refreshed top no longer covers (the top
    * SHRANK — a retraction below N with nothing to backfill) emit
    * ("-D", key, rank, oldScore, oldPayload). Feeding an upsert sink
    * keyed by (key, rank) therefore always materializes to exactly the
    * current top-N. */
  def retractableTopNChangelog[K: Encoder](
      ds: Dataset[(K, String, Double, String)], n: Int)(
      implicit e1: Encoder[Seq[(Double, String, Int)]],
      e2: Encoder[(String, K, Int, Double, String)])
      : Dataset[(String, K, Int, Double, String)] = {
    def topOf(live: Iterable[(Double, String, Int)]): Seq[(Double, String)] =
      live.toSeq.sortBy { case (score, payload, _) => (-score, payload) }
        .iterator.flatMap { case (s, p, c) => Iterator.fill(c)((s, p)) }
        .take(n).toSeq

    def update(key: K, rows: Iterator[(K, String, Double, String)],
        state: GroupState[Seq[(Double, String, Int)]])
        : Iterator[(String, K, Int, Double, String)] = {
      val before = state.getOption.getOrElse(Seq.empty)
      val live = scala.collection.mutable.LinkedHashMap.from(
        before.map { case (s, p, c) => ((s, p), c) })
      rows.foreach { case (_, kind, score, payload) =>
        if (isAdd(kind))
          live.updateWith((score, payload))(c => Some(c.getOrElse(0) + 1))
        else if (isRetract(kind)) live.get((score, payload)).foreach { c =>
          if (c == 1) live.remove((score, payload))
          else live.update((score, payload), c - 1)
        }
      }
      val after = live.toSeq.map { case ((s, p), c) => (s, p, c) }
      if (after.isEmpty) state.remove() else state.update(after)
      val (oldTop, newTop) = (topOf(before), topOf(after))
      if (newTop == oldTop) Iterator.empty
      else {
        val refreshed = newTop.iterator.zipWithIndex.collect {
          case ((score, payload), i)
              if oldTop.lift(i) != Some((score, payload)) =>
            (UpdateAfter, key, i + 1, score, payload)
        }
        val shrunk = oldTop.iterator.zipWithIndex.drop(newTop.size).map {
          case ((score, payload), i) => (Delete, key, i + 1, score, payload)
        }
        refreshed ++ shrunk
      }
    }

    // APPEND mode: the emitted rows are changelog DELTAS (+U/-D), not
    // keyed updates — and append is what lets this operator CHAIN
    // downstream of ChangelogNormalize (Spark allows multiple
    // flatMapGroupsWithState only when all run in append mode)
    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Shared four-way join core. `padLeft` = emit (l, NULL) rows while a
    * left row has no match (left/full outer); `padRight` symmetric. */
  private def processKey[K, L, R](
      key: K,
      rows: Iterator[(Int, K, String, Option[L], Option[R])],
      state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])],
      padLeft: Boolean,
      padRight: Boolean): Iterator[(K, String, Option[L], Option[R])] = {

    val st = state.getOption.getOrElse((Seq.empty[(L, Int)], Seq.empty[(R, Int)]))
    val liveL = mutable.LinkedHashMap.from(st._1)
    val liveR = mutable.LinkedHashMap.from(st._2)
    var totalL = st._1.iterator.map(_._2).sum
    var totalR = st._2.iterator.map(_._2).sum
    val out = List.newBuilder[(K, String, Option[L], Option[R])]
    def emit(kind: String, l: Option[L], r: Option[R], times: Int): Unit =
      (0 until times).foreach(_ => out += ((key, kind, l, r)))

    rows.foreach { case (side, _, kind, lOpt, rOpt) =>
      if (side == 0) {
        val l = lOpt.get
        if (isAdd(kind)) {
          if (totalR == 0) { if (padLeft) emit(Insert, Some(l), None, 1) }
          else liveR.foreach { case (r, c) => emit(Insert, Some(l), Some(r), c) }
          // first left row of the key: right-side pads become matched rows
          if (padRight && totalL == 0)
            liveR.foreach { case (r, c) => emit(Delete, None, Some(r), c) }
          liveL.updateWith(l) { c => Some(c.getOrElse(0) + 1) }
          totalL += 1
        } else liveL.get(l).foreach { c =>
          if (c == 1) liveL.remove(l) else liveL.update(l, c - 1)
          totalL -= 1
          if (totalR == 0) { if (padLeft) emit(Delete, Some(l), None, 1) }
          else liveR.foreach { case (r, cr) => emit(Delete, Some(l), Some(r), cr) }
          // last left row gone: right rows fall back to pads
          if (padRight && totalL == 0)
            liveR.foreach { case (r, cr) => emit(Insert, None, Some(r), cr) }
        }
      } else {
        val r = rOpt.get
        if (isAdd(kind)) {
          if (totalL == 0) { if (padRight) emit(Insert, None, Some(r), 1) }
          else liveL.foreach { case (l, c) => emit(Insert, Some(l), Some(r), c) }
          if (padLeft && totalR == 0)
            liveL.foreach { case (l, c) => emit(Delete, Some(l), None, c) }
          liveR.updateWith(r) { c => Some(c.getOrElse(0) + 1) }
          totalR += 1
        } else liveR.get(r).foreach { c =>
          if (c == 1) liveR.remove(r) else liveR.update(r, c - 1)
          totalR -= 1
          if (totalL == 0) { if (padRight) emit(Delete, None, Some(r), 1) }
          else liveL.foreach { case (l, cl) => emit(Delete, Some(l), Some(r), cl) }
          if (padLeft && totalR == 0)
            liveL.foreach { case (l, cl) => emit(Insert, Some(l), None, cl) }
        }
      }
    }
    if (liveL.isEmpty && liveR.isEmpty) state.remove()
    else state.update((liveL.toSeq, liveR.toSeq))
    out.result().iterator
  }

  /** Inner join of two keyed changelogs. Input rows: (key, row_kind,
    * payload). Output rows: (key, row_kind, leftPayload, rightPayload)
    * with row_kind in {+I, -D}. Net changelog identical to
    * [[StreamJoinTws.innerJoinChangelog]]; per-batch emission ORDER may differ
    * (MapState iteration order is store-defined). */
  def innerJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      es: Encoder[(Seq[(L, Int)], Seq[(R, Int)])],
      eo: Encoder[(K, String, L, R)]): Dataset[(K, String, L, R)] = {
    StreamJoinTws.tagged(left, right).groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(Int, K, String, Option[L], Option[R])],
            state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])]) =>
          processKey(key, rows, state, padLeft = false, padRight = false)
            .map { case (k, kind, l, r) => (k, kind, l.get, r.get) }
      }
  }

  /** LEFT OUTER join: output rows (key, row_kind, leftPayload,
    * Option(rightPayload)). */
  def leftOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      es: Encoder[(Seq[(L, Int)], Seq[(R, Int)])],
      eo: Encoder[(K, String, L, Option[R])]): Dataset[(K, String, L, Option[R])] = {
    StreamJoinTws.tagged(left, right).groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(Int, K, String, Option[L], Option[R])],
            state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])]) =>
          processKey(key, rows, state, padLeft = true, padRight = false)
            .map { case (k, kind, l, r) => (k, kind, l.get, r) }
      }
  }

  /** RIGHT OUTER join: output rows (key, row_kind, Option(leftPayload),
    * rightPayload). */
  def rightOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      emid: Encoder[(K, String, Option[L], Option[R])],
      es: Encoder[(Seq[(L, Int)], Seq[(R, Int)])],
      eo: Encoder[(K, String, Option[L], R)]): Dataset[(K, String, Option[L], R)] = {
    StreamJoinTws.tagged(left, right).groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(Int, K, String, Option[L], Option[R])],
            state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])]) =>
          processKey(key, rows, state, padLeft = false, padRight = true)
            .map { case (k, kind, l, r) => (k, kind, l, r.get) }
      }
  }

  /** FULL OUTER join: output rows (key, row_kind, Option(leftPayload),
    * Option(rightPayload)) — pads on both sides, each retracted the moment
    * the row gains its first match and restored when it loses its last. */
  def fullOuterJoin[K, L, R](
      left: Dataset[(K, String, L)], right: Dataset[(K, String, R)])(
      implicit ek: Encoder[K], el: Encoder[L], er: Encoder[R],
      etag: Encoder[(Int, K, String, Option[L], Option[R])],
      es: Encoder[(Seq[(L, Int)], Seq[(R, Int)])],
      eo: Encoder[(K, String, Option[L], Option[R])]): Dataset[(K, String, Option[L], Option[R])] = {
    StreamJoinTws.tagged(left, right).groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: K, rows: Iterator[(Int, K, String, Option[L], Option[R])],
            state: GroupState[(Seq[(L, Int)], Seq[(R, Int)])]) =>
          processKey(key, rows, state, padLeft = true, padRight = true)
      }
  }

  /** Event-time streaming OVER as the flatMapGroupsWithState fused pass
    * StreamOverSql used to lower a single-spec statement onto — the
    * independent body the OVER equality specs (StatefulTwsSpec,
    * StreamingSpec) replay every script against; the shipped body is
    * [[StatefulTws.overMultiAggsChained]]. Each row, released in
    * event-time order, is annotated with a value VECTOR's per-slot
    * aggregates — slot i reduces with ops(i)
    * over frames(i) (`ops = null` means all-Sum) — so one stateful pass
    * serves several OVER items, with different windows too (Slots.Multi;
    * the reference chains one operator per window instead —
    * StreamExecOverAggregate.java). A SUM is a value slot, COUNT an
    * indicator slot, AVG a sum slot divided by a count slot downstream.
    * Each frame is one of Flink's
    * RowTime{Rows,Range}{Unbounded,Bounded}PrecedingFunction family:
    * `Unbounded` the running aggregate, `Rows(n)` the last n rows
    * (RowTimeRowsBoundedPrecedingFunction.java:56), `Range(ms)` the rows
    * with t in [cur - ms, cur], `UnboundedRange` SQL's default frame; in
    * both RANGE frames rowtime peers share one value. NaN encodes a NULL
    * input — skipped by every op (SQL NULL-ignoring aggregates); an
    * all-NaN frame reduces to NaN. Rows release once the watermark passes
    * them and late rows drop; the unbounded frames keep a permanent
    * accumulator, the bounded ones O(pending + frame) state. */
  def overMultiAggsByKey[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Seq[Double])],
      frames: IndexedSeq[StatefulOps.OverFrame], ops: IndexedSeq[StatefulOps.SlotOp])(
      implicit e1: Encoder[(Seq[(Long, Seq[Double])], Seq[Double], Seq[(Long, Seq[Double])])],
      e2: Encoder[(K, Long, Seq[Double], Seq[Double])])
      : Dataset[(K, Long, Seq[Double], Seq[Double])] = {
    require(frames != null && frames.nonEmpty, "overMultiAggsByKey: no frames")
    require(ops == null || ops.length == frames.length,
      s"overMultiAggsByKey: ${frames.length} frames but ${ops.length} ops")

    // tie order, peer sharing, per-slot frames and NULL-skip live in ONE
    // place (Slots.Multi) shared with the chained TWS pass — see its
    // scaladoc.
    // RANGE frames: rows sharing a rowtime are SQL PEERS — the frame's
    // upper bound is the current row's TIME, so every peer's frame
    // contains all of them and they read ONE shared aggregate (Flink's
    // RowTimeRange{Bounded,Unbounded}PrecedingFunction fires one timer
    // per timestamp and emits the same accumulator to the whole list).
    // Peer groups cannot split across micro-batches: all non-late rows
    // at a timestamp release in the batch where the watermark crossed
    // it, and a same-t row arriving after that is late and dropped.
    val multi = new StatefulOps.Slots.Multi(frames, ops)

    def update(key: K, rows: Iterator[(K, java.sql.Timestamp, Seq[Double])],
        state: GroupState[(Seq[(Long, Seq[Double])], Seq[Double], Seq[(Long, Seq[Double])])])
        : Iterator[(K, Long, Seq[Double], Seq[Double])] = {
      val (pending0, acc0, frame0) = state.getOption.getOrElse(
        (Seq.empty[(Long, Seq[Double])], Seq.empty[Double],
          Seq.empty[(Long, Seq[Double])]))
      val wm = state.getCurrentWatermarkMs()
      val buf = pending0 ++ rows.map { r =>
        require(r._3.length == frames.length,
          s"overMultiAggsByKey: row carries ${r._3.length} slots, frames has ${frames.length}")
        (r._2.getTime, r._3)
      }.filter(_._1 > wm)
      val (ready, pending) = buf.partition(_._1 <= wm)
      // release takes its rows in the total (t, values) order
      val (outRows, acc, frm) =
        multi.release(ready.sortWith(StatefulOps.Slots.tieLess), acc0, frame0)
      val out = outRows.map { case (t, v, sums) => (key, t, v, sums) }
      // the unbounded accumulators are PERMANENT state (Flink's
      // unbounded-preceding functions): a contributing-nothing
      // invocation must not reset them
      val removable =
        if (multi.permanent) state.getOption.isEmpty
        else pending0.isEmpty && frame0.isEmpty
      if (pending.isEmpty && out.isEmpty && removable) {
        if (state.exists) state.remove()
      } else {
        state.update((pending, acc, frm))
        if (pending.nonEmpty)
          state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
      }
      out.iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
