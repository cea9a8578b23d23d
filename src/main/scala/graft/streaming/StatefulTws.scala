package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** The event-time streaming OVER pass on transformWithState — the one
  * body of every event-time OVER. `StreamOverSql` chains one pass per
  * distinct PARTITION BY; a statement with one spec is a chain of length
  * one. The pass declares an event-time OUTPUT column so a further pass
  * can consume it as watermarked input, and delegates the release loop
  * to `StatefulOps.Slots.Multi`, so frame semantics are defined once.
  *
  * State is the WATERMARK-RELEASE BUFFER (reference flink-table-runtime
  * RowTimeRowsBoundedPrecedingFunction.java:56): rows wait in a named
  * `ListState` with a `minPending` ValueState watermark gate until the
  * watermark passes them, then release in (t, values, composite) order.
  * A batch that releases nothing is `appendValue` point-writes only —
  * the list is never read, Flink's exact elementQueueState access
  * pattern; the full read + rewrite happens only when the watermark
  * actually passed the earliest buffered row. One live timer per key,
  * re-armed at the earliest pending release time, so expiry fires the
  * flush even when the key sees no further traffic.
  *
  * Runtime prerequisite: transformWithState requires the RocksDB state
  * store provider; every continuous INSERT whose plan runs this pass
  * starts under it (`ChangelogSql.startStream`). */
object StatefulTws {

  // object-level vals: processor init runs per task per micro-batch and
  // encoder construction pays globally-locked runtime reflection (see
  // RetractAggTws for the measurement)
  private val eLong = Encoders.scalaLong
  private val eVecRow = Encoders.product[(Long, Seq[Double])]
  private val eVecBox = Encoders.product[Tuple1[Seq[Double]]]
  private val eChainRow = Encoders.product[(Long, String, Seq[Double])]

  /** Single-timer discipline: drop whatever is armed and re-register at
    * `at` (clamped above the watermark, the same clamp the fMGWS
    * event-time operators apply).
    *
    * The timer sits AT the earliest pending rowtime, so a row releases in
    * the first batch whose watermark reaches it. Every row a batch
    * releases is therefore newer than the previous batch's watermark —
    * what Spark requires of an operator with an event-time output column
    * (a row at or below it fails the query with
    * EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED). A timer one past
    * the rowtime — flatMapGroupsWithState's strictly-exceeds timeout —
    * would hold a row whose rowtime equals a batch's watermark to the
    * next batch, and that batch would fail. Release timing may differ
    * from the fMGWS reference by a batch; the released rows do not. */
  private def rearm(h: StatefulProcessorHandle, at: Option[Long], wm: Long): Unit = {
    h.listTimers().foreach(t => h.deleteTimer(t.asInstanceOf[Long]))
    at.foreach(t => h.registerTimer(math.max(t, wm + 1)))
  }

  /** One pass of the CHAINED multi-spec pipeline: rows carry a
    * COMPOSITE row key (all partition columns) distinct from the group
    * key, the buffer retains it through the watermark wait, and outputs
    * re-emit it with a TIMESTAMP column so a further pass can consume the
    * stream as event-time input. Release order ties on (t, values) extend
    * to the composite — a total, deterministic order; rows with identical
    * (t, values) are interchangeable w.r.t. every frame, so attaching
    * composites positionally to the shared release loop's outputs is
    * exact. */
  private class OverAggsChainProc(frames: IndexedSeq[StatefulOps.OverFrame],
      ops: IndexedSeq[StatefulOps.SlotOp], dropLate: Boolean)
      extends StatefulProcessor[String,
        (String, String, java.sql.Timestamp, Seq[Double]),
        (String, java.sql.Timestamp, Seq[Double], Seq[Double])] {

    @transient private var pending: ListState[(Long, String, Seq[Double])] = _
    @transient private var frm: ListState[(Long, Seq[Double])] = _
    @transient private var acc: ValueState[Tuple1[Seq[Double]]] = _
    @transient private var minPending: ValueState[Long] = _

    private val multi = new StatefulOps.Slots.Multi(frames, ops)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending = getHandle.getListState("pending", eChainRow, TTLConfig.NONE)
      frm = getHandle.getListState("frame", eVecRow, TTLConfig.NONE)
      acc = getHandle.getValueState("acc", eVecBox, TTLConfig.NONE)
      minPending = getHandle.getValueState("minPending", eLong, TTLConfig.NONE)
    }

    private def flush(fresh: Seq[(Long, String, Seq[Double])], wm: Long)
        : Iterator[(String, java.sql.Timestamp, Seq[Double], Seq[Double])] = {
      val curMin = if (minPending.exists()) minPending.get() else Long.MaxValue
      val newMin = fresh.iterator.map(_._1).foldLeft(curMin)(math.min)
      if (newMin > wm) {
        if (fresh.nonEmpty) { fresh.foreach(pending.appendValue); minPending.update(newMin) }
        rearm(getHandle, if (newMin == Long.MaxValue) None else Some(newMin), wm)
        Iterator.empty
      } else {
        val buf = (if (pending.exists()) pending.get().toSeq else Seq.empty) ++ fresh
        val (ready, still) = buf.partition(_._1 <= wm)
        // total release order: the shared comparator on (t, values),
        // composite as the final tiebreak; Multi.release keeps this
        // order, so its k-th output is this k-th row
        val sorted = ready.sortWith { (a, b) =>
          if (StatefulOps.Slots.tieLess((a._1, a._3), (b._1, b._3))) true
          else if (StatefulOps.Slots.tieLess((b._1, b._3), (a._1, a._3))) false
          else a._2 < b._2
        }
        val a0 = if (acc.exists()) acc.get()._1 else Seq.empty[Double]
        val fr0 = if (frm.exists()) frm.get().toSeq else Seq.empty
        val (outRows, a, fr) = multi.release(sorted.map(r => (r._1, r._3)), a0, fr0)
        val out = outRows.zip(sorted).map { case ((t, v, sums), (_, comp, _)) =>
          (comp, new java.sql.Timestamp(t), v, sums)
        }
        if (out.nonEmpty) {
          if (multi.permanent) acc.update(Tuple1(a))
          if (multi.bounded) frm.put(fr.toArray)
        }
        if (still.isEmpty) { pending.clear(); minPending.clear(); rearm(getHandle, None, wm) }
        else {
          val m = still.iterator.map(_._1).min
          pending.put(still.toArray); minPending.update(m)
          rearm(getHandle, Some(m), wm)
        }
        out.iterator
      }
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, String, java.sql.Timestamp, Seq[Double])],
        tv: TimerValues): Iterator[(String, java.sql.Timestamp, Seq[Double], Seq[Double])] = {
      val wm = tv.getCurrentWatermarkInMs()
      // only the FIRST pass of a chain drops late source rows: a
      // downstream pass receives rows the upstream pass just released
      // (t <= the shared watermark BY CONSTRUCTION of watermark release)
      // — they are on time and flush immediately, preserving order
      // because upstream releases are nondecreasing time blocks
      val fresh = rows.map(r => (r._3.getTime, r._2, r._4))
      flush((if (dropLate) fresh.filter(_._1 > wm) else fresh).toSeq, wm)
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, java.sql.Timestamp, Seq[Double], Seq[Double])] =
      flush(Nil, tv.getCurrentWatermarkInMs())
  }

  /** One pass of the CHAINED streaming OVER — the reference chains one
    * StreamExecOverAggregate operator per window spec (different
    * PARTITION BY per spec); here each pass is this operator re-keyed on
    * its spec's partition column. Input rows carry
    * (groupKey, compositeRowKey, rowtime, vector); the output declares
    * its TIMESTAMP column as event time (`transformWithState`'s
    * eventTimeColumnName form), so a further pass consumes it as
    * watermarked input — Spark's multi-stateful-operator watermark
    * propagation lags the downstream operator one batch, which is
    * exactly why rows released AT the current watermark are not late in
    * the next pass. */
  def overMultiAggsChained(
      ds: Dataset[(String, String, java.sql.Timestamp, Seq[Double])],
      frames: IndexedSeq[StatefulOps.OverFrame],
      ops: IndexedSeq[StatefulOps.SlotOp], dropLate: Boolean)(
      implicit eo: Encoder[(String, java.sql.Timestamp, Seq[Double], Seq[Double])])
      : Dataset[(String, java.sql.Timestamp, Seq[Double], Seq[Double])] = {
    require(frames != null && frames.nonEmpty, "overMultiAggsChained: no frames")
    ds.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new OverAggsChainProc(frames, ops, dropLate),
        "_2", OutputMode.Append(), eo)
  }
}
