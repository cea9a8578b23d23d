package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming operators built on
  * KeyValueGroupedDataset.flatMapGroupsWithState — the Spark analog of
  * Flink's KeyedProcessFunction + keyed state (SURVEY.md §2.6, §2.10).
  * These cover the streaming specialties Spark's declarative API lacks:
  * incremental top-N, keep-last changelog normalization, count windows.
  *
  * State is per-key and bounded (top-N buffer of size n, single row,
  * count+buffer of size w) so RocksDB state size is O(keys), not O(rows) —
  * the property that makes them viable on a 1000-executor cluster.
  */
object StatefulOps {

  /** Incremental top-N per key over an append-only stream: on every
    * micro-batch, emits the key's refreshed top-N as (key, rank, score,
    * payload) rows — the update-mode contract of Flink's
    * AppendOnlyTopNFunction (rank/AppendOnlyTopNFunction.java:52).
    * State: the N best (score, payload) pairs per key. */
  def topNPerKey[K: Encoder](
      ds: Dataset[(K, Double, String)], n: Int)(
      implicit e1: Encoder[Seq[(Double, String)]],
      e2: Encoder[(K, Int, Double, String)]): Dataset[(K, Int, Double, String)] = {

    def update(key: K, rows: Iterator[(K, Double, String)],
        state: GroupState[Seq[(Double, String)]]): Iterator[(K, Int, Double, String)] = {
      val prev = state.getOption.getOrElse(Seq.empty)
      val merged = (prev ++ rows.map(r => (r._2, r._3)))
        .sortBy { case (score, payload) => (-score, payload) }
        .take(n)
      state.update(merged)
      // emit-on-change (AppendOnlyTopNFunction's contract, and what every
      // sibling operator here does): a batch whose rows all score below
      // the current cut must not rewrite the unchanged top-N to the sink
      if (merged == prev) Iterator.empty
      else merged.iterator.zipWithIndex.map { case ((score, payload), i) =>
        (key, i + 1, score, payload)
      }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** ChangelogNormalize / keep-last-row per key: emits the key's latest row
    * (by event-time, then tie-break) whenever it changes. Downstream of an
    * upsert source this reconstructs a clean changelog exactly like
    * StreamExecChangelogNormalize. State: one (ts, payload) per key.
    *
    * `ttl` (None = forever) is Flink's state-TTL knob on ChangelogNormalize
    * (table.exec.state.ttl via StateTtlConfig.java, OnCreateAndWrite): a
    * key idle for `ttl` of WALL-CLOCK time drops its state, so an
    * unbounded key universe (e.g. rotating session ids) stops growing
    * state forever. After expiry the next row for the key is treated as
    * fresh — emitted even if it is older than the forgotten winner,
    * exactly the staleness-vs-state trade Flink documents. */
  def keepLastByKey[K: Encoder](
      ds: Dataset[(K, Long, String)],
      ttl: Option[java.time.Duration] = None)(
      implicit e1: Encoder[(Long, String)],
      e2: Encoder[(K, Long, String)]): Dataset[(K, Long, String)] = {

    def update(key: K, rows: Iterator[(K, Long, String)],
        state: GroupState[(Long, String)]): Iterator[(K, Long, String)] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val best = (state.getOption.iterator ++ rows.map(r => (r._2, r._3)))
          .maxBy { case (ts, payload) => (ts, payload) }
        val changed = !state.getOption.contains(best)
        state.update(best)
        // OnCreateAndWrite: every write re-arms the clock
        ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
        if (changed) Iterator((key, best._1, best._2)) else Iterator.empty
      }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** FULL ChangelogNormalize (StreamExecChangelogNormalize /
    * flink-table-runtime deduplicate.ProcTimeDeduplicateKeepLastRowFunction
    * with generateUpdateBefore): turns an UPSERT stream — (key, seq,
    * payload, isDelete) rows where each key's latest row IS its state —
    * into a RETRACT changelog: `+I` on first sight, `-U` old / `+U` new
    * on change, `-D` carrying the last image on delete. This is the
    * stream form of the batch normalization ChangelogSql applies to
    * declared upsert relations; its output feeds any retraction-consuming
    * operator (the aggregate routes, [[RetractTws]]'s top-N, the joins).
    *
    * Rows within a batch fold in `seq` order; a row older than the
    * state's seq is DROPPED (the upsert contract says the newest row
    * wins — replaying an older image would retract forward progress).
    * A delete for an absent key emits nothing. State: one
    * (seq, payload, live) per key, kept for the life of the query. */
  def normalizeUpsert[K: Encoder](
      ds: Dataset[(K, Long, String, Boolean)])(
      implicit e1: Encoder[(Long, String, Boolean)],
      e2: Encoder[(String, K, Long, String)]): Dataset[(String, K, Long, String)] = {

    def update(key: K, rows: Iterator[(K, Long, String, Boolean)],
        state: GroupState[(Long, String, Boolean)]): Iterator[(String, K, Long, String)] = {
      val out = Seq.newBuilder[(String, K, Long, String)]
      var cur = state.getOption
      rows.toSeq.sortBy(_._2).foreach { case (_, seq, payload, isDelete) =>
        if (!cur.exists(_._1 > seq)) {
          cur match {
            case Some((_, prev, true)) if isDelete =>
              out += (("-D", key, seq, prev))
              cur = Some((seq, prev, false))
            case Some((_, prev, true)) =>
              if (prev != payload) {
                out += (("-U", key, seq, prev))
                out += (("+U", key, seq, payload))
              }
              cur = Some((seq, payload, true))
            case _ if isDelete => // delete of an absent key: no-op
              cur = cur.map { case (_, p, _) => (seq, p, false) }
            case _ =>
              out += (("+I", key, seq, payload))
              cur = Some((seq, payload, true))
          }
        }
      }
      cur.foreach(state.update)
      out.result().iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Event-time sort (Flink RowTimeSortOperator: emit rows in event-time
    * order once the watermark passes them). Input must carry a watermark on
    * its timestamp column; buffered rows are released in (time, payload)
    * order once the watermark passes them, later rows stay buffered.
    * Late-data policy (matches RowTimeSortOperator): a row arriving with
    * t <= the current watermark is DROPPED — emitting it would break the
    * event-time-ordered output guarantee, since later timestamps may
    * already have been released. State: the pending buffer per key; an
    * event-time timeout flushes when the watermark advances without new
    * data for the key. */
  def eventTimeSort[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, String)])(
      implicit e1: Encoder[Seq[(Long, String)]],
      e2: Encoder[(K, Long, String)]): Dataset[(K, Long, String)] = {

    def update(key: K, rows: Iterator[(K, java.sql.Timestamp, String)],
        state: GroupState[Seq[(Long, String)]]): Iterator[(K, Long, String)] = {
      val wm = state.getCurrentWatermarkMs()
      val buf = state.getOption.getOrElse(Seq.empty) ++
        rows.map(r => (r._2.getTime, r._3)).filter(_._1 > wm) // drop late
      val (ready, pending) = buf.partition(_._1 <= wm)
      if (pending.isEmpty) state.remove()
      else {
        state.update(pending)
        state.setTimeoutTimestamp(math.max(pending.map(_._1).min, wm + 1))
      }
      ready.sortBy(identity).iterator.map(r => (key, r._1, r._2))
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** OVER frame shapes shared by the event-time pass
    * ([[StatefulTws.overMultiAggsChained]]), the proc-time pass
    * ([[procOverAggsByKey]]) and the SQL lowering (StreamOverSql) — the
    * RowTime{Rows,Range}{Bounded,Unbounded}Preceding family as one
    * parameter. */
  sealed trait OverFrame extends Serializable
  object OverFrame {
    /** Unbounded ROWS frame — row-at-a-time running aggregate. */
    case object Unbounded extends OverFrame
    final case class Rows(n: Int) extends OverFrame
    final case class Range(ms: Long) extends OverFrame
    /** Unbounded RANGE frame — SQL's default; tied rowtimes share. */
    case object UnboundedRange extends OverFrame
  }

  /** Per-slot combine op of the fused OVER pass ([[Slots.Multi]]). A
    * NaN operand means "NULL input" and is skipped by every op — SQL's
    * NULL-ignoring aggregates in slot form; an all-NaN frame reduces to
    * NaN, which the SQL layer reads back as NULL. First/Last fold to the
    * first/latest non-NULL value in frame order — Flink's
    * FIRST_VALUE/LAST_VALUE aggregates (FirstValueAggFunction /
    * LastValueAggFunction: "first/last non-null value"), i.e. IGNORE
    * NULLS semantics. */
  sealed trait SlotOp extends Serializable
  object SlotOp {
    case object Sum extends SlotOp
    case object Min extends SlotOp
    case object Max extends SlotOp
    case object First extends SlotOp
    case object Last extends SlotOp
    /** User-defined aggregate slot ([[OverAgg]]) — not a pairwise
      * combine: bounded frames re-fold the retention buffer through the
      * aggregate, unbounded frames keep its accumulator vector as a
      * REGION of the permanent acc state (appended after the scalar
      * cells), so state stays O(buffer), never O(history). */
    final case class Agg(agg: OverAgg) extends SlotOp
  }

  /** User-defined OVER aggregate: Double input, fixed-width Double
    * vector accumulator, Double result — the engine's analog of the
    * reference's arbitrary per-frame aggregate functions
    * (AggsHandlerCodeGenerator.scala:57 generates handlers whose
    * accumulators are ROWS of fields; here the accumulator is the
    * Double vector those fields flatten to). Inputs arrive through the
    * same NaN-sentinel channel as the built-in slots: a NULL input is
    * NEVER passed to [[reduce]] (SQL NULL-ignoring aggregates), and
    * [[finish]] on a zero (no-input) accumulator must return NaN —
    * read back as SQL NULL. No retract method: bounded frames re-fold
    * rather than retract (the fused pass keeps the frame's rows
    * anyway), which is why arbitrary non-retractable aggregates are
    * admissible here while Flink's OVER needs *WithRetract variants. */
  trait OverAgg extends Serializable {
    /** Accumulator width (number of Double cells). */
    def size: Int
    /** Fresh accumulator (length == size). */
    def zero: Array[Double]
    /** Absorb one non-NULL input, in place. */
    def reduce(buf: Array[Double], x: Double): Unit
    /** Result; NaN = NULL (required for a no-input accumulator). */
    def finish(buf: Array[Double]): Double
  }

  /** [[OverAgg]] with the reference's OPTIONAL retract/merge surface
    * (ImperativeAggregateFunction.java: `retract(ACC, input)` undoes one
    * prior accumulate; `merge(ACC, Iterable[ACC])` folds partial
    * accumulators). A plain OverAgg is admissible in OVER windows only
    * (frames re-fold, so nothing ever needs undoing); a RETRACTABLE one
    * is additionally admissible over changelogs — ChangelogSql lowers
    * registered retractable aggregates with the ±1 sign algebra
    * (retractions call [[retract]]) in batch and in the continuous
    * aggregate routes, exactly where Flink requires the *WithRetract
    * aggregate variants. [[merge]] is what
    * makes the batch lowering DISTRIBUTED: partial accumulators combine
    * map-side before the group exchange. */
  trait RetractableOverAgg extends OverAgg {
    /** Remove one previously-accumulated non-NULL input, in place. */
    def retract(buf: Array[Double], x: Double): Unit
    /** Fold `b` into `a`, in place (partial-aggregate combine). */
    def merge(a: Array[Double], b: Array[Double]): Unit
    /** Absorb one input with multiplicity `w` (negative = retract that
      * many times), in place. The default REPLAYS reduce/retract |w|
      * times — always correct; LINEAR aggregates should override with
      * the O(1) weighted fold (e.g. sum += x*w), which is what the
      * netting path of ChangelogSql hands high-multiplicity netted
      * changelog rows to. */
    def reduceWeighted(buf: Array[Double], x: Double, w: Long): Unit = {
      var n = w
      while (n > 0) { reduce(buf, x); n -= 1 }
      while (n < 0) { retract(buf, x); n += 1 }
    }
  }

  /** Shared slot arithmetic and tie ordering of the OVER passes — ONE
    * definition serving the event-time transformWithState pass
    * (StatefulTws), the proc-time executor and the cumulate window, so
    * the NULL-skip and tie-order semantics cannot drift between them. */
  private[streaming] object Slots {
    def comb(op: SlotOp, x: Double, y: Double): Double =
      if (x.isNaN) y else if (y.isNaN) x
      else op match {
        case SlotOp.Sum => x + y
        case SlotOp.Min => math.min(x, y)
        case SlotOp.Max => math.max(x, y)
        case SlotOp.First => x // fold in frame order: first non-NULL sticks
        case SlotOp.Last => y // latest non-NULL wins
        case SlotOp.Agg(_) => throw new IllegalStateException(
          "OverAgg slots are not pairwise combines — only the fused OVER " +
            "release loop (Slots.Multi) evaluates them")
      }

    /** Elementwise combine; `ops = null` means all-Sum. */
    def plus(ops: IndexedSeq[SlotOp], a: Seq[Double], b: Seq[Double]): Seq[Double] =
      if (a.isEmpty) b
      else {
        require(a.length == b.length,
          s"over slots disagree (${a.length} vs ${b.length})")
        Seq.tabulate(a.length)(i =>
          comb(if (ops == null) SlotOp.Sum else ops(i), a(i), b(i)))
      }

    /** TOTAL order on (t, values) — the deterministic tie order of the
      * bounded/RANGE frames. Slot comparisons go through
      * java.lang.Double.compare, which totals NaN (greater than every
      * value, equal to itself): the NaN NULL-sentinel must not violate
      * sortWith's strict-weak-ordering contract (TimSort throws
      * "Comparison method violates its general contract!") or make the
      * tie order nondeterministic across retries. */
    def tieLess(a: (Long, Seq[Double]), b: (Long, Seq[Double])): Boolean =
      if (a._1 != b._1) a._1 < b._1
      else {
        val (x, y) = (a._2, b._2)
        var i = 0
        while (i < x.length && i < y.length &&
          java.lang.Double.compare(x(i), y(i)) == 0) i += 1
        if (i < x.length && i < y.length)
          java.lang.Double.compare(x(i), y(i)) < 0
        else x.length < y.length
      }

    /** Consecutive-equal-timestamp runs of an already-time-sorted seq —
      * the RANGE frames' peer groups. */
    def groupByTime(rows: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Seq[Double]])] = {
      val out = Seq.newBuilder[(Long, Seq[Seq[Double]])]
      var i = 0
      while (i < rows.length) {
        val t = rows(i)._1
        var j = i
        while (j < rows.length && rows(j)._1 == t) j += 1
        out += ((t, rows.slice(i, j).map(_._2)))
        i = j
      }
      out.result()
    }

    /** PER-SLOT-FRAME release loop of the fused OVER pass — the
      * generalization letting ONE stateful operator serve several OVER
      * items with DIFFERENT frames (the reference's
      * StreamExecOverAggregate.java multi-window support, minus its
      * chained-operator cost — one state buffer retains what the longest
      * frame needs and every slot reads its own window from it): slot i
      * reduces with ops(i) over frames(i). The event-time TWS pass
      * (StatefulTws) is its one caller.
      *
      * Per-slot semantics:
      *  - Unbounded (ROWS): permanent running accumulator, snapshot per
      *    row in release order;
      *  - Rows(n): combine over the last n released rows ending at the
      *    row;
      *  - Range(ms) / UnboundedRange: tied rowtimes are SQL PEERS — every
      *    row of a timestamp reads ONE value computed after the whole
      *    peer group is absorbed.
      * With a UNIFORM frame this reduces exactly to the single-frame
      * behavior (same retention buffer) — pinned by the equality specs
      * against the flatMapGroupsWithState reference. */
    final class Multi(frames: IndexedSeq[OverFrame], ops: IndexedSeq[SlotOp])
        extends Serializable {
      private def opOf(i: Int): SlotOp = if (ops == null) SlotOp.Sum else ops(i)
      private val maxRows: Int =
        frames.collect { case OverFrame.Rows(n) => n }.maxOption.getOrElse(0)
      private val maxMs: Option[Long] =
        frames.collect { case OverFrame.Range(ms) => ms }.maxOption
      private val hasRowAcc = frames.contains(OverFrame.Unbounded)
      private val hasGroupAcc = frames.contains(OverFrame.UnboundedRange)
      /** Any slot with an unbounded frame => the accumulator is PERMANENT
        * key state (the unbounded-preceding contract) — never auto-removed. */
      val permanent: Boolean = hasRowAcc || hasGroupAcc
      /** Any bounded frame => the retention buffer is live state. */
      val bounded: Boolean = maxRows > 0 || maxMs.isDefined

      // ---- user-defined aggregate slots (SlotOp.Agg): their unbounded
      // accumulators are fixed-width REGIONS appended to the scalar acc
      // cells — acc layout = [0, nSlots) scalars ++ custom buffers —
      // so the permanent state stays O(Σ buffer widths), never O(history)
      private val customIdx: IndexedSeq[Int] =
        if (ops == null) Vector.empty
        else ops.indices.filter(i => ops(i).isInstanceOf[SlotOp.Agg]).toVector
      private def aggAt(i: Int): OverAgg =
        ops(i).asInstanceOf[SlotOp.Agg].agg
      val hasCustom: Boolean = customIdx.nonEmpty
      /** Region start of custom slot `i` given `n` row slots. */
      private def regionBase(i: Int, n: Int): Int =
        n + customIdx.takeWhile(_ < i).map(j => aggAt(j).size).sum
      private def accFullLen(n: Int): Int =
        n + customIdx.map(j => aggAt(j).size).sum
      /** acc as a mutable array of full layout length, custom regions
        * initialized to their zero accumulators when acc doesn't cover
        * them yet (first write for the key). */
      private def ensureArr(acc: Seq[Double], n: Int): Array[Double] = {
        val arr = Array.fill(math.max(acc.length, accFullLen(n)))(Double.NaN)
        var i = 0
        while (i < acc.length) { arr(i) = acc(i); i += 1 }
        customIdx.foreach { j =>
          val b = regionBase(j, n)
          if (acc.length < b + aggAt(j).size) {
            val z = aggAt(j).zero
            System.arraycopy(z, 0, arr, b, z.length)
          }
        }
        arr
      }
      private def reduceRegion(arr: Array[Double], i: Int, n: Int, x: Double): Unit = {
        val a = aggAt(i)
        val b = regionBase(i, n)
        val tmp = java.util.Arrays.copyOfRange(arr, b, b + a.size)
        a.reduce(tmp, x)
        System.arraycopy(tmp, 0, arr, b, a.size)
      }
      private def finishRegion(acc: Seq[Double], i: Int, n: Int): Double = {
        val a = aggAt(i)
        val b = regionBase(i, n)
        val tmp = new Array[Double](a.size)
        var t = 0
        while (t < a.size) {
          tmp(t) = if (b + t < acc.length) acc(b + t) else a.zero(t)
          t += 1
        }
        a.finish(tmp)
      }

      private def accAt(acc: Seq[Double], i: Int): Double =
        if (i < acc.length) acc(i) else Double.NaN

      private def slotOver(i: Int, rows: Seq[(Long, Seq[Double])]): Double =
        opOf(i) match {
          case SlotOp.Agg(a) =>
            // bounded frames re-fold the retention rows through the
            // aggregate (zero -> reduce each non-NULL -> finish); an
            // all-NULL frame never calls reduce and finish(zero) = NaN
            val b = a.zero.clone()
            rows.foreach { r =>
              val x = r._2(i)
              if (!x.isNaN) a.reduce(b, x)
            }
            a.finish(b)
          case op => rows.foldLeft(Double.NaN)((z, r) => comb(op, z, r._2(i)))
        }

      /** Release `ready` rows (already watermark-filtered), which the
        * caller hands over SORTED in the total (t, values) order of
        * [[tieLess]] — tied rowtimes release in that deterministic order
        * under every frame. Returns the per-row (t, values, sums) outputs
        * in release order plus the new accumulator and retention buffer. */
      def release(ready: Seq[(Long, Seq[Double])], acc0: Seq[Double],
          buf0: Seq[(Long, Seq[Double])])
          : (Seq[(Long, Seq[Double], Seq[Double])], Seq[Double], Seq[(Long, Seq[Double])]) = {
        var acc = acc0
        var buf = buf0
        val out = Seq.newBuilder[(Long, Seq[Double], Seq[Double])]
        groupByTime(ready).foreach { case (t, peers) =>
          val n = peers.head.length
          // row phase: append to the retention buffer, advance the
          // row-granularity accumulators, snapshot the ROWS-frame values
          val rowVals: Seq[Array[Double]] = peers.map { v =>
            buf = buf :+ ((t, v))
            if (hasRowAcc) {
              val arr = ensureArr(acc, n)
              var i = 0
              while (i < n) {
                frames(i) match {
                  case OverFrame.Unbounded => opOf(i) match {
                    case SlotOp.Agg(_) =>
                      if (!v(i).isNaN) reduceRegion(arr, i, n, v(i))
                    case op => arr(i) = comb(op, arr(i), v(i))
                  }
                  case _ => ()
                }
                i += 1
              }
              acc = arr.toSeq
            }
            Array.tabulate(n) { i =>
              frames(i) match {
                case OverFrame.Unbounded => opOf(i) match {
                  case SlotOp.Agg(_) => finishRegion(acc, i, n)
                  case _ => accAt(acc, i)
                }
                case OverFrame.Rows(fn) => slotOver(i, buf.takeRight(fn))
                case _ => Double.NaN // peer-group phase fills these
              }
            }
          }
          // peer-group phase: all peers absorbed — advance the
          // group-granularity accumulators, compute the RANGE values the
          // whole peer group shares
          if (hasGroupAcc) {
            val arr = ensureArr(acc, n)
            var i = 0
            while (i < n) {
              frames(i) match {
                case OverFrame.UnboundedRange => opOf(i) match {
                  case SlotOp.Agg(_) =>
                    peers.foreach(v => if (!v(i).isNaN) reduceRegion(arr, i, n, v(i)))
                  case op =>
                    arr(i) = peers.foldLeft(arr(i))((z, v) => comb(op, z, v(i)))
                }
                case _ => ()
              }
              i += 1
            }
            acc = arr.toSeq
          }
          val groupVals = Array.tabulate(n) { i =>
            frames(i) match {
              case OverFrame.Range(ms) => slotOver(i, buf.filter(_._1 >= t - ms))
              case OverFrame.UnboundedRange => opOf(i) match {
                case SlotOp.Agg(_) => finishRegion(acc, i, n)
                case _ => accAt(acc, i)
              }
              case _ => Double.NaN
            }
          }
          // retention trim: time-window entries form a SUFFIX (release
          // order is time-nondecreasing), so the union of "last maxRows"
          // and "within maxMs of t" is just the longer suffix
          buf =
            if (!bounded) Seq.empty
            else {
              val keepTime = maxMs.map(ms => buf.count(_._1 >= t - ms)).getOrElse(0)
              buf.takeRight(math.max(maxRows, keepTime))
            }
          peers.zip(rowVals).foreach { case (v, rv) =>
            out += ((t, v, Seq.tabulate(n) { i =>
              frames(i) match {
                case OverFrame.Range(_) | OverFrame.UnboundedRange => groupVals(i)
                case _ => rv(i)
              }
            }))
          }
        }
        (out.result(), acc, buf)
      }
    }
  }

  /** PROCESSING-TIME streaming OVER: the ProcTime{Rows,Range}{Bounded,
    * Unbounded}PrecedingFunction family — no watermark, no reordering;
    * rows aggregate in per-key ARRIVAL order the moment they arrive.
    * Processing time is the micro-batch clock (the runtime's batch-tick
    * analog of Flink's per-element wall clock, same convention as
    * temporalJoinProcTime), so under the RANGE frames every row of a
    * key's micro-batch is a PEER sharing one aggregate, and Range(ms)
    * evicts whole earlier batch-ticks past the window. Output rows carry
    * the batch-tick in epoch-ms. State: O(1) accumulator (unbounded),
    * O(n) deque (Rows), O(rows-in-range) (Range) per key. */
  def procOverAggsByKey[K: Encoder](
      ds: Dataset[(K, Seq[Double])], frame: OverFrame,
      ops: IndexedSeq[SlotOp] = null)(
      implicit e1: Encoder[(Seq[Double], Seq[(Long, Seq[Double])])],
      e2: Encoder[(K, Long, Seq[Double], Seq[Double])])
      : Dataset[(K, Long, Seq[Double], Seq[Double])] = {

    def plus(a: Seq[Double], b: Seq[Double]): Seq[Double] = Slots.plus(ops, a, b)

    def update(key: K, rows: Iterator[(K, Seq[Double])],
        state: GroupState[(Seq[Double], Seq[(Long, Seq[Double])])])
        : Iterator[(K, Long, Seq[Double], Seq[Double])] = {
      val now = state.getCurrentProcessingTimeMs()
      var (acc, frm) = state.getOption.getOrElse(
        (Seq.empty[Double], Seq.empty[(Long, Seq[Double])]))
      val vs = rows.map(_._2).toSeq
      val out = frame match {
        case OverFrame.Unbounded => // per-row running aggregate
          vs.map { v => acc = plus(acc, v); (key, now, v, acc) }
        case OverFrame.Rows(n) => // per-row frame over the last n rows
          vs.map { v =>
            frm = (frm :+ ((now, v))).takeRight(n)
            (key, now, v, frm.map(_._2).foldLeft(Seq.empty[Double])(plus))
          }
        case OverFrame.UnboundedRange => // batch-tick peers share one value
          acc = vs.foldLeft(acc)(plus)
          vs.map(v => (key, now, v, acc))
        case OverFrame.Range(ms) => // evict ticks older than now - ms
          frm = (frm ++ vs.map(v => (now, v))).filter(_._1 >= now - ms)
          val sums = frm.map(_._2).foldLeft(Seq.empty[Double])(plus)
          vs.map(v => (key, now, v, sums))
      }
      state.update((acc, frm))
      out.iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming LIMIT (flink-table-runtime StreamExecLimit): pass through
    * the first `n` rows of the stream, drop the rest. Like Flink's global
    * limit this necessarily runs at parallelism 1 (a single counter key)
    * — it is a result-truncation operator, not a data-path one, so the
    * bottleneck is by construction bounded by n. */
  def streamingLimit[T: Encoder](
      ds: Dataset[T], n: Long)(
      implicit el: Encoder[Long], eu: Encoder[(Long, T)]): Dataset[T] = {

    def update(key: Long, rows: Iterator[T],
        state: GroupState[Long]): Iterator[T] = {
      var taken = state.getOption.getOrElse(0L)
      val out = rows.takeWhile { _ => taken < n }
        .map { r => taken += 1; r }.toList
      state.update(taken)
      out.iterator
    }

    ds.groupByKey(_ => 0L)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Count-based SLIDING window per key (Flink countWindow(size, slide) —
    * GlobalWindow + CountTrigger.of(slide) + CountEvictor.of(size)): every
    * `slide`-th row of a key fires an aggregate over the key's last
    * min(size, seen) rows, early fires included, exactly the
    * trigger/evictor composition's behavior. State: the last `size`
    * values + a fire counter — O(size) per key. */
  def countSlideWindow[K: Encoder](
      ds: Dataset[(K, Double)], size: Int, slide: Int)(
      implicit e1: Encoder[(Seq[Double], Long)],
      e2: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] = {
    require(size >= 1 && slide >= 1, s"countSlideWindow: size=$size slide=$slide")

    def update(key: K, rows: Iterator[(K, Double)],
        state: GroupState[(Seq[Double], Long)]): Iterator[(K, Long, Double)] = {
      var (buf, seen) = state.getOption.getOrElse((Seq.empty[Double], 0L))
      val out = Seq.newBuilder[(K, Long, Double)]
      rows.foreach { r =>
        buf = (buf :+ r._2).takeRight(size)
        seen += 1
        if (seen % slide == 0)
          out += ((key, seen / slide - 1, buf.sum)) // 0-based fire index
      }
      state.update((buf, seen))
      out.result().iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Count-based tumbling window per key (Flink countWindow — no Spark
    * equivalent): buffers rows per key and emits an aggregate every
    * `size` rows. State: the current partial buffer. */
  def countTumbleWindow[K: Encoder](
      ds: Dataset[(K, Double)], size: Int)(
      implicit e1: Encoder[(Seq[Double], Long)],
      e2: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] = {

    def update(key: K, rows: Iterator[(K, Double)],
        state: GroupState[(Seq[Double], Long)]): Iterator[(K, Long, Double)] = {
      var (buf, windowIdx) = state.getOption.getOrElse((Seq.empty[Double], 0L))
      val out = Seq.newBuilder[(K, Long, Double)]
      rows.foreach { r =>
        buf = buf :+ r._2
        if (buf.size == size) {
          out += ((key, windowIdx, buf.sum))
          windowIdx += 1
          buf = Seq.empty
        }
      }
      state.update((buf, windowIdx))
      out.result().iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Row-level CURRENT_WATERMARK annotation (BuiltInFunctionDefinitions
    * CURRENT_WATERMARK — Flink returns the operator's current watermark,
    * NULL before the first one). Spark exposes no watermark to
    * expressions, so the SQL route lowers the call onto this pass: a
    * STATELESS flatMapGroupsWithState whose only job is reading the
    * batch watermark from GroupState and appending it as a TIMESTAMP
    * column (`__graft_wm`, NULL while the watermark is unset — micro-
    * batch semantics: every row of a batch reads the batch-start
    * watermark, Flink's per-record operator watermark at batch
    * granularity). Rows pass through via a salted 64-key grouping —
    * one exchange, zero state; late rows are NOT dropped (the function
    * exists precisely to SEE lateness: `WHERE ts <= CURRENT_WATERMARK(ts)`
    * is the reference's late-data side-channel idiom). */
  def annotateCurrentWatermark(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.TimestampType
    val schema = df.schema
    val outSchema = schema.add("__graft_wm", TimestampType, nullable = true)
    val rowEnc: Encoder[Row] = Encoders.row(schema)
    val outEnc: Encoder[Row] = Encoders.row(outSchema)
    def annotate(k: Int, rows: Iterator[Row],
        state: GroupState[Int]): Iterator[Row] = {
      val wm = state.getCurrentWatermarkMs()
      val wmVal: java.sql.Timestamp =
        if (wm <= 0L) null else new java.sql.Timestamp(wm)
      rows.map(r => Row.fromSeq(r.toSeq :+ wmVal))
    }
    df.as[Row](rowEnc)
      .groupByKey(r => math.floorMod(r.hashCode, 64))(Encoders.scalaInt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        annotate _)(Encoders.scalaInt, outEnc)
  }

  /** Streaming CUMULATE window aggregation — the grouped-TVF shape Spark
    * has no native form for (Flink's cumulative slice assigner,
    * flink-table-runtime .../window/slicing/SliceAssigners.java
    * `CumulativeSliceAssigner`; StreamExecWindowAggregate CUMULATE):
    * rows of a max-size window [W, W+size) aggregate into cumulative
    * slices [W, W+step), [W, W+2·step), …, [W, W+size); slice k
    * append-emits ONCE when the watermark passes its end, covering every
    * row with ts < W+(k+1)·step — exactly the batch expansion's
    * `us < window_end` membership.
    *
    * State per (key, open window): one partial accumulator vector and a
    * row count PER SLICE — O(slices · slots) doubles, never raw rows —
    * so state size is bounded by (keys · size/step · slots) regardless
    * of row volume: the property that holds at 100 TB. A row whose final
    * slice has fired (wm ≥ W+size) is dropped late; a row arriving after
    * ITS slice fired still joins the remaining cumulative slices. A
    * slice emits only when its cumulative prefix holds ≥1 row (a window
    * only exists for slices some row was assigned to — the batch
    * expansion emits exactly those).
    *
    * Input (key, rowtime, slot values) with a watermark on rowtime;
    * output (key, winStartUs, sliceEndUs, combined slots, cumulative row
    * count), times in MICROSECONDS (the TVF alignment grid). */
  def cumulateWindow[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Seq[Double])],
      stepUs: Long, sizeUs: Long, ops: IndexedSeq[SlotOp],
      offUs: Long = 0L)(
      implicit e1: Encoder[Seq[(Long, Seq[Long], Seq[Seq[Double]], Int)]],
      e2: Encoder[(K, Long, Long, Seq[Double], Long)])
      : Dataset[(K, Long, Long, Seq[Double], Long)] = {
    require(stepUs > 0 && sizeUs > 0 && sizeUs % stepUs == 0,
      s"cumulateWindow: size ($sizeUs) must be a positive multiple of step ($stepUs)")
    val nSlices = (sizeUs / stepUs).toInt
    // (winStartUs, per-slice row counts, per-slice partials, slices fired)
    type Win = (Long, Seq[Long], Seq[Seq[Double]], Int)

    def update(key: K, rows: Iterator[(K, java.sql.Timestamp, Seq[Double])],
        state: GroupState[Seq[Win]]): Iterator[(K, Long, Long, Seq[Double], Long)] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      var wins = state.getOption.getOrElse(Seq.empty)
      rows.foreach { case (_, ts, vals) =>
        val us = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
        // offset shifts the max-window alignment grid — the
        // getWindowStartWithOffset contract (TimeWindow.java:222)
        val ws = us - Math.floorMod(us - offUs, sizeUs)
        if (wmUs < ws + sizeUs) { // else: late past the final slice, drop
          val slice = ((us - ws) / stepUs).toInt
          wins.indexWhere(_._1 == ws) match {
            case -1 =>
              wins :+= ((ws,
                Seq.fill(nSlices)(0L).updated(slice, 1L),
                Seq.fill(nSlices)(Seq.empty[Double]).updated(slice, vals), 0))
            case i =>
              val w = wins(i)
              wins = wins.updated(i, (w._1,
                w._2.updated(slice, w._2(slice) + 1L),
                w._3.updated(slice, Slots.plus(ops, w._3(slice), vals)),
                w._4))
          }
        }
      }
      val out = Seq.newBuilder[(K, Long, Long, Seq[Double], Long)]
      wins = wins.flatMap { case (ws, cnts, parts, fired0) =>
        var fired = fired0
        while (fired < nSlices && wmUs >= ws + (fired + 1) * stepUs) {
          // skip row-less slices: their Seq.empty partial is "no data",
          // not a zero vector (Slots.plus only widens from empty)
          val cum = parts.take(fired + 1).filter(_.nonEmpty)
            .foldLeft(Seq.empty[Double])((z, p) => Slots.plus(ops, z, p))
          val cnt = cnts.take(fired + 1).sum
          if (cnt > 0L) out += ((key, ws, ws + (fired + 1) * stepUs, cum, cnt))
          fired += 1
        }
        if (fired >= nSlices) None else Some((ws, cnts, parts, fired))
      }
      if (wins.isEmpty) state.remove()
      else {
        state.update(wins)
        val nextUs = wins.map { case (ws, _, _, fired) =>
          ws + (fired + 1) * stepUs }.min
        state.setTimeoutTimestamp(
          math.max(nextUs / 1000L, state.getCurrentWatermarkMs() + 1L))
      }
      out.result().iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming WINDOW TOP-N — the StreamExecWindowRank role (reference
    * flink-table-runtime .../rank/window/processors/WindowRankProcessor
    * .java: ROW_NUMBER over (window, key) finalized on watermark
    * passage). Rows of a tumbling window buffer into a BOUNDED per-
    * (key, window) top-N list (insertion keeps only the N best — O(n)
    * state per open window, never the window's raw rows); when the
    * watermark passes the window end the ranked rows append-emit exactly
    * once, matching the batch `row_number() over (partition by window, k
    * order by score [desc], payload)` on the same data. Ordering is
    * total — (score asc|desc, payload asc) — so results are
    * deterministic under any arrival order. Late rows (window already
    * closed) drop, exactly the window-TVF aggregation contract.
    *
    * Window dedup (StreamExecWindowDeduplicate: keep first/last row per
    * window and key) is the n=1 case ordered by rowtime — the SQL form
    * `WHERE rn = 1` lowers onto it (WindowTvfSql).
    *
    * Input (key, rowtime, score, payload) with a watermark on rowtime;
    * output (key, winStartUs, winEndUs, rank, score, payload). */
  def windowTopN[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double, String)],
      sizeUs: Long, n: Int, asc: Boolean = false, offUs: Long = 0L)(
      implicit e1: Encoder[Seq[(Long, Seq[(Double, String)])]],
      e2: Encoder[(K, Long, Long, Int, Double, String)])
      : Dataset[(K, Long, Long, Int, Double, String)] = {
    require(sizeUs > 0 && n >= 1,
      s"windowTopN: size ($sizeUs) and n ($n) must be positive")
    // (winStartUs, top rows best-first)
    type Win = (Long, Seq[(Double, String)])
    val ord: Ordering[(Double, String)] = {
      val base = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
      if (asc) base
      else Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String)
    }

    def update(key: K, rows: Iterator[(K, java.sql.Timestamp, Double, String)],
        state: GroupState[Seq[Win]]): Iterator[(K, Long, Long, Int, Double, String)] = {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      var wins = state.getOption.getOrElse(Seq.empty)
      rows.foreach { case (_, ts, score, payload) =>
        val us = ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
        val ws = us - Math.floorMod(us - offUs, sizeUs)
        if (wmUs < ws + sizeUs) { // else: late past the closed window
          val row = (score, payload)
          wins.indexWhere(_._1 == ws) match {
            case -1 => wins :+= ((ws, Seq(row)))
            case i =>
              val buf = (wins(i)._2 :+ row).sorted(ord).take(n)
              wins = wins.updated(i, (wins(i)._1, buf))
          }
        }
      }
      val out = Seq.newBuilder[(K, Long, Long, Int, Double, String)]
      wins = wins.flatMap { case (ws, buf) =>
        if (wmUs >= ws + sizeUs) {
          buf.sorted(ord).iterator.zipWithIndex.foreach {
            case ((score, payload), i) =>
              out += ((key, ws, ws + sizeUs, i + 1, score, payload))
          }
          None
        } else Some((ws, buf))
      }
      if (wins.isEmpty) state.remove()
      else {
        state.update(wins)
        val nextUs = wins.map(_._1 + sizeUs).min
        state.setTimeoutTimestamp(
          math.max(nextUs / 1000L, state.getCurrentWatermarkMs() + 1L))
      }
      out.result().iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
