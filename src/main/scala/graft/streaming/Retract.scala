package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Retraction-CONSUMING streaming operators over the explicit `row_kind`
  * changelog convention (graft.streaming.Cdc) — the piece round 1 left
  * open: the changelog existed but no stateful operator actually applied
  * -U/-D rows to its state.
  *
  * Reference: flink-table-runtime .../aggregate/GroupAggFunction.java:43
  * (accumulate/retract on RowKind, emits UPDATE_AFTER and a DELETE when a
  * group empties) and the rank/ functions for the top-1 and upsert top-N
  * surfaces. The retractable top-N (RetractableTopNFunction.java:56)
  * lives in [[RetractTws]].
  *
  * State sizes: groupAggregate keeps one (count, sum) pair per key —
  * O(keys).
  */
object Retract {
  import Cdc.{Delete, Insert, UpdateAfter, UpdateBefore}

  private[streaming] def isAdd(kind: String): Boolean = kind == Insert || kind == UpdateAfter
  private[streaming] def isRetract(kind: String): Boolean = kind == Delete || kind == UpdateBefore

  /** Streaming group aggregate consuming a changelog of
    * (key, row_kind, value). Emits the refreshed (key, row_kind, count,
    * sum) after every micro-batch that changes the group: "+U" while the
    * group is live, a final "-D" when retractions empty it (count drops to
    * 0) — GroupAggFunction's emit contract. */
  def groupAggregate[K: Encoder](
      ds: Dataset[(K, String, Double)])(
      implicit e1: Encoder[(Long, Double)],
      e2: Encoder[(K, String, Long, Double)]): Dataset[(K, String, Long, Double)] = {

    def update(key: K, rows: Iterator[(K, String, Double)],
        state: GroupState[(Long, Double)]): Iterator[(K, String, Long, Double)] = {
      val (cnt0, sum0) = state.getOption.getOrElse((0L, 0.0))
      var cnt = cnt0
      var sum = sum0
      rows.foreach { case (_, kind, v) =>
        if (isAdd(kind)) { cnt += 1; sum += v }
        else if (isRetract(kind)) { cnt -= 1; sum -= v }
      }
      if (cnt == cnt0 && sum == sum0) Iterator.empty
      else if (cnt <= 0) {
        val existed = state.exists
        state.remove()
        if (existed) Iterator((key, Delete, 0L, 0.0)) else Iterator.empty
      } else {
        state.update((cnt, sum))
        Iterator((key, UpdateAfter, cnt, sum))
      }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming group aggregate applying a user-defined RETRACTABLE
    * aggregate (StatefulOps.RetractableOverAgg — accumulate/retract, the
    * reference's ImperativeAggregateFunction.retract surface) to a
    * changelog of (key, row_kind, value). State per key = (live count,
    * accumulator vector) — O(keys·size), never O(history). Emits the
    * refreshed (key, "+U", result) after every micro-batch that changes
    * the group and a final (key, "-D", NaN) when retractions empty it —
    * GroupAggFunction's emit contract, with the UDA in the accumulator
    * slot exactly where Flink requires a *WithRetract variant. */
  def groupAggregateWith[K: Encoder](
      ds: Dataset[(K, String, Double)],
      agg: StatefulOps.RetractableOverAgg)(
      implicit e1: Encoder[(Long, Array[Double])],
      e2: Encoder[(K, String, Double)]): Dataset[(K, String, Double)] = {

    def update(key: K, rows: Iterator[(K, String, Double)],
        state: GroupState[(Long, Array[Double])]): Iterator[(K, String, Double)] = {
      val (cnt0, buf0) = state.getOption.getOrElse((0L, agg.zero.clone()))
      val buf = buf0.clone()
      var cnt = cnt0
      var changed = false
      rows.foreach { case (_, kind, v) =>
        if (isAdd(kind)) { cnt += 1; agg.reduce(buf, v); changed = true }
        else if (isRetract(kind)) { cnt -= 1; agg.retract(buf, v); changed = true }
      }
      if (!changed) Iterator.empty
      else if (cnt <= 0) {
        val existed = state.exists
        state.remove()
        if (existed) Iterator((key, Delete, Double.NaN)) else Iterator.empty
      } else {
        state.update((cnt, buf))
        Iterator((key, UpdateAfter, agg.finish(buf.clone())))
      }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** FAST top-1 (rank/FastTop1Function.java:54 — the
    * RankProcessStrategy.UpdateFastStrategy plan): top-1 over an UPSERT
    * stream whose sort value per id is MONOTONICALLY NON-DECREASING
    * (Flink's planner picks this exactly when the upstream operator
    * guarantees it, e.g. a COUNT/SUM-of-positives aggregate). Under
    * that contract the current leader can never be silently demoted, so
    * state is ONE (id, score) pair per key — O(1), against
    * [[updatableTopN]]'s full id->score map. Emits the refreshed
    * (key, 1, score, id) whenever the leader row changes; a row
    * violating the monotonicity contract (same id, lower score) fails
    * loudly — a silent accept would corrupt every later answer. */
  def fastTop1[K: Encoder](
      ds: Dataset[(K, String, Double)])(
      implicit e1: Encoder[(String, Double)],
      e2: Encoder[(K, Int, Double, String)]): Dataset[(K, Int, Double, String)] = {

    def update(key: K, rows: Iterator[(K, String, Double)],
        state: GroupState[(String, Double)]): Iterator[(K, Int, Double, String)] = {
      val before = state.getOption
      var cur = before
      rows.foreach { case (_, id, score) =>
        cur match {
          case Some((curId, curScore)) =>
            if (id == curId) {
              require(score >= curScore,
                s"fastTop1: id $id decreased $curScore -> $score — the " +
                  "UpdateFastStrategy contract requires monotonically " +
                  "non-decreasing sort values; use updatableTopN")
              cur = Some((id, score))
            } else if (score > curScore ||
                (score == curScore && id < curId)) cur = Some((id, score))
          case None => cur = Some((id, score))
        }
      }
      cur.foreach(state.update)
      if (cur == before) Iterator.empty
      else cur.iterator.map { case (id, score) => (key, 1, score, id) }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Test-visible probe: how many times the SQL front door lowered a
    * statement onto [[fastTop1SortedChangelog]] (the UpdateFastStrategy
    * route) — the spec's "fast route engaged" pin. */
  object FastTop1Stats {
    val lowered = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = lowered.set(0L)
  }

  /** [[fastTop1]] generalized to memcmp sort keys and a downstream
    * changelog, for the SQL front door (rank/FastTop1Function.java:54,
    * the RankProcessStrategy.UpdateFastStrategy plan): top-1 over an
    * UPSERT changelog (part, row_kind, id, seq, sortKey, payload) whose
    * sort key per id is MONOTONICALLY NON-DECREASING in COMMIT order —
    * the contract the planner derives before picking this route
    * (COUNT/MAX over an insert-only input). State is ONE (id, sortKey,
    * payload) triple per partition key — O(1), against the generic
    * route's full live multiset. Emits ("+U", part, 1, sortKey, payload)
    * whenever the leader row changes (rank 1 never vacates: a monotone
    * upsert stream cannot shrink, so no -D is ever emitted); a
    * retraction row or a same-id sort-key DECREASE violates the
    * contract and fails loudly — a silent accept would corrupt every
    * later answer.
    *
    * `seq` is the upstream COMMIT SEQUENCE (the order column every
    * declared-upsert changelog carries). Flink's FastTop1Function can
    * fold in arrival order because keyed channels preserve the
    * producer's order; Spark's shuffle gives NO intra-batch ordering
    * guarantee, so when one micro-batch spans several upstream commits
    * (catch-up after restart, a slow trigger) the same id's upserts can
    * arrive newest-first — the fold therefore sorts the batch by (seq,
    * sortKey) and applies in that order, making the monotonicity check
    * a check of the DECLARED commit order, not of shuffle luck, and the
    * equal-key pick deterministic. */
  def fastTop1SortedChangelog(
      ds: Dataset[(String, String, String, Long, String, String)])(
      implicit e1: Encoder[(String, String, String)],
      e2: Encoder[(String, String, Int, String, String)])
      : Dataset[(String, String, Int, String, String)] = {
    // natural code-unit order: FIELD encodings bake direction/canon in
    val ord = Ordering.String

    def update(key: String,
        rows: Iterator[(String, String, String, Long, String, String)],
        state: GroupState[(String, String, String)])
        : Iterator[(String, String, Int, String, String)] = {
      val before = state.getOption
      var cur = before
      rows.toSeq.sortBy(r => (r._4, r._5)).foreach {
        case (_, kind, id, _, sortKey, payload) =>
        require(isAdd(kind),
          s"fastTop1: retraction row ($kind) for id $id — the " +
            "UpdateFastStrategy contract requires an insert-only-derived " +
            "upsert stream; use the retractable top-N route")
        cur match {
          case Some((curId, curKey, _)) =>
            if (id == curId) {
              require(ord.compare(sortKey, curKey) >= 0,
                s"fastTop1: id $id sort key decreased — the " +
                  "UpdateFastStrategy contract requires monotonically " +
                  "non-decreasing sort values; use the retractable route")
              cur = Some((id, sortKey, payload))
            } else {
              val c = ord.compare(sortKey, curKey)
              if (c > 0 || (c == 0 && id < curId))
                cur = Some((id, sortKey, payload))
            }
          case None => cur = Some((id, sortKey, payload))
        }
      }
      cur.foreach(state.update)
      if (cur == before) Iterator.empty
      else cur.iterator.map { case (_, sortKey, payload) =>
        (Cdc.UpdateAfter, key, 1, sortKey, payload)
      }
    }

    // APPEND mode (delta emission), so the route composes in the same
    // topologies as the generic sorted-counts port
    ds.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update _)
  }

  /** Upsert-keyed top-N (rank/UpdatableTopNFunction.java:71): input rows
    * (key, id, score) are UPSERTS — a new score for an existing id
    * replaces the old one without an explicit retraction (the
    * upsert-key-derived changelog case). Emits the refreshed top-N as
    * (key, rank, score, id) whenever it changes; state holds the full
    * live id->score map so demoted/deleted ids backfill exactly. */
  def updatableTopN[K: Encoder](
      ds: Dataset[(K, String, Double)], n: Int)(
      implicit e1: Encoder[Map[String, Double]],
      e2: Encoder[(K, Int, Double, String)]): Dataset[(K, Int, Double, String)] = {

    def topOf(live: Map[String, Double]): Seq[(Double, String)] =
      live.toSeq.map { case (id, score) => (score, id) }
        .sortBy { case (score, id) => (-score, id) }.take(n)

    def update(key: K, rows: Iterator[(K, String, Double)],
        state: GroupState[Map[String, Double]]): Iterator[(K, Int, Double, String)] = {
      val before = state.getOption.getOrElse(Map.empty[String, Double])
      val live = rows.foldLeft(before) { case (m, (_, id, score)) => m.updated(id, score) }
      state.update(live)
      val (oldTop, newTop) = (topOf(before), topOf(live))
      if (newTop == oldTop) Iterator.empty
      else newTop.iterator.zipWithIndex.map { case ((score, id), i) =>
        (key, i + 1, score, id)
      }
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }
}
