package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Changelog helpers over the explicit `row_kind` convention
  * (graft.streaming.Cdc) and the FAST top-1 route of the SQL front door
  * (rank/FastTop1Function.java:54). The retraction-consuming group
  * aggregate (GroupAggFunction.java:43) is ChangelogSql's aggregate
  * route; the retractable top-N (RetractableTopNFunction.java:56) lives
  * in [[RetractTws]], and an upsert top-N is ChangelogSql's
  * normalize-then-rank chain ([[StatefulOps.normalizeUpsert]] feeding
  * it).
  */
object Retract {
  import Cdc.{Delete, Insert, UpdateAfter, UpdateBefore}

  private[streaming] def isAdd(kind: String): Boolean = kind == Insert || kind == UpdateAfter
  private[streaming] def isRetract(kind: String): Boolean = kind == Delete || kind == UpdateBefore

  /** Test-visible probe: how many times the SQL front door lowered a
    * statement onto [[fastTop1SortedChangelog]] (the UpdateFastStrategy
    * route) — the spec's "fast route engaged" pin. */
  object FastTop1Stats {
    val lowered = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = lowered.set(0L)
  }

  /** FAST top-1 on memcmp sort keys with a downstream changelog, for
    * the SQL front door (rank/FastTop1Function.java:54, the
    * RankProcessStrategy.UpdateFastStrategy plan): top-1 over an
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
}
