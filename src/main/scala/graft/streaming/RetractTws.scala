package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** Retractable top-N per key on transformWithState — the ranking
  * operator category (reference
  * flink-table-runtime/.../rank/RetractableTopNFunction.java:56: sorted
  * per-key state, re-ranks and backfills when a ranked row retracts).
  *
  * ONE ranking implementation:
  * [[retractableTopNChangelogSorted]]'s dataState+sorted-counts
  * processor, which the SQL front door lowers onto. The Double-scored
  * variants ([[retractableTopN]], [[retractableTopNChangelog]]) are thin
  * wrappers that encode the score as a DESC
  * [[graft.util.SortKey.fieldDouble]] field on the way in and decode it
  * from the emitted sort key on the way out. Payload ties break in
  * CODE-POINT order (Spark's UTF8_BINARY).
  *
  * Runtime prerequisite: transformWithState requires the RocksDB state
  * store provider. */
object RetractTws {
  import Retract.{isAdd, isRetract}

  /** Test-visible state-I/O probe for [[retractableTopNChangelogSorted]]
    * (the JdbcWriteStats pattern): pins that a micro-batch touching a
    * key costs AT MOST O(distinct sort keys) counts-scan + O(top +
    * changed) point reads/writes on the payload state — never a
    * materialization of all live ROWS — and that a batch whose changes
    * all sort strictly below a full top's cached boundary costs ZERO
    * counts-scans. Counters are JVM-wide (local-mode executors share
    * the test JVM). */
  object TopNStateStats {
    val sortKeysScanned = new java.util.concurrent.atomic.AtomicLong
    val dataPointReads = new java.util.concurrent.atomic.AtomicLong
    val dataPointWrites = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = {
      sortKeysScanned.set(0L); dataPointReads.set(0L); dataPointWrites.set(0L)
    }
  }

  // ALL state/stream encoders are object-level vals: StatefulProcessor
  // init runs per task per micro-batch, and encoder construction goes
  // through Scala runtime reflection behind a global lock — measured
  // serializing the batch's state tasks (see RetractAggTws)
  private val ePayloads = Encoders.product[Tuple1[Seq[(String, Int)]]]
  private val eBoundary = Encoders.product[Tuple1[Seq[(String, String)]]]
  private val eStr = Encoders.STRING
  private val eLong = Encoders.scalaLong

  /** The dataState + treeMap pairing of RetractableTopNFunction.java:56
    * on arbitrary comparable sort keys:
    *
    *   - `data: MapState[sortKey, counted payload list]` — Flink's
    *     `MapState<sortKey, List<row>> dataState`: applying one change
    *     point-reads/point-writes exactly the changed sort key's list,
    *     never the key's full live multiset.
    *   - `counts: MapState[sortKey, liveRows]` — the role of Flink's
    *     `ValueState<SortedMap<sortKey, count>> treeMap`, point-WRITTEN
    *     here (Flink rewrites the whole SortedMap per access); when a
    *     batch can affect the top it is scanned once — O(distinct sort
    *     keys), counts only, no payloads — into an in-memory TreeMap
    *     that gives the sorted traversal, so top-N recomputation is
    *     O(distinct) + O(top) payload point reads, not O(live rows).
    *   - `boundary: ValueState[top snapshot]` — the r15 refinement that
    *     BEATS the reference's asymptotics: the current top (≤ n
    *     (sortKey, payload) pairs) is cached across batches, so (a) the
    *     pre-change top never needs a scan, and (b) a batch whose
    *     changes ALL sort strictly below a full top's cut key provably
    *     cannot change the top — state is point-updated and the scan
    *     and emission are skipped entirely. Flink re-reads its whole
    *     treeMap every access; this port touches counts only when the
    *     answer can move.
    *
    * Sort keys are memcmp-encoded FIELD strings (graft.util.SortKey /
    * SortKeyExpr — the generated-comparator role of
    * ComparableRecordComparator.java:35) with the direction BAKED into
    * each field and composites formed by plain concatenation, so ONE
    * processor with ONE natural-order comparator ranks any ORDER BY
    * list of any comparable types in any direction mix. Payload ties
    * within a sort key order ascending (code-point order = Spark's
    * UTF8_BINARY).
    *
    * `emitAll`: false = delta changelog (+U changed ranks, -D vacated
    * ranks — the RetractableTopNFunction emit contract); true = emit
    * EVERY rank of the refreshed top whenever it changes (the plain
    * [[retractableTopN]] surface's contract). */
  private class TopNChangelogSortedProc[K](n: Int, emitAll: Boolean)
      extends StatefulProcessor[K, (K, String, String, String),
        (String, K, Int, String, String)] {

    @transient private var data: MapState[String, Tuple1[Seq[(String, Int)]]] = _
    @transient private var counts: MapState[String, Long] = _
    @transient private var boundary: ValueState[Tuple1[Seq[(String, String)]]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      data = getHandle.getMapState[String, Tuple1[Seq[(String, Int)]]](
        "data", eStr, ePayloads, TTLConfig.NONE)
      counts = getHandle.getMapState[String, Long](
        "counts", eStr, eLong, TTLConfig.NONE)
      boundary = getHandle.getValueState[Tuple1[Seq[(String, String)]]](
        "boundary", eBoundary, TTLConfig.NONE)
    }

    private def readList(sk: String): Seq[(String, Int)] = {
      TopNStateStats.dataPointReads.incrementAndGet()
      if (data.containsKey(sk)) data.getValue(sk)._1 else Seq.empty
    }

    /** Sorted traversal of the counts snapshot: walk sort keys in rank
      * order, point-read payloads only for the ≤ n rows the top covers. */
    private def topOf(tree: java.util.TreeMap[String, Long]): Seq[(String, String)] = {
      val out = Seq.newBuilder[(String, String)]
      var need = n
      val it = tree.entrySet().iterator()
      while (need > 0 && it.hasNext) {
        val e = it.next()
        val sk = e.getKey
        val expanded = readList(sk).sortBy(_._1)(graft.util.SortKey.ordering)
          .iterator.flatMap { case (p, c) => Iterator.fill(c)(p) }
          .take(need).toSeq
        expanded.foreach(p => out += ((sk, p)))
        need -= expanded.size
      }
      out.result()
    }

    /** Scan the counts state into a sorted snapshot (the one O(distinct
      * sort keys) pass a top-affecting batch pays). */
    private def scanCounts(): java.util.TreeMap[String, Long] = {
      // natural code-unit order: field encodings bake the direction in
      val tree = new java.util.TreeMap[String, Long]()
      counts.iterator().foreach { case (sk, c) =>
        tree.put(sk, c); TopNStateStats.sortKeysScanned.incrementAndGet()
      }
      tree
    }

    /** Apply one change to the data + counts state with POINT access
      * only; `tree`, when present, mirrors the counts updates so the
      * post-change snapshot needs no second scan. */
    private def applyChange(kind: String, sk: String, payload: String,
        tree: Option[java.util.TreeMap[String, Long]]): Unit = {
      def curCount: Long = tree match {
        case Some(t) => if (t.containsKey(sk)) t.get(sk) else 0L
        case None =>
          if (counts.containsKey(sk)) counts.getValue(sk) else 0L
      }
      if (isAdd(kind)) {
        val list = readList(sk)
        val idx = list.indexWhere(_._1 == payload)
        val updated =
          if (idx >= 0) list.updated(idx, (payload, list(idx)._2 + 1))
          else list :+ ((payload, 1))
        data.updateValue(sk, Tuple1(updated))
        TopNStateStats.dataPointWrites.incrementAndGet()
        val nc = curCount + 1L
        counts.updateValue(sk, nc)
        tree.foreach(_.put(sk, nc))
      } else if (isRetract(kind)) {
        val list = readList(sk)
        val idx = list.indexWhere(_._1 == payload)
        if (idx >= 0) {
          val updated =
            if (list(idx)._2 == 1) list.patch(idx, Nil, 1)
            else list.updated(idx, (payload, list(idx)._2 - 1))
          if (updated.isEmpty) data.removeKey(sk)
          else data.updateValue(sk, Tuple1(updated))
          TopNStateStats.dataPointWrites.incrementAndGet()
          val nc = curCount - 1L
          if (nc <= 0L) { counts.removeKey(sk); tree.foreach(_.remove(sk): Unit) }
          else { counts.updateValue(sk, nc); tree.foreach(_.put(sk, nc)) }
        } // absent row: a no-op retraction must not disturb state
      }
    }

    override def handleInputRows(key: K,
        rows: Iterator[(K, String, String, String)],
        tv: TimerValues): Iterator[(String, K, Int, String, String)] = {
      val cached: Option[Seq[(String, String)]] =
        if (boundary.exists()) Some(boundary.get()._1) else None
      val (before, after): (Seq[(String, String)], Seq[(String, String)]) =
        cached match {
          case None =>
            // first batch for the key (or pre-r15 state without the
            // snapshot): one scan gives the PRE-change top, the same
            // tree mirrors the changes, the post-change walk reuses it
            val tree = scanCounts()
            val b = topOf(tree)
            rows.foreach { case (_, kind, sk, payload) =>
              applyChange(kind, sk, payload, Some(tree))
            }
            (b, topOf(tree))
          case Some(snap) =>
            // the cached snapshot IS the pre-change top (invariant:
            // every top-affecting batch rewrites it below). A FULL top
            // has a cut key; changes strictly below it cannot enter or
            // vacate the top, so state is point-updated and the scan is
            // skipped — the below-cut fast path.
            val cut = if (snap.size == n) Some(snap.last._1) else None
            var canSkip = cut.isDefined
            rows.foreach { case (_, kind, sk, payload) =>
              if (canSkip && cut.exists(c => sk.compareTo(c) <= 0))
                canSkip = false
              applyChange(kind, sk, payload, None)
            }
            if (canSkip) (snap, snap)
            else (snap, topOf(scanCounts()))
        }
      if (after == before) {
        // keep the snapshot warm even on the no-change scan path (a
        // first batch that doesn't land in the top still caches it)
        if (cached.isEmpty) boundary.update(Tuple1(after))
        Iterator.empty
      } else {
        boundary.update(Tuple1(after))
        val refreshed =
          if (emitAll) after.iterator.zipWithIndex.map {
            case ((sk, payload), i) => (Cdc.UpdateAfter, key, i + 1, sk, payload)
          }
          else after.iterator.zipWithIndex.collect {
            case ((sk, payload), i) if before.lift(i) != Some((sk, payload)) =>
              (Cdc.UpdateAfter, key, i + 1, sk, payload)
          }
        val shrunk = before.iterator.zipWithIndex.drop(after.size).map {
          case ((sk, payload), i) => (Cdc.Delete, key, i + 1, sk, payload)
        }
        refreshed ++ shrunk
      }
    }

    override def handleExpiredTimer(key: K, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(String, K, Int, String, String)] =
      Iterator.empty
  }

  /** Generalized retractable top-N on ANY comparable ORDER BY list:
    * input (key, row_kind, sortKeyEnc, payload) where sortKeyEnc is a
    * concatenation of SortKey/SortKeyExpr FIELD encodings (direction
    * baked per field), output changelog ("+U"/"-D", key, rank,
    * sortKeyEnc, payload) — +U refreshed ranks, -D vacated ranks. */
  def retractableTopNChangelogSorted[K](
      ds: Dataset[(K, String, String, String)], n: Int)(
      implicit ek: Encoder[K],
      eout: Encoder[(String, K, Int, String, String)])
      : Dataset[(String, K, Int, String, String)] =
    // APPEND mode: the emission is a changelog DELTA stream (+U/-D
    // rows), not keyed updates — and append is what lets this operator
    // CHAIN downstream of the fMGWS ChangelogNormalize for DECLARED
    // UPSERT inputs (Spark rejects an Update-mode query containing an
    // append-mode flatMapGroupsWithState)
    ds.groupByKey(_._1)
      .transformWithState(new TopNChangelogSortedProc[K](n, emitAll = false),
        TimeMode.None(), OutputMode.Append(), eout)

  /** Retractable top-N over a changelog of (key, row_kind, score,
    * payload): a retraction (-U/-D) removes one matching (score,
    * payload) instance, and the refreshed top-N — including rows
    * BACKFILLED from below the old cut — is emitted whenever it changes,
    * as (key, rank, score, payload). A thin wrapper over the sorted
    * processor (DESC double field encoding in, score decoded from the
    * emitted sort key out; -D rows dropped — this surface emits the full
    * refreshed top, vacated ranks are implied by its shrinking). */
  def retractableTopN[K](ds: Dataset[(K, String, Double, String)], n: Int)(
      implicit ek: Encoder[K],
      eout: Encoder[(K, Int, Double, String)]): Dataset[(K, Int, Double, String)] = {
    implicit val eIn: Encoder[(K, String, String, String)] =
      Encoders.tuple(ek, Encoders.STRING, Encoders.STRING, Encoders.STRING)
    implicit val eMid: Encoder[(String, K, Int, String, String)] =
      Encoders.tuple(Encoders.STRING, ek, Encoders.scalaInt,
        Encoders.STRING, Encoders.STRING)
    ds.map { case (k, kind, score, payload) =>
      (k, kind, graft.util.SortKey.fieldDouble(score, asc = false), payload)
    }
      .groupByKey(_._1)
      .transformWithState(new TopNChangelogSortedProc[K](n, emitAll = true),
        TimeMode.None(), OutputMode.Append(), eMid)
      .filter((t: (String, K, Int, String, String)) => t._1 == Cdc.UpdateAfter)
      .map { t: (String, K, Int, String, String) =>
        (t._2, t._3,
          graft.util.SortKey.decodeFieldDouble(t._4, asc = false), t._5)
      }
  }

  /** [[retractableTopN]] with an explicit DOWNSTREAM CHANGELOG — the
    * full RetractableTopNFunction emit contract: refreshed ranks emit as
    * ("+U", key, rank, score, payload) and ranks the refreshed top no
    * longer covers emit ("-D", key, rank, oldScore, oldPayload), so an
    * upsert sink keyed by (key, rank) always materializes to exactly the
    * current top-N. A thin wrapper over the sorted processor. */
  def retractableTopNChangelog[K](
      ds: Dataset[(K, String, Double, String)], n: Int)(
      implicit ek: Encoder[K],
      eout: Encoder[(String, K, Int, Double, String)])
      : Dataset[(String, K, Int, Double, String)] = {
    implicit val eIn: Encoder[(K, String, String, String)] =
      Encoders.tuple(ek, Encoders.STRING, Encoders.STRING, Encoders.STRING)
    implicit val eMid: Encoder[(String, K, Int, String, String)] =
      Encoders.tuple(Encoders.STRING, ek, Encoders.scalaInt,
        Encoders.STRING, Encoders.STRING)
    retractableTopNChangelogSorted(
      ds.map { case (k, kind, score, payload) =>
        (k, kind, graft.util.SortKey.fieldDouble(score, asc = false), payload)
      }, n)
      .map { case (kind, k, rank, sk, payload) =>
        (kind, k, rank,
          graft.util.SortKey.decodeFieldDouble(sk, asc = false), payload)
      }
  }
}
