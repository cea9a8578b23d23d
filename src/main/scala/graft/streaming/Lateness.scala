package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Allowed lateness, late-data side output, and trigger/evictor emulation
  * (flink-streaming-java .../api/datastream/WindowedStream.java:108
  * `allowedLateness` / :124 `sideOutputLateData`, .../windowing/triggers/
  * CountTrigger.java, .../windowing/evictors/CountEvictor.java).
  *
  * Mapping onto Spark's model:
  *  - ALLOWED LATENESS: widen the stream's watermark delay by the lateness
  *    and run the windowed aggregate in update mode — each late arrival
  *    within the widened horizon refines its window result, which is
  *    Flink's late-firing behavior (one PANE update per refinement).
  *  - LATE SIDE OUTPUT: `tagLate` marks rows that are already at-or-below
  *    the stream's current watermark — rows Spark's aggregate would
  *    silently drop — so the caller can route them to their own sink in a
  *    foreachBatch (a filter on the tag; `SinkOps.sideOutputCounts`, q55,
  *    counts such tagged outputs) instead of losing them.
  *    Granularity note: Flink drops per WINDOW (event beyond
  *    window.end + lateness); this tags per ELEMENT against the widened
  *    watermark — the same horizon, applied at row granularity.
  *  - COUNT TRIGGER + COUNT EVICTOR: `countTriggerTumbleSum` fires a
  *    partial result every `every` elements of a (key, window) pane and a
  *    final result when the watermark passes the window end; an optional
  *    count evictor restricts each fire to the newest `evictCount`
  *    elements. State holds the pane's element buffer (exactly what Flink
  *    keeps for an evictor window) — O(elements-per-window) per pane.
  */
object Lateness {

  /** Tag each row with is_late = its event time is at or below the
    * current watermark (it would be silently dropped by any downstream
    * watermarked aggregate). Input needs withWatermark on the timestamp
    * column. Output: (key, t_ms, value, is_late). */
  def tagLate[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)])(
      implicit e1: Encoder[Long],
      e2: Encoder[(K, Long, Double, Boolean)]): Dataset[(K, Long, Double, Boolean)] = {

    def tag(key: K, rows: Iterator[(K, java.sql.Timestamp, Double)],
        state: GroupState[Long]): Iterator[(K, Long, Double, Boolean)] = {
      val wm = state.getCurrentWatermarkMs()
      rows.map(r => (key, r._2.getTime, r._3, r._2.getTime <= wm && wm > 0)).toList.iterator
    }

    ds.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(tag)
  }

  /** Fire triggers (windowing/triggers/): COUNT fires on every N-th pane
    * element (CountTrigger.java); DELTA fires when an element's value
    * drifts more than `threshold` from the value at the last firing
    * (DeltaTrigger.java — the first element sets the baseline without
    * firing). Both evaluated PER ELEMENT in event order, so a single
    * micro-batch can emit several partial fires. */
  sealed trait FireTrigger
  object FireTrigger {
    final case class CountT(every: Int) extends FireTrigger
    final case class DeltaT(threshold: Double) extends FireTrigger
    /** ContinuousEventTimeTrigger.java: fire each time event time crosses
      * the next `intervalMs` boundary (emulated per element in event
      * order — the boundary registry replaces Flink's timer chain). */
    final case class ContinuousEventTimeT(intervalMs: Long) extends FireTrigger
    /** PurgingTrigger.java: wrap any trigger; every firing also PURGES
      * the pane, so each partial reports only the slice since the last
      * fire and the final fire reports the remainder. */
    final case class Purging(inner: FireTrigger) extends FireTrigger
  }

  /** Evictors (windowing/evictors/): restrict each fire to the newest m
    * elements (CountEvictor.java) or to elements within the trailing
    * `ms` of the pane's newest element (TimeEvictor.java). */
  sealed trait Evict
  object Evict {
    final case class Count(m: Int) extends Evict
    final case class Time(ms: Long) extends Evict
  }

  /** Tumbling-window sum with a custom fire trigger and optional evictor:
    * emits ("partial", n, sum) on every trigger firing and ("final", n,
    * sum) when the watermark passes the window end. State per
    * (key, window) pane: the running (count, sum) aggregate, plus the
    * element buffer ONLY when an evictor is configured — Flink likewise
    * keeps the evictingWindowOperator's buffer only for evictor windows;
    * a plain triggered pane is O(1) state. Input: (key, ts, value) with a
    * watermark on ts. Output:
    * (key, window_start_ms, fire_kind, n_elements, sum). */
  def triggeredTumbleSum[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)],
      windowMs: Long, trigger: FireTrigger, evict: Option[Evict] = None)(
      implicit e1: Encoder[(K, Long)],
      e2: Encoder[(Seq[(Long, Double)], Long, Double, Int, Double)],
      e3: Encoder[(K, Long, String, Long, Double)])
      : Dataset[(K, Long, String, Long, Double)] = {

    def fireValue(buf: Seq[(Long, Double)], n: Long, sum: Double): (Long, Double) = {
      evict match {
        case None => (n, sum)
        case Some(ev) =>
          val sorted = buf.sortBy(_._1)
          val kept = ev match {
            case Evict.Count(m) => sorted.takeRight(m)
            case Evict.Time(ms) =>
              val newest = sorted.lastOption.map(_._1).getOrElse(0L)
              sorted.filter(_._1 >= newest - ms)
          }
          (kept.size.toLong, kept.map(_._2).sum)
      }
    }

    // state: (evictor buffer — empty unless an evictor is configured,
    // running count, running sum, baseline-set flag (0/1), trigger
    // baseline — unused for CountT)
    def update(key: (K, Long), rows: Iterator[(K, java.sql.Timestamp, Double)],
        state: GroupState[(Seq[(Long, Double)], Long, Double, Int, Double)])
        : Iterator[(K, Long, String, Long, Double)] = {
      val (k, winStart) = key
      if (state.hasTimedOut) {
        val (buf, n0, sum0, _, _) = state.get
        state.remove()
        val (n, sum) = fireValue(buf, n0, sum0)
        // Flink's WindowOperator skips timer fires over an EMPTY window:
        // a Purging trigger may have cleared the contents after its last
        // partial fire, and a zero-count "final" row is a parity
        // deviation (the same rule the partial-fire loop below applies)
        if (n == 0) Iterator.empty
        else Iterator((k, winStart, "final", n, sum))
      } else {
        var (buf, n, sum, baseSet, base) = state.getOption
          .getOrElse((Seq.empty[(Long, Double)], 0L, 0.0, 0, 0.0))
        val out = List.newBuilder[(K, Long, String, Long, Double)]
        // Purging wraps another trigger: unwrap ONCE per update call, and
        // without a recursive helper (which would lift onto the Lateness$
        // object and drag it into the task closure — NotSerializable)
        val (effective, purging) = trigger match {
          case FireTrigger.Purging(inner) => (inner, true)
          case t => (t, false)
        }
        rows.toSeq.sortBy(_._2.getTime).foreach { r =>
          val (t, v) = (r._2.getTime, r._3)
          if (evict.isDefined) buf = buf :+ ((t, v))
          n += 1
          sum += v
          val fireCount = effective match {
            case FireTrigger.CountT(every) => if (n % every == 0) 1 else 0
            case FireTrigger.DeltaT(threshold) =>
              if (baseSet == 0) { baseSet = 1; base = v; 0 }
              else if (math.abs(v - base) > threshold) { base = v; 1 }
              else 0
            case FireTrigger.ContinuousEventTimeT(interval) =>
              // `base` doubles as the next boundary; first element arms it.
              // An element can jump SEVERAL boundaries — Flink's
              // ContinuousEventTimeTrigger re-registers its timer per
              // interval and fires once per elapsed boundary
              // (ContinuousEventTimeTrigger.onEventTime re-registering
              // time + interval), so advance boundary-by-boundary and
              // fire for each one crossed, never floor straight past t.
              if (baseSet == 0) {
                baseSet = 1
                base = (math.floor(t.toDouble / interval) + 1) * interval
                0
              } else {
                var crossed = 0
                while (t >= base) { base += interval; crossed += 1 }
                crossed
              }
            case FireTrigger.Purging(_) =>
              throw new IllegalArgumentException("nested Purging triggers are not supported")
          }
          var fi = 0
          while (fi < fireCount) {
            // Flink's WindowOperator skips timer fires over an EMPTY
            // window: once FIRE_AND_PURGE cleared the contents, the
            // remaining boundaries crossed by this same element would
            // fire on nothing — emit only non-empty contents.
            if (n > 0) {
              val (fn, fsum) = fireValue(buf, n, sum)
              out += ((k, winStart, "partial", fn, fsum))
              if (purging) {
                buf = Seq.empty; n = 0L; sum = 0.0 // FIRE_AND_PURGE
              }
            }
            fi += 1
          }
        }
        state.update((buf, n, sum, baseSet, base))
        // final fire when the watermark passes the window end
        state.setTimeoutTimestamp(
          math.max(winStart + windowMs, state.getCurrentWatermarkMs() + 1))
        out.result().iterator
      }
    }

    import org.apache.spark.sql.functions.{col, expr}
    implicit val tsEnc: Encoder[java.sql.Timestamp] =
      org.apache.spark.sql.Encoders.TIMESTAMP
    implicit val dEnc: Encoder[Double] = org.apache.spark.sql.Encoders.scalaDouble
    implicit val lEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    val withWin = ds.toDF("k", "ts", "v")
      .withColumn("win_start",
        expr(s"CAST(FLOOR(CAST(ts AS DOUBLE) * 1000 / $windowMs) AS BIGINT) * $windowMs"))
    // withColumn (not .map) so the watermark on ts survives for the
    // event-time timeout — see the project's Spark-4 contract notes.
    withWin.select(col("k").as[K], col("ts").as[java.sql.Timestamp],
        col("v").as[Double], col("win_start").as[Long])
      .groupByKey(r => (r._1, r._4))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: (K, Long), rows: Iterator[(K, java.sql.Timestamp, Double, Long)],
            state: GroupState[(Seq[(Long, Double)], Long, Double, Int, Double)]) =>
          update(key, rows.map(r => (r._1, r._2, r._3)), state)
      }
  }

  /** Count-trigger convenience (the round-2 original surface). */
  def countTriggerTumbleSum[K: Encoder](
      ds: Dataset[(K, java.sql.Timestamp, Double)],
      windowMs: Long, every: Int, evictCount: Option[Int] = None)(
      implicit e1: Encoder[(K, Long)],
      e2: Encoder[(Seq[(Long, Double)], Long, Double, Int, Double)],
      e3: Encoder[(K, Long, String, Long, Double)])
      : Dataset[(K, Long, String, Long, Double)] =
    triggeredTumbleSum(ds, windowMs, FireTrigger.CountT(every),
      evictCount.map(Evict.Count))
}
