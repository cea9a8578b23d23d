package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative Structured Streaming counterparts of the Flink streaming
  * relational operators (SURVEY.md §2.10) that Spark has no one-call
  * form for: the value is pinning the exact watermark/window/output-mode
  * recipe that reproduces Flink semantics, and keeping user code
  * declarative so micro-batch planning, state store choice and RocksDB
  * spill stay Spark's problem. (TUMBLE/SESSION aggregation is Spark's
  * own `window`/`session_window`, which WindowTvfSql lowers the SQL
  * forms onto; keep-first dedup within the watermark horizon is
  * Spark's `dropDuplicatesWithinWatermark`.)
  *
  * Reference:
  *  - watermark assignment: flink-table-runtime
  *    .../wmassigners/WatermarkAssignerOperator.java (bounded out-of-order
  *    strategy = WatermarkStrategy.forBoundedOutOfOrderness,
  *    flink-core .../eventtime/WatermarkStrategy.java:225)
  *  - window join: .../join/window/WindowJoinOperator.java
  *  - interval join: .../join/interval/TimeIntervalJoin.java
  */
object StreamOps {

  /** Idleness-tolerant multi-source union — the `WatermarkStrategy
    * .withIdleness` analog (flink-core .../eventtime/WatermarkStrategy
    * .java:147, WatermarksWithIdleness.java). Flink marks a source that
    * has emitted nothing for the idleness duration as idle and EXCLUDES
    * it from the combined-watermark min, so one silent Kafka partition
    * cannot freeze event time for the whole job. Structured Streaming's
    * combined watermark over a union is governed by
    * `spark.sql.streaming.multipleWatermarkPolicy`: the default `min`
    * reproduces Flink's NON-idle combination (a silent source pins the
    * global watermark forever — exactly the failure withIdleness exists
    * to fix); `max` advances with the fastest source, which subsumes
    * idleness handling (an idle source never contributes the max) but is
    * WIDER than Flink's semantics: a slow-but-ACTIVE source's late rows
    * become droppable too. That trade is inherent to the knob being
    * job-global rather than per-source; this helper pins the policy,
    * documents the delta, and returns the watermarked union. Each input
    * is (DataFrame, tsCol, maxOutOfOrder); columns must align.
    *
    * CONTRACT — session-global blast radius:
    * `spark.sql.streaming.multipleWatermarkPolicy` is a SESSION conf read
    * at each streaming query's START, not per-query state. Calling this
    * helper therefore changes the watermark-combination semantics of
    * EVERY multi-watermark streaming query subsequently started on the
    * same SparkSession — including ones whose DataFrames were built
    * before the call. With `max`, late rows from a slow-but-active source
    * become droppable job-wide. The helper refuses to fight the caller:
    * if the session policy already matches the requested mode it touches
    * nothing; if it must change the value it emits a WARN naming the old
    * and new policy (restore-on-return would be wrong — the value must
    * still be set when the caller starts the query). Sessions running
    * unrelated streaming queries should isolate via `spark.newSession()`
    * or set the policy themselves and pass the matching `tolerateIdle`.
    */
  def idleTolerantUnion(
      inputs: Seq[(DataFrame, String, String)],
      tolerateIdle: Boolean = true): DataFrame = {
    require(inputs.nonEmpty, "idleTolerantUnion: no inputs")
    val spark = inputs.head._1.sparkSession
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val want = if (tolerateIdle) "max" else "min"
    val have = spark.conf.getOption(key)
    if (!have.contains(want)) {
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"idleTolerantUnion: changing session-global $key " +
          s"${have.fold("(unset)")(v => s"'$v'")} -> '$want'; this affects " +
          "every multi-watermark streaming query started on this " +
          "SparkSession from now on (see method contract)")
      spark.conf.set(key, want)
    }
    inputs.map { case (df, ts, ooo) => df.withWatermark(ts, ooo) }
      .reduce(_ unionByName _)
  }

  /** Streaming WINDOW JOIN (flink-table-runtime
    * .../join/window/WindowJoinOperator.java:66, exec node
    * StreamExecWindowJoin): both streams bucket into the SAME tumbling
    * window, then equi-join on (window, keys). Spark's native
    * stream-stream join accepts window-column equality as its state
    * eviction bound — when the shared watermark passes a window's end,
    * both sides drop that window's state, exactly the reference's
    * per-window state cleanup — so the lowering is the built-in join on
    * the `window()` bucket column, no custom stateful op. Inner and
    * outer types: an outer side's unmatched rows null-pad once their
    * window expires (the WindowJoinOperator emit-on-window-end rule).
    *
    * Both sides' payload columns must be pre-projected to distinct
    * names (usual join hygiene); the bucket column comes back as
    * `w` (struct start/end). At 100 TB the join shuffles on
    * (window, keys) — the same hash exchange the reference's window
    * join uses, with AQE handling skewed windows. */
  def windowJoin(
      left: DataFrame, leftTs: String, right: DataFrame, rightTs: String,
      maxOutOfOrder: String, windowSize: String, keys: Seq[String],
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "windowJoin needs at least one equi-join key")
    // "w" is the reserved bucket column — silently overwriting a payload
    // column of that name would corrupt caller data
    require(!left.columns.contains("w") && !right.columns.contains("w"),
      "windowJoin reserves the column name 'w' for the window bucket; " +
        "rename the input's 'w' column first")
    val l = left.withWatermark(leftTs, maxOutOfOrder)
      .withColumn("w", window(col(leftTs), windowSize))
    val r = right.withWatermark(rightTs, maxOutOfOrder)
      .withColumn("w", window(col(rightTs), windowSize))
    if (joinType.replace("_", "").equalsIgnoreCase("leftanti")) {
      // Spark has no stream-stream LeftAnti: lower onto left_outer +
      // right-null filter — the null pad emits exactly when the window
      // expires with no match, which IS the window anti join's
      // emit-on-window-end rule (the right's watermark column is never
      // null on a real match, so it is the null-test column). Each side
      // exposes exactly ONE event-time column for the anti-shaped state
      // watermark — the bucket keeps its tag through the join (it drives
      // per-window eviction), the raw ts columns travel untagged — and
      // the output keeps the SAME (w struct + left columns) shape as the
      // other join types, with every event-time tag stripped: the anti
      // join is terminal by contract, since with no event-time column no
      // second stateful operator can chain behind it (Spark's
      // one-event-time-column rule would reject that anyway). Columns
      // resolve by LINEAGE (lAnti(c)), so shared left/right names —
      // including both ts columns being named "ts" — stay unambiguous.
      val md = org.apache.spark.sql.types.Metadata.empty
      val lAnti = l.withColumn(leftTs, col(leftTs).as(leftTs, md))
      val rAnti = r.withColumn(rightTs, col(rightTs).as(rightTs, md))
      lAnti.join(rAnti, Seq("w") ++ keys, "left_outer")
        .filter(rAnti(rightTs).isNull)
        .select((Seq(col("w").as("w", md)) ++ keys.map(col) ++
          left.columns.filterNot(keys.contains)
            .map(c => lAnti(c).as(c, md))): _*)
    } else l.join(r, Seq("w") ++ keys, joinType)
  }

  /** Stream-stream interval join: right rows within
    * [left.ts + lowerBound, left.ts + upperBound]. Both sides must carry
    * watermarks; Spark bounds state exactly like Flink's interval join
    * cleans up by watermark. */
  def intervalJoin(
      left: DataFrame, leftTs: String, right: DataFrame, rightTs: String,
      maxOutOfOrder: String, joinKey: Column,
      lowerBound: String, upperBound: String): DataFrame = {
    val l = left.withWatermark(leftTs, maxOutOfOrder)
    val r = right.withWatermark(rightTs, maxOutOfOrder)
    l.join(r, joinKey &&
      col(rightTs) >= col(leftTs) + expr(s"INTERVAL $lowerBound") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upperBound"))
  }
}
