package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Explicit-changelog layer: Spark has no engine-level RowKind
  * (flink-core .../types/RowKind.java:31 — +I/-U/+U/-D flows through every
  * Flink streaming operator), so we adopt the SURVEY.md §7.6 convention: a
  * `row_kind` string column carried explicitly, produced by CDC decoders
  * and consumed by the changelog operators below.
  */
object Cdc {

  val RowKind = "row_kind"
  val Insert = "+I"
  val UpdateBefore = "-U"
  val UpdateAfter = "+U"
  val Delete = "-D"

  /** One change entry: kind + payload row. */
  private def change(kind: String, payload: Column): Column =
    struct(lit(kind).as(RowKind), payload.as("p"))

  /** Explode per-message change arrays into the flat changelog —
    * ONE source scan + one Generate, the q71 shape (Flink's
    * DeserializationSchema emits 1-2 rows from one deserialize pass; the
    * previous 4-branch filter+union paid four scans + four JSON parses of
    * the same source per batch). A null `changes` (unknown op) explodes
    * to nothing, preserving the drop-unknown behavior. */
  private def emit(parsed: DataFrame, cdcTs: Column, changes: Column): DataFrame =
    parsed.select(cdcTs.as("cdc_ts"), explode(changes).as("c"))
      .select(col("c." + RowKind).as(RowKind), col("cdc_ts"), col("c.p.*"))

  /** Decode a Debezium JSON envelope stream (columns: `value` string) into
    * flat rows + row_kind. Emits -U/+U pairs for updates like Flink's
    * debezium-json format (flink-formats/flink-json/.../debezium/
    * DebeziumJsonDeserializationSchema.java).
    * `payloadSchema` is the row schema of before/after. */
  def decodeDebezium(raw: DataFrame, payloadSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("op", "string").add("ts_ms", "long")
      .add("before", payloadSchema).add("after", payloadSchema)
    val parsed = raw.select(from_json(col("value"), envelope).as("e"))
    emit(parsed, col("e.ts_ms"),
      when(col("e.op").isin("c", "r"), array(change(Insert, col("e.after"))))
        .when(col("e.op") === "d", array(change(Delete, col("e.before"))))
        .when(col("e.op") === "u", array(
          change(UpdateBefore, col("e.before")),
          change(UpdateAfter, col("e.after")))))
  }

  /** Decode a Debezium AVRO envelope stream (columns: `value` binary) —
    * the debezium-avro format role (flink-formats/
    * flink-avro-confluent-registry/.../debezium/DebeziumAvroFormatFactory
    * .java, minus the schema-registry wire prefix: the envelope schema is
    * supplied by the caller, as it would come from the registry). The
    * envelope is a RECORD OF RECORDS — op/ts_ms plus nested before/after
    * payload rows — decoded by the record-level codec's nested surface,
    * then mapped to the same +I/-U/+U/-D changelog as [[decodeDebezium]]. */
  def decodeDebeziumAvro(raw: DataFrame, payloadSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("op", "string").add("ts_ms", "long")
      .add("before", payloadSchema).add("after", payloadSchema)
    val parsed = graft.sources.AvroFormat.decode(raw, envelope)
    emit(parsed, col("ts_ms"),
      when(col("op").isin("c", "r"), array(change(Insert, col("after"))))
        .when(col("op") === "d", array(change(Delete, col("before"))))
        .when(col("op") === "u", array(
          change(UpdateBefore, col("before")),
          change(UpdateAfter, col("after")))))
  }

  /** Decode a Canal JSON envelope stream (columns: `value` string) into
    * flat rows + row_kind — flink-formats/flink-json/.../canal/
    * CanalJsonDeserializationSchema.java. Canal BATCHES rows: one message
    * carries `data` as an ARRAY of rows; for UPDATE, `old[i]` holds only
    * the CHANGED fields' before-values, so the emitted -U row is data[i]
    * overlaid with old[i] (same per-field fallback as Flink's decoder;
    * like it, a field updated TO null is indistinguishable from an
    * unchanged one in the parsed struct). `es` is the source change time
    * in ms and becomes `cdc_ts`. */
  def decodeCanal(raw: DataFrame, payloadSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("data", org.apache.spark.sql.types.ArrayType(payloadSchema))
      .add("old", org.apache.spark.sql.types.ArrayType(payloadSchema))
      .add("type", "string").add("es", "long")
    val exploded = raw.select(from_json(col("value"), envelope).as("e"))
      .select(upper(col("e.type")).as("__op"), col("e.es").as("cdc_ts"),
        col("e.old").as("__olds"),
        posexplode(col("e.data")).as(Seq("__i", "__row")))
      .withColumn("__oldrow", try_element_at(col("__olds"), col("__i") + 1))
    val mergedBefore = struct(payloadSchema.fields.toSeq.map(f =>
      coalesce(col("__oldrow").getField(f.name), col("__row").getField(f.name))
        .as(f.name)): _*)
    emit(exploded, col("cdc_ts"),
      when(col("__op") === "INSERT", array(change(Insert, col("__row"))))
        .when(col("__op") === "DELETE", array(change(Delete, col("__row"))))
        .when(col("__op") === "UPDATE", array(
          change(UpdateBefore, mergedBefore),
          change(UpdateAfter, col("__row")))))
  }

  /** Decode a Maxwell JSON envelope stream — flink-formats/flink-json/
    * .../maxwell/MaxwellJsonDeserializationSchema.java. One row per
    * message (`data` is a single object); for update, `old` carries the
    * changed fields' before-values, overlaid onto `data` for the -U row
    * exactly as in the canal decoder. Maxwell's `ts` is SECONDS — emitted
    * as ms in `cdc_ts` so every decoder shares one clock unit. */
  def decodeMaxwell(raw: DataFrame, payloadSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("data", payloadSchema).add("old", payloadSchema)
      .add("type", "string").add("ts", "long")
    val parsed = raw.select(from_json(col("value"), envelope).as("e"))
      .select(lower(col("e.type")).as("__op"), (col("e.ts") * 1000L).as("cdc_ts"),
        col("e.data").as("__row"), col("e.old").as("__oldrow"))
    val mergedBefore = struct(payloadSchema.fields.toSeq.map(f =>
      coalesce(col("__oldrow").getField(f.name), col("__row").getField(f.name))
        .as(f.name)): _*)
    emit(parsed, col("cdc_ts"),
      when(col("__op") === "insert", array(change(Insert, col("__row"))))
        .when(col("__op") === "delete", array(change(Delete, col("__row"))))
        .when(col("__op") === "update", array(
          change(UpdateBefore, mergedBefore),
          change(UpdateAfter, col("__row")))))
  }

  /** Decode an Oracle GoldenGate (Ogg) JSON envelope stream —
    * flink-formats/flink-json/.../ogg/OggJsonDeserializationSchema.java.
    * Debezium-like shape with different field names: full `before` and
    * `after` images, `op_type` I/U/D, `current_ts` an ISO timestamp
    * (parsed to ms in `cdc_ts`). */
  def decodeOgg(raw: DataFrame, payloadSchema: StructType): DataFrame = {
    val envelope = new StructType()
      .add("before", payloadSchema).add("after", payloadSchema)
      .add("op_type", "string").add("current_ts", "string")
    val parsed = raw.select(from_json(col("value"), envelope).as("e"))
      .withColumn("cdc_ts",
        (unix_micros(to_timestamp(col("e.current_ts"))) / 1000L).cast("long"))
    emit(parsed, col("cdc_ts"),
      when(upper(col("e.op_type")) === "I", array(change(Insert, col("e.after"))))
        .when(upper(col("e.op_type")) === "D", array(change(Delete, col("e.before"))))
        .when(upper(col("e.op_type")) === "U", array(
          change(UpdateBefore, col("e.before")),
          change(UpdateAfter, col("e.after")))))
  }

  /** Drop -U rows (flink-table-runtime .../misc/DropUpdateBeforeFunction
    * .java) — legal whenever the downstream operator is upsert-keyed. */
  def dropUpdateBefore(changelog: DataFrame): DataFrame =
    changelog.filter(col(RowKind) =!= UpdateBefore)

  /** SinkUpsertMaterializer (flink-table-runtime .../sink/
    * SinkUpsertMaterializer.java): collapse a changelog batch to the final
    * per-key row before writing to an upsert sink. Keeps the row with the
    * greatest (orderCol, tieBreak); keys whose last change is a delete are
    * dropped. Run inside foreachBatch.
    *
    * @param insertAfterDelete tie-break orientation at an IDENTICAL
    *   (orderCol, tieBreak) position. Default `false`: a -D outranks
    *   +I/+U at the same position, so a delete+re-insert pair sharing one
    *   change position loses the row — the conservative failure, and the
    *   only safe reading when the tie could be an update's own -U/+U pair
    *   racing an unrelated delete. Debezium-style sources that REUSE the
    *   source offset for a delete+insert pair and guarantee arrival order
    *   within the tie should pass `true`: the insert is ranked after the
    *   delete and the row survives. */
  def upsertMaterialize(
      changelog: DataFrame, keys: Seq[String],
      orderCol: String, tieBreak: String,
      insertAfterDelete: Boolean = false): DataFrame = {
    // At equal (orderCol, tieBreak): the -U/+U pair one update emits puts
    // the after-image (+I/+U) logically later than its before-image, and
    // (by default) a -D outranks both — an insert+delete landing on the
    // same change position must NOT resurrect the row. Callers wanting
    // exact Flink arrival-order semantics must supply a strict per-key
    // (orderCol, tieBreak) total order, under which this rank only ever
    // arbitrates a single update's own pair.
    val kindRank =
      if (insertAfterDelete)
        when(col(RowKind).isin(Insert, UpdateAfter), 2)
          .when(col(RowKind) === Delete, 1).otherwise(0)
      else
        when(col(RowKind) === Delete, 2)
          .when(col(RowKind).isin(Insert, UpdateAfter), 1).otherwise(0)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc, kindRank.desc)
    changelog
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(RowKind).isin(Insert, UpdateAfter))
      .drop("__rn")
  }
}
