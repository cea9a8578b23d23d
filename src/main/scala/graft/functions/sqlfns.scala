package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Gap-fill scalar functions: the few Flink built-ins with no direct Spark
  * equivalent (SURVEY.md §2.9), as Column-level compositions of codegen'd
  * built-ins (no UDFs).
  *
  * Reference: SPLIT_INDEX (BuiltInFunctionDefinitions.java:923),
  * IS_DECIMAL / IS_DIGIT / IS_ALPHA (FlinkSqlOperatorTable.java:276-295).
  */
object sqlfns {

  /** SPLIT_INDEX(str, delim, i) — i is 0-based like Flink; delim is a
    * literal string (quoted before hitting the regex-based split). Returns
    * null when out of range OR negative, matching Flink — without the
    * guard, i = -1 built element_at(0) (unconditional runtime error) and
    * i <= -2 silently counted from the END of the array. */
  def splitIndex(s: Column, delim: String, i: Int): Column =
    if (i < 0) lit(null).cast("string")
    else try_element_at(split(s, java.util.regex.Pattern.quote(delim)), lit(i + 1))

  /** IS_DECIMAL(str): can the string be parsed as a decimal number. */
  def isDecimal(c: Column): Column =
    c.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")

  /** IS_DIGIT(str): all characters are digits. */
  def isDigit(c: Column): Column = c.rlike("^[0-9]+$")

  /** IS_ALPHA(str): all characters are letters. */
  def isAlpha(c: Column): Column = c.rlike("^[A-Za-z]+$")

  // --- SQL/JSON-path functions (BuiltInFunctionDefinitions.java:1825-1951,
  // runtime semantics in flink-table-runtime .../SqlJsonUtils.java). Built
  // on Spark's codegen'd get_json_object, which implements the same lax
  // JSONPath dialect ($.a.b[0]); the SQL-standard scalar/structure
  // distinction is layered on top. Caveat shared with Flink's lax mode:
  // a STRING scalar whose text itself starts with '{' or '[' is
  // indistinguishable from a structure after extraction. ---

  /** JSON_VALUE(j, path [DEFAULT d ON EMPTY]): the scalar at `path` as a
    * string; a missing path or a non-scalar (object/array) yields
    * `onEmpty` (SQL standard: JSON_VALUE returns scalars only). */
  def jsonValue(j: Column, path: String, onEmpty: Column = lit(null)): Column = {
    val v = get_json_object(j, path)
    when(v.isNotNull && !v.startsWith("{") && !v.startsWith("["), v)
      .otherwise(onEmpty)
  }

  /** JSON_QUERY(j, path): the object/array at `path` as compact JSON
    * text; scalars and missing paths yield NULL (SQL standard WITHOUT
    * ARRAY WRAPPER behavior, Flink's default). */
  def jsonQuery(j: Column, path: String): Column = {
    val v = get_json_object(j, path)
    when(v.startsWith("{") || v.startsWith("["), v)
  }

  /** JSON_EXISTS(j, path): does the path resolve to any value. (A JSON
    * null at the path reads as missing — get_json_object's conflation,
    * documented as this dialect's lax behavior.) */
  def jsonExists(j: Column, path: String): Column =
    get_json_object(j, path).isNotNull

  /** SUM0 (BuiltInFunctionDefinitions SUM0): SUM that returns 0, not
    * NULL, over an empty/all-NULL group — the planner's aggregate for
    * COUNT-like rollups. */
  def sum0(c: Column): Column = coalesce(sum(c), lit(0L))

  /** JSON_STRING(value) — serialize any value to JSON text (Flink
    * JSON_STRING; NULL in, NULL out). Scalars go through a one-field
    * struct (to_json rejects bare scalars), then the `{"v":...}`
    * wrapper is stripped; structs/arrays/maps serialize directly. */
  def jsonString(c: Column): Column = {
    val w = to_json(struct(c.as("v"))) // {"v":<json>}
    when(c.isNull, lit(null).cast("string"))
      .otherwise(w.substr(lit(6), length(w) - 6))
  }

  /** IS_JSON predicate (BuiltInFunctionDefinitions IS_JSON): does the
    * string parse as JSON. Built on get_json_object's root extraction —
    * shares this dialect's lax caveat that the JSON literal `null` reads
    * as missing and reports false. */
  def isJson(j: Column): Column = get_json_object(j, "$").isNotNull

  // --- JSON constructors (BuiltInFunctionDefinitions JSON_OBJECT /
  // JSON_ARRAY; runtime in SqlJsonUtils). Built on codegen'd to_json over
  // a struct/array, so values keep their SQL types (BIGINT unquoted,
  // STRING quoted, nested struct/array columns nest as JSON structures
  // rather than double-encoded text). ---

  /** JSON_OBJECT('k1' VALUE v1, ...): compact JSON object with keys in
    * declaration order. `nullOnNull = true` (Flink's default NULL ON
    * NULL) serializes SQL NULL values as JSON null; false (ABSENT ON
    * NULL) omits the key. */
  def jsonObject(nullOnNull: Boolean, pairs: (String, Column)*): Column = {
    require(pairs.nonEmpty, "JSON_OBJECT needs at least one key")
    to_json(struct(pairs.map { case (k, v) => v.as(k) }: _*),
      Map("ignoreNullFields" -> (!nullOnNull).toString))
  }

  def jsonObject(pairs: (String, Column)*): Column =
    jsonObject(nullOnNull = true, pairs: _*)

  /** JSON_ARRAY over an array column. `nullOnNull = false` (Flink's
    * default ABSENT ON NULL) drops SQL NULL elements; true keeps them as
    * JSON null. */
  def jsonArray(arr: Column, nullOnNull: Boolean = false): Column = {
    val src = if (nullOnNull) arr else filter(arr, _.isNotNull)
    to_json(src, Map("ignoreNullFields" -> "false"))
  }

  // --- Function-parity stragglers (FUNCTIONS.md): the expressible
  // BuiltInFunctionDefinitions entries Spark lacks verbatim. ---

  /** `(lStart, lEnd) OVERLAPS (rStart, rEnd)` — TEMPORAL_OVERLAPS
    * (BuiltInFunctionDefinitions.java:1493, validation in
    * flink-table-planner .../expressions/time.scala:118). Calcite's
    * standard-SQL lowering Flink inherits: each period is normalized so
    * start <= end, endpoints inclusive — overlap iff
    * max(starts) <= min(ends). An `end` given as an INTERVAL is added to
    * its start by the caller (Spark intervals add with `+`). */
  def temporalOverlaps(lStart: Column, lEnd: Column,
      rStart: Column, rEnd: Column): Column =
    greatest(least(lStart, lEnd), least(rStart, rEnd)) <=
      least(greatest(lStart, lEnd), greatest(rStart, rEnd))

  /** TRUNCATE(x, d): round toward zero at d decimal digits (Flink
    * BuiltInFunctionDefinitions.java TRUNCATE; SqlFunctions-style
    * scale-shift). d may be negative (truncates to tens/hundreds).
    * Codegen-friendly: floor/ceil by sign at the shifted scale. */
  def truncateNum(x: Column, d: Int): Column = {
    val shift = pow(lit(10.0), lit(d))
    (when(x >= 0, floor(x * shift)).otherwise(ceil(x * shift)) / shift)
  }

  /** RAND_INTEGER(bound) — DETERMINISTIC form: Flink's is a stateful
    * JDK Random per task (BuiltInFunctionDefinitions RAND_INTEGER),
    * which no distributed re-run can reproduce; this derives the draw
    * from a seed expression (e.g. the row key) through the same
    * Mersenne-61 universal family the MinHash oracle alignment uses
    * (`MinHashParams`), so results are stable under any partitioning AND
    * SQL-recomputable by an oracle engine: ((a*x + b) mod (2^61-1)) mod
    * bound, with x = seed masked to 60 bits and a/b the family's
    * member-777 constants. DECIMAL(38,0) holds the 122-bit product
    * exactly; the whole expression stays in codegen. */
  def randInteger(seedExpr: Column, bound: Int): Column = {
    require(bound > 0, "RAND_INTEGER bound must be positive")
    val d38 = "decimal(38,0)"
    val x = seedExpr.cast("long")
      .bitwiseAND(lit(MinHashParams.Mask60)).cast(d38)
    val prod = x * lit(MinHashParams.aFor(777)).cast(d38) +
      lit(MinHashParams.bFor(777)).cast(d38)
    ((prod % lit(MinHashParams.M61).cast(d38)) % lit(bound.toLong).cast(d38))
      .cast("int")
  }
}
