package graft.util

/** Memcmp-ordered sort-key encodings: every supported ORDER BY type maps
  * onto a String whose binary (code-point) order equals the type's SQL
  * order, so ONE comparator ranks any column — the role of the
  * reference's generated comparators behind
  * rank/ComparableRecordComparator.java:35 (Flink generates a
  * per-rowtype `GeneratedRecordComparator`; here the comparison is
  * pushed into the key ENCODING instead, the classic order-preserving
  * key-serialization trick, so the ranking state needs no per-type
  * comparator at all).
  *
  * All numeric encodings are fixed-width uppercase hex / decimal digits
  * (pure ASCII), so code-unit order, code-point order and UTF-8 byte
  * order all coincide for them. String keys pass through verbatim and
  * are compared with [[ordering]], which fixes up UTF-16 code-unit
  * order to code-point order (= Spark's UTF8_BINARY collation = UTF-8
  * byte order) — surrogate-encoded supplementary characters must sort
  * ABOVE the BMP range U+E000..U+FFFF, not below it.
  *
  * Methods are object members (static forwarders) so generated Java
  * (SortKeyExpr's doGenCode) calls them directly.
  */
object SortKey {

  /** 16-digit uppercase hex of a sign-flipped long: lexicographic order
    * of the encoding == signed numeric order of the input. */
  def ofLong(v: Long): String = {
    val biased = v ^ Long.MinValue // flip the sign bit: unsigned order == signed order
    f"$biased%016X"
  }

  /** IEEE-754 total order for doubles (the order Spark's own sort uses:
    * -Inf < finite < +Inf < NaN): positive payloads get the sign bit
    * set, negative payloads are bit-complemented (reversing their
    * magnitude order). `doubleToLongBits` canonicalizes NaN to
    * 0x7FF8... which lands above +Inf — matching Spark's NaN-greatest
    * semantics. */
  def ofDouble(v: Double): String = {
    val bits = java.lang.Double.doubleToLongBits(v)
    val ordered = if (bits >= 0L) bits ^ Long.MinValue else ~bits
    f"$ordered%016X"
  }

  private val Shift39 = java.math.BigInteger.TEN.pow(39)

  /** Sign character + 39 fixed decimal digits of the unscaled value at
    * the column's declared scale (exact for any DECIMAL(p<=38,s) —
    * Spark decimals carry one scale per column). Negatives encode as
    * the tens' complement (10^39 + unscaled), so '0'-prefixed negatives
    * sort below '1'-prefixed non-negatives and ascend correctly within
    * themselves. */
  def ofDecimal(v: java.math.BigDecimal, scale: Int): String = {
    val unscaled = v.setScale(scale).unscaledValue()
    require(unscaled.abs.compareTo(Shift39) < 0,
      s"decimal sort key out of range (precision > 39 digits): $v")
    if (unscaled.signum() >= 0) "1" + pad39(unscaled)
    else "0" + pad39(Shift39.add(unscaled))
  }

  private def pad39(v: java.math.BigInteger): String = {
    val s = v.toString
    "0" * (39 - s.length) + s
  }

  /** Code-POINT order for Java strings (== UTF-8 byte order == Spark's
    * UTF8_BINARY collation). Differs from naive UTF-16 code-unit order
    * only when a surrogate (U+D800..U+DFFF, the encoding of
    * supplementary characters) meets a BMP char in U+E000..U+FFFF: the
    * supplementary character must sort ABOVE. Pure-ASCII inputs (all
    * numeric encodings above) are unaffected. */
  val ordering: Ordering[String] = new Ordering[String] {
    override def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.charAt(i); val cb = b.charAt(i)
        if (ca != cb) return Integer.compare(canon(ca), canon(cb))
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
  }

  /** The code-unit → code-point-order bijection on chars: surrogates
    * (U+D800..U+DFFF) shift above all of BMP, BMP chars above the
    * surrogate block shift down. A string mapped char-by-char through
    * this compares in CODE-POINT order under plain code-unit
    * comparison. */
  @inline private[util] def canon(c: Char): Int =
    if (c >= 0xE000) c - 0x800
    else if (c >= 0xD800) c + 0x2000
    else c

  // ---- composite FIELD encodings (multi-column ORDER BY) ------------
  //
  // A composite sort key is the plain concatenation of per-item FIELD
  // encodings; code-unit order of the concatenation == the tuple's SQL
  // order with each item's direction respected. Direction is baked
  // into the field (an inverted encoding), so the ranking state always
  // sorts ASCENDING with java.lang.String's natural order — the role
  // of the reference's generated composite comparators
  // (ComparableRecordComparator.java:35 over multiple sort fields).
  //
  //  - fixed-width fields (long/double/decimal encodings — hex or
  //    decimal digits) need no delimiter: every value of the column
  //    encodes to the same width. DESC = per-char complement over the
  //    hex alphabet (an order-reversing bijection per position).
  //  - string fields are variable-width: chars are canonicalized to
  //    code-point order, the lowest two (ASC) / highest two (DESC)
  //    code units are escaped behind a lead char, and a terminator
  //    (the one value content can never start with) closes the field,
  //    so prefixes order correctly in BOTH directions ("a" < "ab" in
  //    ASC; "ab" < "a" in DESC) and a following field can never bleed
  //    into the comparison.

  /** Per-char complement of a fixed-width '0'-'9'/'A'-'F' encoding —
    * reverses its order (DESC fields). */
  def invertFixed(enc: String): String = {
    val arr = new Array[Char](enc.length)
    var i = 0
    while (i < enc.length) {
      val c = enc.charAt(i)
      val v = if (c <= '9') c - '0' else c - 'A' + 10
      val iv = 15 - v
      arr(i) = if (iv < 10) ('0' + iv).toChar else ('A' + iv - 10).toChar
      i += 1
    }
    new String(arr)
  }

  def fieldLong(v: Long, asc: Boolean): String =
    if (asc) ofLong(v) else invertFixed(ofLong(v))

  def fieldDouble(v: Double, asc: Boolean): String =
    if (asc) ofDouble(v) else invertFixed(ofDouble(v))

  /** Inverse of [[fieldDouble]] (all double encodings are bijective 16-hex
    * fields; NaN decodes to the canonical NaN [[ofDouble]] encoded):
    * recovers a Double score from the sort key a ranked changelog
    * emits. */
  def decodeFieldDouble(enc: String, asc: Boolean): Double = {
    val e = if (asc) enc else invertFixed(enc)
    val ordered = java.lang.Long.parseUnsignedLong(e, 16)
    val bits = if (ordered < 0L) ordered ^ Long.MinValue else ~ordered
    java.lang.Double.longBitsToDouble(bits)
  }

  def fieldDecimal(v: java.math.BigDecimal, scale: Int, asc: Boolean): String =
    if (asc) ofDecimal(v, scale) else invertFixed(ofDecimal(v, scale))

  /** Boolean field: false < true (SQL order), one fixed-width hex digit
    * so [[invertFixed]] bakes DESC like every numeric field. */
  def fieldBoolean(v: Boolean, asc: Boolean): String = {
    val e = if (v) "1" else "0"
    if (asc) e else invertFixed(e)
  }

  /** Binary field: unsigned-lexicographic order (Spark's BinaryType
    * comparison), each byte as two hex digits. Variable width needs the
    * prefix rule, but content chars are always '0'..'F' so no escaping
    * is needed: ASC terminates with U+0000 (below every content char —
    * a prefix ranks first), DESC complements each digit per
    * [[invertFixed]] and terminates with U+FFFF (above every content
    * char — a prefix ranks last, i.e. first in the reversed order). */
  def fieldBinary(v: Array[Byte], asc: Boolean): String = {
    val sb = new java.lang.StringBuilder(v.length * 2 + 1)
    @inline def hex(d: Int): Char =
      (if (d < 10) '0' + d else 'A' + d - 10).toChar
    var i = 0
    while (i < v.length) {
      val b = v(i) & 0xFF
      if (asc) { sb.append(hex(b >>> 4)); sb.append(hex(b & 0xF)) }
      else { sb.append(hex(15 - (b >>> 4))); sb.append(hex(15 - (b & 0xF))) }
      i += 1
    }
    sb.append(if (asc) '\u0000' else '\uFFFF')
    sb.toString
  }

  /** Delimited, direction-baked string field (see the block comment):
    * ASC terminates with U+0000 and escapes content U+0000/U+0001
    * behind a U+0001 lead; DESC complements each canonicalized char
    * (0xFFFF - c), terminates with U+FFFF and escapes content
    * U+FFFE/U+FFFF behind a U+FFFE lead. */
  def fieldString(s: String, asc: Boolean): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    var i = 0
    while (i < s.length) {
      val cp = canon(s.charAt(i))
      if (asc) {
        val d = cp.toChar
        if (d <= '\u0001') { sb.append('\u0001'); sb.append(d) }
        else sb.append(d)
      } else {
        val d = (0xFFFF - cp).toChar
        if (d >= '\uFFFE') { sb.append('\uFFFE'); sb.append(d) }
        else sb.append(d)
      }
      i += 1
    }
    sb.append(if (asc) '\u0000' else '\uFFFF')
    sb.toString
  }
}
