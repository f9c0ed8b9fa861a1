package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.lang.{StringBuilder => Buf}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** How timestamps render — CLI `-t/--timestamp {isostr|ticks|unixms}`,
  * default isostr (`/root/reference/pq2json/src/main.rs:60-73`,
  * `settings.rs:12-17`). */
sealed trait TimestampMode
object TimestampMode {
  case object IsoStr extends TimestampMode
  case object Ticks extends TimestampMode
  case object UnixMs extends TimestampMode
  def parse(s: String): TimestampMode = s match {
    case "isostr" => IsoStr
    case "ticks"  => Ticks
    case "unixms" => UnixMs
    case other    => throw new IllegalArgumentException(
      s"timestamp mode must be isostr|ticks|unixms, got '$other'")
  }
}

/** Render options — the reference's `Settings` minus I/O paths
  * (`/root/reference/pq2json/src/settings.rs:1-10`). `prune` = all three
  * omissions (`main.rs:41-51,137-140`). */
final case class KustoRenderOptions(
    omitNulls: Boolean = false,
    omitEmptyBags: Boolean = false,
    omitEmptyLists: Boolean = false,
    convertTypes: Boolean = false,
    timestampMode: TimestampMode = TimestampMode.IsoStr,
    // dotted paths of parquet UINT64 columns (from the file FOOTER —
    // ParquetMetadata.unsignedInt64Paths): Spark surfaces u64 as
    // Decimal(20,0), schema-indistinguishable from a true decimal, but
    // the reference renders raw u64 as a bare unsigned JSON NUMBER
    // (`converter.rs:296-302`). Empty when no footer is available (the
    // engine-API path), which keeps the decimal-string rendering.
    unsignedPaths: Set[String] = Set.empty) {
  def pruned: KustoRenderOptions =
    copy(omitNulls = true, omitEmptyBags = true, omitEmptyLists = true)
}

/** Renders a Spark `InternalRow` of any schema straight to Kusto JSON or CSV
  * text with the reference's exact rendering semantics
  * (`/root/reference/pq2json/src/converter.rs:95-303`):
  *
  *   - float/double: NaN/±Inf -> null (`:291-295`)
  *   - decimal: plain non-scientific string, scale-padded (`:345-371` —
  *     `BigDecimal.toPlainString` is the same algorithm)
  *   - binary: JSON array of unsigned byte numbers (`:283-289`)
  *   - date: "yyyy-MM-dd"; negative days (u32 reinterpret overflow) -> null
  *     (`:334-343`)
  *   - timestamp: micros truncated to millis (`:117-120`), then
  *     ticks (overflow->null, `:307-316`) / 6-fraction-digit ISO UTC
  *     (`:318-328`) / raw unix millis (`:330`)
  *   - struct: JSON object, omit-nulls / empty-bag->null (`:214-230`)
  *   - array: JSON array, empty-list->null (`:232-245`)
  *   - map: JSON object with stringified primitive keys (`:247-281`);
  *     non-primitive keys rejected at plan time instead of the reference's
  *     runtime panic (`:266`)
  *
  * Each field's [[KustoRowRenderer.Writer]] is bound once per schema (driver
  * side), so the per-row hot loop does no type dispatch and builds no value
  * tree. A writer appends the field's text and returns true, or appends
  * nothing and returns false when the value renders as null; objects and
  * lists prune by truncating the buffer back to a recorded length.
  *
  * `csv` applies to this schema's own fields only: they render as CSV fields
  * (`value_to_csv`, `converter.rs:190-208`) — strings, decimals, dates and
  * ISO timestamps raw, floats with trailing zeros stripped — while nested
  * values stay embedded JSON.
  */
final class KustoRowRenderer(schema: StructType, opts: KustoRenderOptions,
    csv: Boolean = false, pathPrefix: String = "") extends Serializable {

  import KustoRowRenderer._

  private val writers: Array[Writer] =
    schema.fields.map(f => writerOf(f.dataType, pathPrefix + f.name, csv))
  /** Field indices in sorted-name order, precomputed once per schema.
    * Sorted by UTF-8 bytes, not UTF-16 code units: serde_json's BTreeMap
    * compares the keys' UTF-8 bytes, and the two orders differ when
    * supplementary-plane keys mix with U+E000..U+FFFF keys. */
  private val sortedFieldOrder: Array[Int] =
    schema.fields.indices.sortBy(i => schema.fields(i).name)(Utf8Ordering).toArray
  private val sortedKeys: Array[String] =
    sortedFieldOrder.map(i => escape(schema.fields(i).name))

  /** One JSON object; a null or pruned-empty row renders as `{}`
    * (`converter.rs:135-139`). */
  def writeJson(row: InternalRow, sb: Buf): Unit =
    if (row == null || !writeStruct(row, sb)) sb.append("{}")

  /** Top-level field `i` as one CSV field, quoted in place; null renders
    * empty. The top level is never pruned, omissions apply only inside
    * nested values (`converter.rs:158-182`). */
  def writeCsvField(row: InternalRow, i: Int, sb: Buf): Unit = {
    val start = sb.length
    if (row != null) writeNullable(writers(i), row, i, sb)
    csvQuoteFrom(sb, start)
  }

  private def writeStruct(row: InternalRow, sb: Buf): Boolean =
    writeObject(sb, sortedKeys, { x =>
      val i = sortedFieldOrder(x)
      writeNullable(writers(i), row, i, sb)
    })

  /** `{...}` over entries whose escaped `keys` are already sorted;
    * `value(x)` writes the x-th entry's value. Equal keys are adjacent, and
    * a repeated key takes its last value — under omitNulls its last
    * non-null one — like repeated BTreeMap inserts. */
  private def writeObject(sb: Buf, keys: Array[String], value: Int => Boolean): Boolean = {
    val open = sb.length
    sb.append('{')
    var x = 0
    while (x < keys.length) {
      var last = x
      while (last + 1 < keys.length && keys(last + 1) == keys(x)) last += 1
      val mark = sb.length
      if (mark > open + 1) sb.append(',')
      sb.append(keys(x)).append(':')
      var y = last
      var written = value(y)
      while (!written && opts.omitNulls && y > x) { y -= 1; written = value(y) }
      if (!written) { if (opts.omitNulls) sb.setLength(mark) else sb.append("null") }
      x = last + 1
    }
    if (opts.omitEmptyBags && sb.length == open + 1) { sb.setLength(open); false }
    else { sb.append('}'); true }
  }

  private def writerOf(dt: DataType, path: String, csv: Boolean): Writer = dt match {
    case NullType => (_, _, _) => false
    case BooleanType => (g, i, sb) => { sb.append(g.getBoolean(i)); true }
    case ByteType => (g, i, sb) => { sb.append(g.getByte(i).toInt); true }
    case ShortType => (g, i, sb) => { sb.append(g.getShort(i).toInt); true }
    case IntegerType => (g, i, sb) => { sb.append(g.getInt(i)); true }
    case LongType => (g, i, sb) => { sb.append(g.getLong(i)); true }
    case FloatType => (g, i, sb) => double(sb, g.getFloat(i).toDouble, csv)
    case DoubleType => (g, i, sb) => double(sb, g.getDouble(i), csv)
    case d: DecimalType if opts.convertTypes && d.precision == 20 && d.scale == 0 =>
      // Spark surfaces parquet UINT64 as Decimal(20,0); under
      // --convert-types the reference reinterprets u64 as i64
      // (`converter.rs:297-303`) and renders a NUMBER. BigInteger.longValue
      // is exactly the two's-complement wrap.
      (g, i, sb) => {
        sb.append(g.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.longValue()); true
      }
    case d: DecimalType if d.precision == 20 && d.scale == 0 &&
        opts.unsignedPaths.contains(path) =>
      // raw u64 WITHOUT --convert-types: the reference renders the
      // UNSIGNED value as a bare JSON number (`converter.rs:296-302`,
      // `l.into()` — full u64 range). The footer (unsignedPaths) is what
      // distinguishes this column from a true DECIMAL(20,0), which Spark's
      // schema alone cannot.
      (g, i, sb) => {
        sb.append(g.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.toString); true
      }
    case d: DecimalType =>
      (g, i, sb) => text(sb, g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString, csv)
    case StringType => (g, i, sb) => text(sb, g.getUTF8String(i).toString, csv)
    case BinaryType => (g, i, sb) => {
      val bytes = g.getBinary(i)
      sb.append('[')
      var j = 0
      while (j < bytes.length) { if (j > 0) sb.append(','); sb.append(bytes(j) & 0xff); j += 1 }
      sb.append(']')
      true
    }
    case DateType => (g, i, sb) => {
      val days = g.getInt(i) // reference reads u32; i32 negatives overflow chrono
      days >= 0 && { if (!csv) sb.append('"'); isoDate(sb, days); if (!csv) sb.append('"'); true }
    }
    case TimestampType | TimestampNTZType => opts.timestampMode match {
      case TimestampMode.Ticks => (g, i, sb) => {
        // Reference does u64 checked math (`converter.rs:309-316`); negative
        // millis reinterpret to huge u64 and overflow -> null either way.
        val ms = micros2millis(g.getLong(i))
        ms >= 0 && ms <= (Long.MaxValue - TicksTillUnixTime) / 10000 &&
          { sb.append(ms * 10000 + TicksTillUnixTime); true }
      }
      case TimestampMode.UnixMs => (g, i, sb) => {
        // u64 passthrough (`converter.rs:330`): the reference reinterprets the
        // RAW micros as u64 and THEN divides, so pre-epoch values must use
        // unsigned division of the micros, not floorDiv-then-reinterpret
        // (us = -1e6 -> 18446744073708551, not 18446744073709550616).
        sb.append(java.lang.Long.toUnsignedString(java.lang.Long.divideUnsigned(g.getLong(i), 1000L)))
        true
      }
      case TimestampMode.IsoStr => (g, i, sb) => {
        val ms = micros2millis(g.getLong(i))
        // u64 seconds out of chrono range -> null (`:322-325`)
        ms >= 0 && { if (!csv) sb.append('"'); isoTimestamp(sb, ms); if (!csv) sb.append('"'); true }
      }
    }
    case st: StructType =>
      val nested = new KustoRowRenderer(st, opts, pathPrefix = path + ".")
      (g, i, sb) => nested.writeStruct(g.getStruct(i, st.size), sb)
    case ArrayType(et, _) =>
      // list/map element paths never enter unsignedPaths (repeated
      // parquet groups are excluded there), so the element path is moot
      val elem = writerOf(et, path + ".element", csv = false)
      (g, i, sb) => {
        val arr = g.getArray(i)
        val n = arr.numElements()
        if (opts.omitEmptyLists && n == 0) false
        else {
          sb.append('[')
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(',')
            if (!writeNullable(elem, arr, j, sb)) sb.append("null")
            j += 1
          }
          sb.append(']')
          true
        }
      }
    case MapType(kt, vt, _) =>
      val keyOf = mapKeyRenderOf(kt)
      val value = writerOf(vt, path + ".value", csv = false)
      (g, i, sb) => writeMap(g.getMap(i), keyOf, value, sb)
    case other =>
      throw new IllegalArgumentException(s"Kusto render: unsupported type $other")
  }

  private def writeMap(map: MapData, keyOf: (ArrayData, Int) => String,
      value: Writer, sb: Buf): Boolean = {
    val keys = map.keyArray()
    val vals = map.valueArray()
    val raw = Array.tabulate(map.numElements())(keyOf(keys, _))
    // dynamic keys sort per value (BTreeMap semantics = UTF-8 byte order);
    // the stable sort keeps repeated keys in insertion order
    val order = raw.indices.toArray.sortBy(raw(_))(Utf8Ordering)
    writeObject(sb, order.map(j => escape(raw(j))), x => writeNullable(value, vals, order(x), sb))
  }
}

object KustoRowRenderer {
  /** Appends slot `i`'s text to the buffer and returns true, or appends
    * nothing and returns false when the value renders as null. Called only
    * on non-null slots. */
  type Writer = (SpecializedGetters, Int, Buf) => Boolean

  /** 100ns ticks from 0001-01-01 to 1970-01-01 (`converter.rs:305`). */
  val TicksTillUnixTime: Long = 621355968000000000L

  // Locale.ROOT pins ASCII digits regardless of the JVM default locale.
  private val IsoFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'", java.util.Locale.ROOT)
    .withZone(java.time.ZoneOffset.UTC)

  /** Epoch day and epoch millisecond of 10000-01-01, where ISO text turns
    * five-digit and `DateTimeFormatter` prefixes the year with `+`. */
  private val Year10kDay: Int = LocalDate.of(10000, 1, 1).toEpochDay.toInt
  private val Year10kMs: Long = Year10kDay * 86400000L

  /** Appends epoch day `days` ≥ 0 as ISO `yyyy-MM-dd` (`converter.rs:334-343`).
    * Below year 10000 the civil date comes from H. Hinnant's days-to-civil
    * arithmetic (400-year eras of 146097 days, years starting in March);
    * from 10000 on, `DateTimeFormatter` writes the signed year. */
  private[graft] def isoDate(sb: Buf, days: Int): Unit =
    if (days >= Year10kDay) sb.append(LocalDate.ofEpochDay(days).format(DateTimeFormatter.ISO_LOCAL_DATE))
    else {
      val z = days + 719468 // days since 0000-03-01
      val era = z / 146097
      val doe = z - era * 146097
      val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
      val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
      val mp = (5 * doy + 2) / 153 // month from March = 0
      val d = doy - (153 * mp + 2) / 5 + 1
      val m = if (mp < 10) mp + 3 else mp - 9
      val y = era * 400 + yoe + (if (m <= 2) 1 else 0)
      digits(sb, y, 4).append('-')
      digits(sb, m, 2).append('-')
      digits(sb, d, 2)
    }

  /** Appends epoch millisecond `ms` ≥ 0 as `yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'`
    * in UTC (`converter.rs:318-328`): the date per [[isoDate]], the time of
    * day by division; `DateTimeFormatter` from year 10000 on. */
  private[graft] def isoTimestamp(sb: Buf, ms: Long): Unit =
    if (ms >= Year10kMs) sb.append(IsoFmt.format(java.time.Instant.ofEpochMilli(ms)))
    else {
      val days = (ms / 86400000L).toInt
      val t = (ms - days * 86400000L).toInt
      isoDate(sb, days)
      digits(sb.append('T'), t / 3600000, 2).append(':')
      digits(sb, t / 60000 % 60, 2).append(':')
      digits(sb, t / 1000 % 60, 2).append('.')
      digits(sb, t % 1000, 3).append("000Z")
    }

  /** `v` ≥ 0 as exactly `n` decimal digits, zero-padded. */
  private def digits(sb: Buf, v: Int, n: Int): Buf = {
    var p = if (n == 4) 1000 else if (n == 3) 100 else 10
    while (p > 0) { sb.append(('0' + v / p % 10).toChar); p /= 10 }
    sb
  }

  /** serde_json BTreeMap key order = UTF-8 byte order. UTF8String.compareTo
    * compares the underlying UTF-8 bytes unsigned-lexicographically, which
    * differs from String's UTF-16 order for supplementary-plane text. */
  val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** Micros -> millis truncation (`converter.rs:117-120`; Rust `/` on u64). */
  def micros2millis(us: Long): Long = Math.floorDiv(us, 1000L)

  private def writeNullable(w: Writer, g: SpecializedGetters, i: Int, sb: Buf): Boolean =
    !g.isNullAt(i) && w(g, i, sb)

  private def double(sb: Buf, d: Double, csv: Boolean): Boolean =
    !java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d) &&
      { Ryu.append(sb, d, csv); true }

  /** A CSV field carries text raw (quoting is the line's job); JSON escapes it. */
  private def text(sb: Buf, s: String, csv: Boolean): Boolean = {
    if (csv) sb.append(s) else escapeInto(sb, s)
    true
  }

  /** Map keys stringify from primitives only (`converter.rs:253-267`). */
  def mapKeyRenderOf(kt: DataType): (ArrayData, Int) => String = kt match {
    case BooleanType => (a, i) => if (a.getBoolean(i)) "true" else "false"
    case ByteType    => (a, i) => a.getByte(i).toString
    case ShortType   => (a, i) => a.getShort(i).toString
    case IntegerType => (a, i) => a.getInt(i).toString
    case LongType    => (a, i) => a.getLong(i).toString
    case StringType  => (a, i) => a.getUTF8String(i).toString
    case other => throw new IllegalArgumentException(
      s"Kusto render: unsupported map key type $other (reference panics too, converter.rs:266)")
  }

  /** serde_json-compatible string escaping: `"`, `\`, and control chars
    * (<0x20) — `\b \t \n \f \r` shorthands, `\u00xx` for the rest; nothing
    * else is escaped (non-ASCII passes through as UTF-8). */
  def escapeInto(sb: Buf, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** `s` as a quoted, escaped JSON string. */
  def escape(s: String): String = {
    val sb = new Buf(s.length + 2)
    escapeInto(sb, s)
    sb.toString
  }

  /** CSV quoting of the Rust `csv` crate with `Terminator::Any(b'\r')`
    * (`converter.rs:152-154`), applied in place to the field that runs from
    * `start` to the end of `sb`: quote only when the field contains a quote,
    * the delimiter, or the terminator byte; embedded quotes double. Note
    * '\n' does NOT trigger quoting under this terminator — reproduced. */
  private def csvQuoteFrom(sb: Buf, start: Int): Unit = {
    var i = start
    while (i < sb.length && sb.charAt(i) != '"' && sb.charAt(i) != ',' && sb.charAt(i) != '\r') i += 1
    if (i < sb.length) {
      val field = sb.substring(start)
      sb.setLength(start)
      sb.append('"')
      var j = 0
      while (j < field.length) {
        val c = field.charAt(j)
        if (c == '"') sb.append('"')
        sb.append(c)
        j += 1
      }
      sb.append('"')
    }
  }
}
