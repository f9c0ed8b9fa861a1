package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8

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
  * text, as UTF-8 bytes, with the reference's exact rendering semantics
  * (`/root/reference/pq2json/src/converter.rs:95-303`):
  *
  *   - float/double: NaN/±Inf -> null (`:291-295`)
  *   - decimal: plain non-scientific string, scale-padded (`:345-371` —
  *     the digits of `BigDecimal.toPlainString`)
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
  * Each field's [[KustoRowRenderer.Writer]] is bound once per schema, so the
  * per-row hot loop does no type dispatch and builds no value tree. A writer
  * appends the field's bytes to a [[Utf8Buf]] and returns true, or appends
  * nothing and returns false when the value renders as null; objects and
  * lists prune by truncating the buffer back to a recorded length. Strings
  * are copied from their UTF-8 bytes, escaping only ASCII bytes; numbers,
  * dates and timestamps are written as ASCII digits. Nothing is decoded to
  * a `String`, except text that is not well-formed UTF-8, which renders as
  * its `String` decoding does.
  *
  * `csv` applies to this schema's own fields only: they render as CSV fields
  * (`value_to_csv`, `converter.rs:190-208`) — strings, decimals, dates and
  * ISO timestamps raw, floats with trailing zeros stripped — while nested
  * values stay embedded JSON.
  *
  * Field `k` of `schema` is read from slot `ordinals(k)` of the rows given
  * to [[writeJson]] and [[writeCsvLine]] (default: slot `k`), so a row of a
  * scan renders a projection of its columns without being copied.
  */
final class KustoRowRenderer(schema: StructType, opts: KustoRenderOptions,
    csv: Boolean = false, pathPrefix: String = "", ordinals: Array[Int] = null) {

  import KustoRowRenderer._

  private val slots: Array[Int] = if (ordinals == null) schema.fields.indices.toArray else ordinals
  require(slots.length == schema.size, s"${slots.length} ordinals for ${schema.size} fields")
  private val writers: Array[Writer] =
    schema.fields.map(f => writerOf(f.dataType, pathPrefix + f.name, csv))
  /** Field indices in key order, precomputed once per schema. Sorted by
    * UTF-8 bytes, not UTF-16 code units: serde_json's BTreeMap compares the
    * keys' UTF-8 bytes, and the two orders differ when supplementary-plane
    * keys mix with U+E000..U+FFFF keys. */
  private val sortedFieldOrder: Array[Int] = {
    val names = schema.fields.map(_.name.getBytes(UTF_8))
    schema.fields.indices.sortBy(names(_))(ByteOrder).toArray
  }
  /** The escaped, quoted key of each field in key order. */
  private val sortedKeys: Array[Array[Byte]] =
    sortedFieldOrder.map(i => jsonString(schema.fields(i).name))
  /** Whether the next field in key order repeats this one's key. */
  private val sameAsNext: Array[Boolean] = sortedKeys.indices.map(x =>
    x + 1 < sortedKeys.length && java.util.Arrays.equals(sortedKeys(x), sortedKeys(x + 1))).toArray

  /** One JSON object; a null or pruned-empty row renders as `{}`
    * (`converter.rs:135-139`). */
  def writeJson(row: InternalRow, sb: Utf8Buf): Unit =
    if (row == null || !writeStruct(row, sb)) sb.append(EmptyObject)

  /** One CSV record ending in `\r` (`converter.rs:145-188`): slot `s` is
    * empty where `missing(s)`, else the next field of the schema. The top
    * level is never pruned, omissions apply only inside nested values
    * (`converter.rs:158-182`); a null row or field renders empty. */
  def writeCsvLine(row: InternalRow, missing: Array[Boolean], sb: Utf8Buf): Unit = {
    var present = 0
    var s = 0
    while (s < missing.length) {
      if (s > 0) sb.append(',')
      if (!missing(s)) {
        val start = sb.length
        if (row != null) writeNullable(writers(present), row, slots(present), sb)
        csvQuoteFrom(sb, start)
        present += 1
      }
      s += 1
    }
    sb.append('\r')
  }

  private def writeStruct(row: SpecializedGetters, sb: Utf8Buf): Boolean =
    writeObject(sb, writers.length, row, null)

  /** `{...}` over `n` members in key order: this schema's fields of `row`
    * when `m` is null, else `m`'s map entries. Equal keys are adjacent, and
    * a repeated key takes its last value — under omitNulls its last
    * non-null one — like repeated BTreeMap inserts. */
  private def writeObject(sb: Utf8Buf, n: Int, row: SpecializedGetters, m: MapEntries): Boolean = {
    def sameAsNextKey(x: Int) = if (m == null) sameAsNext(x) else m.sameAsNext(x)
    def value(x: Int) =
      if (m != null) m.value(x, sb)
      else {
        val f = sortedFieldOrder(x)
        writeNullable(writers(f), row, slots(f), sb)
      }
    val open = sb.length
    sb.append('{')
    var x = 0
    while (x < n) {
      var last = x
      while (last + 1 < n && sameAsNextKey(last)) last += 1
      val mark = sb.length
      if (mark > open + 1) sb.append(',')
      if (m == null) sb.append(sortedKeys(x)) else m.key(x, sb)
      sb.append(':')
      var y = last
      var written = value(y)
      while (!written && opts.omitNulls && y > x) { y -= 1; written = value(y) }
      if (!written) { if (opts.omitNulls) sb.truncate(mark) else sb.append(Null) }
      x = last + 1
    }
    if (opts.omitEmptyBags && sb.length == open + 1) { sb.truncate(open); false }
    else { sb.append('}'); true }
  }

  private def writerOf(dt: DataType, path: String, csv: Boolean): Writer = dt match {
    case NullType => (_, _, _) => false
    case BooleanType => (g, i, sb) => { sb.append(if (g.getBoolean(i)) True else False); true }
    case ByteType => (g, i, sb) => { sb.appendLong(g.getByte(i)); true }
    case ShortType => (g, i, sb) => { sb.appendLong(g.getShort(i)); true }
    case IntegerType => (g, i, sb) => { sb.appendLong(g.getInt(i)); true }
    case LongType => (g, i, sb) => { sb.appendLong(g.getLong(i)); true }
    case FloatType => (g, i, sb) => double(sb, g.getFloat(i).toDouble, csv)
    case DoubleType => (g, i, sb) => double(sb, g.getDouble(i), csv)
    case d: DecimalType if opts.convertTypes && d.precision == 20 && d.scale == 0 =>
      // Spark surfaces parquet UINT64 as Decimal(20,0); under
      // --convert-types the reference reinterprets u64 as i64
      // (`converter.rs:297-303`) and renders a NUMBER. BigInteger.longValue
      // is exactly the two's-complement wrap.
      (g, i, sb) => {
        sb.appendLong(g.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger.longValue()); true
      }
    case d: DecimalType if d.precision == 20 && d.scale == 0 &&
        opts.unsignedPaths.contains(path) =>
      // raw u64 WITHOUT --convert-types: the reference renders the
      // UNSIGNED value as a bare JSON number (`converter.rs:296-302`,
      // `l.into()` — full u64 range). The footer (unsignedPaths) is what
      // distinguishes this column from a true DECIMAL(20,0), which Spark's
      // schema alone cannot.
      (g, i, sb) => {
        sb.appendBigInteger(g.getDecimal(i, 20, 0).toJavaBigDecimal.toBigInteger); true
      }
    case d: DecimalType => (g, i, sb) => {
      // a JSON string of plain digits, which need no escaping
      if (!csv) sb.append('"')
      plainDecimal(sb, g.getDecimal(i, d.precision, d.scale))
      if (!csv) sb.append('"')
      true
    }
    case StringType => (g, i, sb) => { appendText(sb, g.getUTF8String(i), json = !csv); true }
    case BinaryType => (g, i, sb) => {
      val bytes = g.getBinary(i)
      sb.append('[')
      var j = 0
      while (j < bytes.length) { if (j > 0) sb.append(','); sb.appendLong(bytes(j) & 0xff); j += 1 }
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
          { sb.appendLong(ms * 10000 + TicksTillUnixTime); true }
      }
      case TimestampMode.UnixMs => (g, i, sb) => {
        // u64 passthrough (`converter.rs:330`): the reference reinterprets the
        // RAW micros as u64 and THEN divides, so pre-epoch values must use
        // unsigned division of the micros, not floorDiv-then-reinterpret
        // (us = -1e6 -> 18446744073708551, not 18446744073709550616); the
        // quotient is below 2^54, so it prints as a signed long.
        sb.appendLong(java.lang.Long.divideUnsigned(g.getLong(i), 1000L))
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
            if (!writeNullable(elem, arr, j, sb)) sb.append(Null)
            j += 1
          }
          sb.append(']')
          true
        }
      }
    case MapType(kt, vt, _) =>
      val key = mapKeyWriterOf(kt)
      val value = writerOf(vt, path + ".value", csv = false)
      (g, i, sb) => writeMap(g.getMap(i), key, value, sb)
    case other =>
      throw new IllegalArgumentException(s"Kusto render: unsupported type $other")
  }

  /** Each key is rendered raw into the scratch stack of `sb`, and the
    * entries are written in the UTF-8 byte order of their keys (BTreeMap
    * semantics); the stable sort keeps repeated keys in insertion order. */
  private def writeMap(map: MapData, key: KeyWriter, value: Writer, sb: Utf8Buf): Boolean = {
    val n = map.numElements()
    val keys = map.keyArray()
    val scratch = sb.scratch
    val base = scratch.length
    val ends = new Array[Int](n)
    var j = 0
    while (j < n) { key(keys, j, scratch); ends(j) = scratch.length; j += 1 }
    val written = writeObject(sb, n, null, new MapEntries(scratch, base, ends, map.valueArray(), value))
    scratch.truncate(base)
    written
  }
}

object KustoRowRenderer {
  /** Appends slot `i`'s bytes to the buffer and returns true, or appends
    * nothing and returns false when the value renders as null. Called only
    * on non-null slots. */
  trait Writer {
    def apply(g: SpecializedGetters, i: Int, sb: Utf8Buf): Boolean
  }

  /** Appends map key `i`'s raw (unescaped) text. */
  private trait KeyWriter {
    def apply(keys: ArrayData, i: Int, sb: Utf8Buf): Unit
  }

  /** The entries of one map in key order; the keys' raw bytes lie in
    * `keys` from `base`, key `j` ending at `ends(j)`. */
  private final class MapEntries(keys: Utf8Buf, base: Int, ends: Array[Int],
      vals: ArrayData, valueWriter: Writer) {
    private def start(j: Int): Int = if (j == 0) base else ends(j - 1)
    // keys.array is read on each call: a nested map's keys may grow it
    private def compare(a: Int, b: Int): Int = java.util.Arrays.compareUnsigned(
      keys.array, start(a), ends(a), keys.array, start(b), ends(b))
    private val order: Array[Int] = {
      val o = new Array[Int](ends.length)
      var j = 0
      while (j < o.length) { o(j) = j; j += 1 }
      if (o.length > 1) mergeSort(o, new Array[Int](o.length), 0, o.length)
      o
    }
    /** Stable: an equal key keeps its insertion order. */
    private def mergeSort(a: Array[Int], tmp: Array[Int], lo: Int, hi: Int): Unit =
      if (hi - lo <= 8) {
        var i = lo + 1
        while (i < hi) {
          val v = a(i)
          var k = i - 1
          while (k >= lo && compare(a(k), v) > 0) { a(k + 1) = a(k); k -= 1 }
          a(k + 1) = v
          i += 1
        }
      } else {
        val mid = (lo + hi) >>> 1
        mergeSort(a, tmp, lo, mid)
        mergeSort(a, tmp, mid, hi)
        System.arraycopy(a, lo, tmp, lo, hi - lo)
        var l = lo
        var r = mid
        var k = lo
        while (k < hi) {
          if (r >= hi || (l < mid && compare(tmp(l), tmp(r)) <= 0)) { a(k) = tmp(l); l += 1 }
          else { a(k) = tmp(r); r += 1 }
          k += 1
        }
      }
    def sameAsNext(x: Int): Boolean = compare(order(x), order(x + 1)) == 0
    def key(x: Int, sb: Utf8Buf): Unit = {
      val j = order(x)
      appendUtf8(sb, keys.array, Platform.BYTE_ARRAY_OFFSET + start(j), ends(j) - start(j), json = true)
    }
    def value(x: Int, sb: Utf8Buf): Boolean = writeNullable(valueWriter, vals, order(x), sb)
  }

  /** 100ns ticks from 0001-01-01 to 1970-01-01 (`converter.rs:305`). */
  val TicksTillUnixTime: Long = 621355968000000000L

  private def ascii(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val True = ascii("true")
  private val False = ascii("false")
  private val Null = ascii("null")
  private val EmptyObject = ascii("{}")

  private val ByteOrder: Ordering[Array[Byte]] = new Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = java.util.Arrays.compareUnsigned(a, b)
  }

  /** Appends epoch day `days` ≥ 0 as ISO `yyyy-MM-dd` (`converter.rs:334-343`). */
  private[graft] def isoDate(sb: Utf8Buf, days: Int): Unit = civilDate(sb, days.toLong)

  /** H. Hinnant's days-to-civil arithmetic (400-year eras of 146097 days,
    * years starting in March), for `days` ≥ 0. Years after 9999 carry a
    * `+`, as `DateTimeFormatter` writes them. */
  private def civilDate(sb: Utf8Buf, days: Long): Unit = {
    val z = days + 719468 // days since 0000-03-01
    val era = z / 146097
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153 // month from March = 0
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = era * 400 + yoe + (if (m <= 2) 1 else 0)
    if (y > 9999) sb.append('+').appendLong(y) else sb.appendDigits(y, 4)
    sb.append('-').appendDigits(m, 2).append('-').appendDigits(d, 2)
  }

  /** Appends epoch millisecond `ms` ≥ 0 as `yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'`
    * in UTC (`converter.rs:318-328`): the date per [[civilDate]], the time
    * of day by division. */
  private[graft] def isoTimestamp(sb: Utf8Buf, ms: Long): Unit = {
    val days = ms / 86400000L
    val t = (ms - days * 86400000L).toInt
    civilDate(sb, days)
    sb.append('T').appendDigits(t / 3600000, 2).append(':')
    sb.appendDigits(t / 60000 % 60, 2).append(':')
    sb.appendDigits(t / 1000 % 60, 2).append('.')
    sb.appendDigits(t % 1000, 3).append('0').append('0').append('0').append('Z')
  }

  /** Appends the text of `BigDecimal.toPlainString` for `d`: its unscaled
    * digits with the point inserted `scale` digits from the right,
    * zero-padded on the left; a negative scale appends zeros. */
  private[graft] def plainDecimal(sb: Utf8Buf, d: Decimal): Unit =
    if (d.precision <= Decimal.MAX_LONG_DIGITS) plainLong(sb, d.toUnscaledLong, d.scale)
    else {
      val bd = d.toJavaBigDecimal
      plainBig(sb, bd.unscaledValue, bd.scale)
    }

  private[graft] def plainLong(sb: Utf8Buf, unscaled: Long, scale: Int): Unit =
    if (scale <= 0 || unscaled == Long.MinValue)
      plainBig(sb, java.math.BigInteger.valueOf(unscaled), scale)
    else {
      if (unscaled < 0) sb.append('-')
      val start = sb.length
      sb.appendLong(math.abs(unscaled))
      point(sb, start, scale)
    }

  private[graft] def plainBig(sb: Utf8Buf, unscaled: java.math.BigInteger, scale: Int): Unit =
    if (scale == 0) sb.appendBigInteger(unscaled)
    else if (scale < 0) {
      sb.appendBigInteger(unscaled)
      if (unscaled.signum != 0) { var z = -scale; while (z > 0) { sb.append('0'); z -= 1 } }
    } else {
      if (unscaled.signum < 0) sb.append('-')
      val start = sb.length
      sb.appendBigInteger(unscaled.abs)
      point(sb, start, scale)
    }

  /** Places the decimal point `scale` > 0 digits from the right of the
    * digits from `start` to the end of `sb`. */
  private def point(sb: Utf8Buf, start: Int, scale: Int): Unit = {
    val digits = sb.length - start
    if (digits > scale) {
      val at = sb.length - scale
      sb.insertGap(at, 1)
      sb.set(at, '.')
    } else {
      // "0." and scale - digits zeros before the digits
      val gap = 2 + scale - digits
      sb.insertGap(start, gap)
      var p = start
      while (p < start + gap) { sb.set(p, '0'); p += 1 }
      sb.set(start + 1, '.')
    }
  }

  /** Micros -> millis truncation (`converter.rs:117-120`; Rust `/` on u64). */
  def micros2millis(us: Long): Long = Math.floorDiv(us, 1000L)

  private def writeNullable(w: Writer, g: SpecializedGetters, i: Int, sb: Utf8Buf): Boolean =
    !g.isNullAt(i) && w(g, i, sb)

  private def double(sb: Utf8Buf, d: Double, csv: Boolean): Boolean =
    !java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d) &&
      { Ryu.append(sb, d, csv); true }

  /** Map keys stringify from primitives only (`converter.rs:253-267`). */
  private def mapKeyWriterOf(kt: DataType): KeyWriter = kt match {
    case BooleanType => (a, i, sb) => sb.append(if (a.getBoolean(i)) True else False)
    case ByteType    => (a, i, sb) => sb.appendLong(a.getByte(i))
    case ShortType   => (a, i, sb) => sb.appendLong(a.getShort(i))
    case IntegerType => (a, i, sb) => sb.appendLong(a.getInt(i))
    case LongType    => (a, i, sb) => sb.appendLong(a.getLong(i))
    case StringType  => (a, i, sb) => appendText(sb, a.getUTF8String(i), json = false)
    case other => throw new IllegalArgumentException(
      s"Kusto render: unsupported map key type $other (reference panics too, converter.rs:266)")
  }

  /** serde_json's escapes by ASCII byte: `"`, `\`, and control bytes
    * (<0x20) — `\b \t \n \f \r` shorthands, lowercase `\u00xx` for the
    * rest; null for every byte that passes through. */
  private val Escapes: Array[Array[Byte]] = Array.tabulate(0x5d) { b =>
    b match {
      case '"'  => ascii("\\\"")
      case '\\' => ascii("\\\\")
      case '\b' => ascii("\\b")
      case '\t' => ascii("\\t")
      case '\n' => ascii("\\n")
      case '\f' => ascii("\\f")
      case '\r' => ascii("\\r")
      case c if c < ' ' => ascii(f"\\u$c%04x")
      case _ => null
    }
  }

  /** Appends `s` as a quoted, escaped JSON string (`json`) or raw. Text
    * that is not well-formed UTF-8 renders as its `String` decoding, each
    * invalid sequence as U+FFFD, so the output is always valid UTF-8. */
  private[graft] def appendText(sb: Utf8Buf, s: UTF8String, json: Boolean): Unit = {
    val mark = sb.length
    if (!appendUtf8(sb, s.getBaseObject, s.getBaseOffset, s.numBytes, json)) {
      sb.truncate(mark)
      val b = s.toString.getBytes(UTF_8)
      appendUtf8(sb, b, Platform.BYTE_ARRAY_OFFSET, b.length, json)
    }
  }

  /** Appends the `n` bytes at `offset` of `base` (addressed as `Platform`
    * does), JSON-quoted and escaped when `json`. Escapes are ASCII bytes,
    * which never occur inside a multi-byte UTF-8 sequence, so other bytes
    * are copied in runs. Returns false, having appended part of the text,
    * when the bytes are not well-formed UTF-8. */
  private def appendUtf8(sb: Utf8Buf, base: AnyRef, offset: Long, n: Int, json: Boolean): Boolean = {
    if (json) sb.append('"')
    var run = 0 // first byte not yet copied
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, offset + i)
      if (b >= 0) {
        if (json && b < Escapes.length && Escapes(b) != null) {
          sb.appendMemory(base, offset + run, i - run)
          sb.append(Escapes(b))
          run = i + 1
        }
        i += 1
      } else {
        val k = sequenceLength(base, offset + i, n - i)
        if (k == 0) return false
        i += k
      }
    }
    sb.appendMemory(base, offset + run, n - run)
    if (json) sb.append('"')
    true
  }

  /** Length of the well-formed UTF-8 sequence of 2 to 4 bytes at `p`, of
    * at most `left` bytes; 0 when it is malformed (Unicode table 3-7: no
    * overlong form, no surrogate, nothing above U+10FFFF). */
  private def sequenceLength(base: AnyRef, p: Long, left: Int): Int = {
    def at(k: Int): Int = Platform.getByte(base, p + k) & 0xff
    def cont(k: Int): Boolean = (at(k) & 0xc0) == 0x80
    val b0 = at(0)
    if (b0 < 0xc2) 0
    else if (b0 < 0xe0) { if (left >= 2 && cont(1)) 2 else 0 }
    else if (b0 < 0xf0) {
      if (left < 3) 0
      else {
        val b1 = at(1)
        val ok1 = if (b0 == 0xe0) b1 >= 0xa0 && b1 <= 0xbf
          else if (b0 == 0xed) b1 >= 0x80 && b1 <= 0x9f
          else (b1 & 0xc0) == 0x80
        if (ok1 && cont(2)) 3 else 0
      }
    } else if (b0 < 0xf5) {
      if (left < 4) 0
      else {
        val b1 = at(1)
        val ok1 = if (b0 == 0xf0) b1 >= 0x90 && b1 <= 0xbf
          else if (b0 == 0xf4) b1 >= 0x80 && b1 <= 0x8f
          else (b1 & 0xc0) == 0x80
        if (ok1 && cont(2) && cont(3)) 4 else 0
      }
    } else 0
  }

  /** `s` quoted and escaped as a JSON string, as UTF-8 bytes. */
  private def jsonString(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    val sb = new Utf8Buf(b.length + 2)
    appendUtf8(sb, b, Platform.BYTE_ARRAY_OFFSET, b.length, json = true)
    sb.toByteArray
  }

  /** `s` as a quoted, escaped JSON string. */
  def escape(s: String): String = new String(jsonString(s), UTF_8)

  /** CSV quoting of the Rust `csv` crate with `Terminator::Any(b'\r')`
    * (`converter.rs:152-154`), applied in place to the field that runs from
    * `start` to the end of `sb`: quote only when the field contains a quote,
    * the delimiter, or the terminator byte; embedded quotes double. Note
    * '\n' does NOT trigger quoting under this terminator — reproduced. All
    * three are ASCII, so the scan runs over bytes. */
  private def csvQuoteFrom(sb: Utf8Buf, start: Int): Unit = {
    val end = sb.length
    var quote = false
    var quotes = 0
    var i = start
    while (i < end) {
      val b = sb.byteAt(i)
      if (b == '"') quotes += 1
      if (b == '"' || b == ',' || b == '\r') quote = true
      i += 1
    }
    if (quote) {
      // move the field right by 1 + quotes, then copy it back left behind
      // the opening quote, doubling each quote; the writes never overtake
      // the reads
      sb.insertGap(start, 1 + quotes)
      sb.set(start, '"')
      var w = start + 1
      var r = start + 1 + quotes
      while (r < sb.length) {
        val b = sb.byteAt(r)
        if (b == '"') { sb.set(w, '"'); w += 1 }
        sb.set(w, b)
        w += 1
        r += 1
      }
      sb.append('"')
    }
  }
}
