package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import java.lang.{Math => JMath}
import java.math.BigInteger

/** Shortest round-trip decimal rendering of doubles, matching the text the
  * reference emits through the Rust `ryu` crate (JSON floats via serde_json,
  * `/root/reference/pq2json/src/converter.rs:291-295`; CSV floats via
  * `ryu::Buffer` at `converter.rs:196-197`).
  *
  * The digits come from Schubfach (R. Giulietti, "The Schubfach way to
  * render doubles", 2020; the algorithm behind JDK 19's `Double.toString`):
  * one 126-bit multiply of the binary significand by a power of ten brackets
  * the rounding interval of `d` at two adjacent decimal lengths. The result
  * is the decimal with the fewest significant digits that parses back to
  * `d`; among those, the one closest to `d`; on an exact tie, the one with
  * the even last digit. That is `ryu`'s contract, and Python's `repr`.
  *
  * JDK 19+ and Jackson's port differ on the tiniest subnormals only: their
  * spec prefers a closer two-digit decimal when the shortest has one digit
  * (`4.9E-324` where `ryu` prints `5e-324`). Here the shorter length always
  * wins, so the two-digit fallback Schubfach takes below 100 units of
  * `10^k` is skipped, and a subnormal significand is never scaled by ten.
  * The test oracle is an exact `BigDecimal` search over 1..17 digits;
  * `KustoRenderSpec` checks this code against it and against Jackson's
  * `DoubleToDecimal`.
  *
  * The text follows ryu's pretty printer: positional notation while the
  * decimal exponent is in [-5, 15], scientific (`d.ddde±x`, lowercase `e`,
  * no `+`) outside it; integral positional values keep a trailing ".0".
  * Floats widen to double before rendering, as the reference does.
  */
object Ryu {

  private final val QMin = -1074   // binary exponent of the subnormal ulp
  private final val CMin = 1L << 52 // the hidden bit
  private final val KMin = -324    // flog10pow2(QMin)
  private final val KMax = 292     // flog10pow2(971), the largest exponent
  private final val Mask63 = (1L << 63) - 1

  /** `g = g1·2^63 + g0` per decimal exponent k in [KMin, KMax]: with
    * `10^-k = β·2^r` and 2^125 ≤ β < 2^126, `g = floor(β) + 1`. */
  private val (g1s, g0s): (Array[Long], Array[Long]) = {
    val n = KMax - KMin + 1
    val hi = new Array[Long](n)
    val lo = new Array[Long](n)
    for (k <- KMin to KMax) {
      val r = flog2pow10(-k) - 125
      val beta =
        if (k <= 0) {
          val p = BigInteger.TEN.pow(-k)
          if (r >= 0) p.shiftRight(r) else p.shiftLeft(-r)
        } else BigInteger.ONE.shiftLeft(-r).divide(BigInteger.TEN.pow(k))
      val g = beta.add(BigInteger.ONE)
      require(g.bitLength == 126, s"Schubfach table: g($k) has ${g.bitLength} bits")
      hi(k - KMin) = g.shiftRight(63).longValue
      lo(k - KMin) = g.longValue & Mask63
    }
    (hi, lo)
  }

  // floor(e·log10 2), floor(e·log10 2 + log10 3/4), floor(e·log2 10)
  private def flog10pow2(e: Int): Int = ((e * 661971961083L) >> 41).toInt
  private def flog10threeQuartersPow2(e: Int): Int =
    ((e * 661971961083L - 274743187321L) >> 41).toInt
  private def flog2pow10(e: Int): Int = ((e * 913124641741L) >> 38).toInt

  /** serde_json-style float text; caller must ensure `d` is finite
    * (NaN/Inf render as JSON null upstream, `converter.rs:291-295`). */
  def shortest(d: Double): String = text(d, csv = false).toString

  /** CSV float text; see [[append]]. */
  def shortestCsv(d: Double): String = text(d, csv = true).toString

  /** The text of finite `d` per [[append]], as one `UTF8String`. */
  def text(d: Double, csv: Boolean): UTF8String = {
    val sb = new Utf8Buf(32)
    append(sb, d, csv)
    UTF8String.fromBytes(sb.toByteArray)
  }

  /** Appends the ASCII text of finite `d` to `sb`. `csv` then strips
    * trailing '0's, then '.'s (`truncate_trailing_zeros`,
    * `converter.rs:210-212`), reproducing the reference's quirk that
    * scientific-notation output is corrupted ("1e300" -> "1e3") because the
    * strip runs on any ryu text. */
  def append(sb: Utf8Buf, d: Double, csv: Boolean): Unit = {
    val start = sb.length
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val t = bits & (CMin - 1)
    val bq = (bits >>> 52).toInt & 0x7ff
    if (bits < 0) sb.append('-')
    if (bq != 0) {
      val mq = 1075 - bq // -q: d = c·2^q
      val c = CMin | t
      val f = if (0 < mq && mq < 53) c >> mq else 0L
      // an integer below 2^53 is its own shortest text
      if (f != 0 && f << mq == c) sb.appendLong(f).append('.').append('0')
      else toDecimal(sb, -mq, c)
    } else if (t != 0) toDecimal(sb, QMin, t)
    else sb.append('0').append('.').append('0')
    if (csv) {
      var end = sb.length
      while (end > start && sb.byteAt(end - 1) == '0') end -= 1
      while (end > start && sb.byteAt(end - 1) == '.') end -= 1
      sb.truncate(end)
    }
  }

  /** Schubfach for `c·2^q`, c > 0 (figure 7 of the paper). */
  private def toDecimal(sb: Utf8Buf, q: Int, c: Long): Unit = {
    val out = c.toInt & 1 // an odd significand excludes the interval ends
    val cb = c << 2
    val cbr = cb + 2
    val regular = c != CMin || q == QMin
    val cbl = if (regular) cb - 2 else cb - 1 // the lower gap halves at 2^n
    val k = if (regular) flog10pow2(q) else flog10threeQuartersPow2(q)
    val h = q + flog2pow10(-k) + 2
    val g1 = g1s(k - KMin)
    val g0 = g0s(k - KMin)
    // v, its interval ends, times 10^-k, in quarter units
    val vb = rop(g1, g0, cb << h)
    val vbl = rop(g1, g0, cbl << h)
    val vbr = rop(g1, g0, cbr << h)
    val s = vb >> 2
    // at most one multiple of 10^(k+1) lies in the interval: if exactly
    // one of floor(s/10)·10 and the next does, it is the shortest
    val sp10 = 10 * JMath.multiplyHigh(s, 115292150460684698L << 4)
    val tp10 = sp10 + 10
    val upin = vbl + out <= (sp10 << 2)
    val wpin = (tp10 << 2) + out <= vbr
    if (upin != wpin) write(sb, if (upin) sp10 else tp10, k)
    else {
      // at 10^k the interval holds s or s+1; both -> the closer, even on a tie
      val t = s + 1
      val uin = vbl + out <= (s << 2)
      val win = (t << 2) + out <= vbr
      if (uin != win) write(sb, if (uin) s else t, k)
      else {
        val cmp = vb - ((s + t) << 1)
        write(sb, if (cmp < 0 || (cmp == 0 && (s & 1) == 0)) s else t, k)
      }
    }
  }

  /** Round-to-odd of `cp·g·2^-127`, g = g1·2^63 + g0 (section 9.9). */
  private def rop(g1: Long, g0: Long, cp: Long): Long = {
    val x1 = JMath.multiplyHigh(g0, cp)
    val y0 = g1 * cp
    val y1 = JMath.multiplyHigh(g1, cp)
    val z = (y0 >>> 1) + x1
    val vbp = y1 + (z >>> 63)
    vbp | (((z & Mask63) + Mask63) >>> 63)
  }

  /** Appends `f·10^e`, f > 0, in ryu's notation. */
  private def write(sb: Utf8Buf, f0: Long, e0: Int): Unit = {
    var f = f0
    var e = e0
    while (f % 100000000L == 0) { f /= 100000000L; e += 8 }
    if (f % 10000 == 0) { f /= 10000; e += 4 }
    if (f % 100 == 0) { f /= 100; e += 2 }
    if (f % 10 == 0) { f /= 10; e += 1 }
    val start = sb.length
    sb.appendLong(f)
    val len = sb.length - start
    val exp10 = e + len - 1
    if (exp10 < -5 || exp10 > 15) {
      if (len > 1) { sb.insertGap(start + 1, 1); sb.set(start + 1, '.') }
      sb.append('e').appendLong(exp10)
    } else if (e >= 0) {
      var z = e
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append('.').append('0')
    } else if (exp10 >= 0) { sb.insertGap(start + exp10 + 1, 1); sb.set(start + exp10 + 1, '.') }
    else {
      // "0." and -exp10-1 zeros before the digits
      sb.insertGap(start, 1 - exp10)
      var p = start
      while (p < start + 1 - exp10) { sb.set(p, '0'); p += 1 }
      sb.set(start + 1, '.')
    }
  }
}
