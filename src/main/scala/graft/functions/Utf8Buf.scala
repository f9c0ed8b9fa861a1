package graft.functions

import org.apache.spark.unsafe.Platform

import java.math.BigInteger

/** A growable byte buffer of UTF-8 text that the Kusto writers append to.
  * A writer that must take back what it wrote records [[length]] first and
  * [[truncate]]s back to it. Appends of numbers write ASCII digits straight
  * into the array. Not thread-safe: each task or thread owns its own.
  *
  * [[scratch]] is a second buffer used as a stack: a map writer appends its
  * rendered keys there and truncates them off when it is done, so maps
  * nested in its values stack their keys above its own. */
final class Utf8Buf(initialCapacity: Int = 256) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var len = 0
  private var scratchBuf: Utf8Buf = null

  def length: Int = len
  def capacity: Int = buf.length
  /** The backing array; valid up to [[length]], and replaced when it grows. */
  def array: Array[Byte] = buf
  def byteAt(i: Int): Byte = buf(i)
  /** Empties this buffer and its scratch stack. */
  def reset(): Unit = {
    len = 0
    if (scratchBuf != null) scratchBuf.len = 0
  }
  /** Drops everything after the first `n` bytes. */
  def truncate(n: Int): Unit = len = n

  def scratch: Utf8Buf = {
    if (scratchBuf == null) scratchBuf = new Utf8Buf(64)
    scratchBuf
  }

  /** Room for `n` more bytes. */
  def ensure(n: Int): Unit = if (n > buf.length - len) {
    val need = len.toLong + n
    require(need <= Int.MaxValue - 8, s"Utf8Buf: $need bytes")
    buf = java.util.Arrays.copyOf(buf, math.max(need, math.min(buf.length * 2L, Int.MaxValue - 8L)).toInt)
  }

  /** Appends one byte; `b` is an ASCII character or a raw byte. */
  def append(b: Int): Utf8Buf = {
    if (len == buf.length) ensure(1)
    buf(len) = b.toByte
    len += 1
    this
  }

  def append(bytes: Array[Byte]): Utf8Buf = append(bytes, 0, bytes.length)

  def append(bytes: Array[Byte], off: Int, n: Int): Utf8Buf = {
    ensure(n)
    System.arraycopy(bytes, off, buf, len, n)
    len += n
    this
  }

  /** Appends `n` bytes at `offset` of `base`, addressed as Spark's `Platform`
    * does (`UTF8String`'s base object and offset). */
  def appendMemory(base: AnyRef, offset: Long, n: Int): Utf8Buf = {
    ensure(n)
    Platform.copyMemory(base, offset, buf, Platform.BYTE_ARRAY_OFFSET + len, n)
    len += n
    this
  }

  /** Makes a gap of `n` bytes at `pos` by moving the bytes after it right;
    * the gap's content is left to the caller. */
  def insertGap(pos: Int, n: Int): Unit = {
    ensure(n)
    System.arraycopy(buf, pos, buf, pos + n, len - pos)
    len += n
  }

  def set(pos: Int, b: Int): Unit = buf(pos) = b.toByte

  /** Appends `v` in decimal. */
  def appendLong(v: Long): Utf8Buf =
    if (v == Long.MinValue) append(Utf8Buf.MinLong)
    else if (v < 0) { append('-'); appendDigits(-v, Utf8Buf.digitCount(-v)) }
    else appendDigits(v, Utf8Buf.digitCount(v))

  /** Appends `v` ≥ 0 as exactly `n` digits, zero-padded on the left; `v`
    * must have at most `n` digits. Writes two digits per division, from the
    * right, in int arithmetic once `v` fits an int. */
  def appendDigits(v: Long, n: Int): Utf8Buf = {
    import Utf8Buf.{Ones, Tens}
    ensure(n)
    var p = len + n
    var u = v
    while (u > Int.MaxValue) {
      val q = u / 100
      val r = (u - q * 100).toInt
      p -= 2
      buf(p) = Tens(r)
      buf(p + 1) = Ones(r)
      u = q
    }
    var w = u.toInt
    while (w >= 100) {
      val q = w / 100
      val r = w - q * 100
      p -= 2
      buf(p) = Tens(r)
      buf(p + 1) = Ones(r)
      w = q
    }
    if (w >= 10) { p -= 2; buf(p) = Tens(w); buf(p + 1) = Ones(w) }
    else { p -= 1; buf(p) = ('0' + w).toByte }
    while (p > len) { p -= 1; buf(p) = '0' }
    len += n
    this
  }

  /** Appends `v` in decimal, 18 digits at a time when it exceeds a long. */
  def appendBigInteger(v: BigInteger): Utf8Buf =
    if (v.bitLength < 64) appendLong(v.longValue)
    else if (v.signum < 0) { append('-'); appendBigInteger(v.negate) }
    else {
      val qr = v.divideAndRemainder(Utf8Buf.Ten18)
      appendBigInteger(qr(0))
      appendDigits(qr(1).longValue, 18)
    }

  /** A copy of the bytes written. */
  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)

  def writeTo(out: java.io.OutputStream): Unit = out.write(buf, 0, len)

  /** The bytes decoded as UTF-8; for tests and messages, not for rendering. */
  override def toString: String = new String(buf, 0, len, java.nio.charset.StandardCharsets.UTF_8)
}

object Utf8Buf {
  private val MinLong = Long.MinValue.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Ten18 = BigInteger.TEN.pow(18)

  /** The tens and the ones digit of each number below 100. */
  private val Tens: Array[Byte] = Array.tabulate(100)(i => ('0' + i / 10).toByte)
  private val Ones: Array[Byte] = Array.tabulate(100)(i => ('0' + i % 10).toByte)
  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Decimal digits of `v` ≥ 0: from its bit length (log10 2 ≈ 1233/4096),
    * corrected by one comparison. */
  def digitCount(v: Long): Int =
    if (v < 10) 1
    else {
      val t = ((64 - java.lang.Long.numberOfLeadingZeros(v)) * 1233) >>> 12
      if (v < Pow10(t)) t else t + 1
    }
}
