package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public column/DataFrame API of the Kusto render layer — the Spark-native
  * re-expression of the reference's conversion engine
  * (`/root/reference/pq2json/src/converter.rs`). Scalar renders compose
  * codegen'd builtins or the custom expressions in `expressions.scala`; the
  * whole-row JSON/CSV encodes are terminal sink expressions.
  *
  * Everything here is a narrow (shuffle-free) transformation: at 100 TB the
  * plan is scan -> render -> write, parallel per file split, with column
  * pruning and predicate pushdown still reaching the parquet scan because
  * the render projection sits above an ordinary relational plan.
  */
object KustoRender {

  import KustoRowRenderer.TicksTillUnixTime

  private def expr2col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftShims.column(e)
  private def col2expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftShims.expression(c)

  // ---- scalar renders (§2.1 rows 10-14) ----------------------------------

  /** .NET ticks: `ms * 10000 + 621355968000000000`, overflow -> null
    * (`converter.rs:307-316`). Micros truncate to millis first
    * (`converter.rs:117-120` — `unix_millis` floors, matching u64 division
    * for the reference's post-1970 domain). Pure builtins, stays codegen'd. */
  def timestampTicks(c: Column): Column = {
    val ms = unix_millis(c.cast(TimestampType)) // NTZ-safe: session tz is UTC
    val maxMs = (Long.MaxValue - TicksTillUnixTime) / 10000
    when(ms < 0 || ms > maxMs, lit(null).cast(LongType))
      .otherwise(ms * lit(10000L) + lit(TicksTillUnixTime))
  }

  /** ISO-8601 with exactly 6 fractional digits and Z suffix
    * (`converter.rs:318-328`); millisecond precision so the last 3 digits
    * are zeros, matching the micros->millis truncation. */
  def timestampIso(c: Column): Column = {
    val ms = unix_millis(c.cast(TimestampType)) // NTZ-safe: session tz is UTC
    when(ms < 0, lit(null).cast(StringType))
      .otherwise(date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
  }

  /** Raw unix milliseconds (`converter.rs:330`). The reference reinterprets
    * the RAW micros as u64 and then divides by 1000, so pre-epoch values
    * render as huge positives (us = -1e6 -> 18446744073708551), exactly like
    * [[KustoRowRenderer]]'s UnixMs path — NOT signed `unix_millis` floor
    * division. [[DivideUnsigned]] keeps the reinterpretation one codegen'd
    * static call on the hot render path. */
  def timestampUnixMs(c: Column): Column = expr2col(
    DivideUnsigned(col2expr(unix_micros(c.cast(TimestampType))), col2expr(lit(1000L))))

  def timestampRender(c: Column, mode: TimestampMode): Column = mode match {
    case TimestampMode.IsoStr => timestampIso(c)
    case TimestampMode.Ticks  => timestampTicks(c)
    case TimestampMode.UnixMs => timestampUnixMs(c)
  }

  /** Date -> "yyyy-MM-dd" (`converter.rs:334-343`). */
  def dateIso(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** NaN/±Inf -> null (`converter.rs:291-295`); Spark keeps NaN natively so
    * this is an explicit rule. Floats widen to double like the reference's
    * `f as f64` (`converter.rs:108`). */
  def finiteOrNull(c: Column): Column = {
    val d = c.cast(DoubleType)
    when(isnan(d) || d === Double.PositiveInfinity || d === Double.NegativeInfinity,
      lit(null).cast(DoubleType)).otherwise(d)
  }

  /** Decimal -> plain string, never scientific (`converter.rs:345-371`). */
  def decimalPlain(c: Column): Column = expr2col(DecimalPlainString(col2expr(c)))

  /** Binary -> array of unsigned byte numbers (`converter.rs:283-289`). */
  def bytesAsIntArray(c: Column): Column = expr2col(BinaryToIntArray(col2expr(c)))

  /** Shortest-round-trip double text (ryu); csv=true strips trailing zeros. */
  def doubleText(c: Column, csv: Boolean = false): Column =
    expr2col(RyuDoubleString(col2expr(c), csv))

  /** The `--convert-types` u64 -> i64 two's-complement reinterpret
    * (`converter.rs:297-303`; Kusto "U64 into long", `main.rs:37`). Spark
    * reads parquet UINT64 as Decimal(20,0); values above Long.MaxValue wrap
    * negative exactly like `l as i64`. */
  def u64ToLong(c: Column): Column = {
    val twoPow64 = lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64)))
    when(c > lit(Long.MaxValue), (c - twoPow64).cast(LongType))
      .otherwise(c.cast(LongType))
  }

  // ---- whole-row encodes (entry points 1 and 2, `converter.rs:30-59`) ----

  /** The top-level column named exactly `name`: dots stay part of the
    * name and embedded backticks are escaped by doubling. */
  def exactCol(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** JSONL encode: df -> single `json` column, one JSON object per row with
    * full Kusto semantics. Equivalent of `top_level_rows_to_json`. */
  def toKustoJson(df: DataFrame, opts: KustoRenderOptions = KustoRenderOptions()): DataFrame = {
    val st = struct(df.columns.map(exactCol).toIndexedSeq: _*)
    df.select(expr2col(KustoJsonExpr(col2expr(st), opts)).as("json"))
  }

  /** CSV encode with optional projection: requested columns absent from the
    * schema become empty slots in their requested position
    * (`converter.rs:61-93,160-169`); nested values embed as JSON strings;
    * lines end in `\r` so the text sink's `\n` yields the reference's
    * `\r\n` records. */
  def toKustoCsv(df: DataFrame, columns: Option[Seq[String]] = None,
      opts: KustoRenderOptions = KustoRenderOptions()): DataFrame = {
    val present = df.columns.toSet
    val (slots, selected) = columns match {
      case None => (df.columns.map(_ => false).toSeq, df.columns.toSeq)
      case Some(cols) =>
        (cols.map(c => !present.contains(c)), cols.filter(present.contains))
    }
    val st = struct(selected.map(exactCol).toIndexedSeq: _*)
    df.select(expr2col(KustoCsvLineExpr(col2expr(st), opts, slots)).as("line"))
  }

  /** Write JSONL exactly like entry point 1: one `{...}` per line. */
  def writeKustoJson(df: DataFrame, path: String,
      opts: KustoRenderOptions = KustoRenderOptions()): Unit =
    toKustoJson(df, opts).write.text(path)

  /** Write CSV exactly like entry point 2 (`\r\n` records). */
  def writeKustoCsv(df: DataFrame, path: String, columns: Option[Seq[String]] = None,
      opts: KustoRenderOptions = KustoRenderOptions()): Unit =
    toKustoCsv(df, columns, opts).write.text(path)
}
