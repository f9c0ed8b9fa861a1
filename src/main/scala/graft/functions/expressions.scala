package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decimal -> plain (never scientific) string, the reference's
  * `decimal_to_string` (`/root/reference/pq2json/src/converter.rs:345-371`).
  * `java.math.BigDecimal.toPlainString` implements the identical
  * zero-padding algorithm, so the whole expression stays codegen'd as one
  * virtual call — no UDF, no fallback.
  */
case class DecimalPlainString(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(input.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString($c.toJavaBigDecimal().toPlainString())")
  override protected def withNewChildInternal(newChild: Expression): DecimalPlainString =
    copy(child = newChild)
}

/** 64-bit UNSIGNED division of two longs — `Long.divideUnsigned` as a
  * codegen'd expression. The reference's unixms render reinterprets raw
  * timestamp micros as u64 before dividing by 1000 (`converter.rs:330`),
  * which signed integer division gets wrong for every pre-epoch value;
  * this keeps that reinterpretation a single static call in generated
  * code instead of a decimal-arithmetic detour. Division by zero is null,
  * matching Spark's `try_divide` convention rather than raising.
  */
case class DivideUnsigned(left: Expression, right: Expression)
    extends BinaryExpression {
  // analysis-time typing, so divide_unsigned('a', 'b') is an analysis
  // error, not a ClassCastException / codegen compile failure at runtime
  // (AbstractDataType is private[sql], so no ImplicitCastInputTypes here —
  // both sides must already BE bigint; cast explicitly at the call site)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "divide_unsigned requires (bigint, bigint), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null || r.asInstanceOf[Long] == 0L) null
    else java.lang.Long.divideUnsigned(l.asInstanceOf[Long], r.asInstanceOf[Long])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = ${l.isNull} || ${r.isNull} || ${r.value} == 0L;
      long ${ev.value} = ${ev.isNull} ? 0L :
        java.lang.Long.divideUnsigned(${l.value}, ${r.value});
    """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DivideUnsigned =
    copy(left = newLeft, right = newRight)
}

/** Binary -> array of unsigned byte numbers (0..255), the reference's
  * `bytes_to_value` (`converter.rs:283-289` — JSON array of numbers, not
  * base64). Codegen'd loop producing an UnsafeArrayData.
  */
case class BinaryToIntArray(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val out = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = bytes(i) & 0xff; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val arr = ctx.freshName("arr")
      s"""
         |int[] $arr = new int[$c.length];
         |for (int $i = 0; $i < $c.length; $i++) { $arr[$i] = $c[$i] & 0xff; }
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): BinaryToIntArray =
    copy(child = newChild)
}

/** Double -> shortest-round-trip text per [[Ryu]]; `csv=true` additionally
  * strips trailing zeros (`converter.rs:196-197,210-212`). NaN/Inf -> null
  * (`converter.rs:291-295`). Codegen is a static call into [[Ryu]].
  */
case class RyuDoubleString(child: Expression, csv: Boolean) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  private def render(d: Double): UTF8String =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else Ryu.text(d, csv)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else render(v.asInstanceOf[Double])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      if (!${childGen.isNull} && !java.lang.Double.isNaN(${childGen.value})
          && !java.lang.Double.isInfinite(${childGen.value})) {
        ${ev.isNull} = false;
        ${ev.value} = graft.functions.Ryu.text(${childGen.value}, $csv);
      }""")
  }
  override protected def withNewChildInternal(newChild: Expression): RyuDoubleString =
    copy(child = newChild)
}

/** Shared shell of the whole-row encodes: the child must be a struct
  * (typically `struct(df.columns*)`), and each row renders through a
  * [[KustoRowRenderer]] into a byte buffer that the calling thread reuses,
  * then is copied once into the result's `UTF8String`. Codegen embeds the
  * expression as a reference object and calls [[render]] directly, so the
  * surrounding scan -> render projection stays inside the whole-stage-codegen
  * span instead of dropping the whole projection to the interpreted path.
  */
abstract class KustoRowExpr extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  /** Appends the text for `row`, which is null when the struct is null. */
  protected def write(row: InternalRow, sb: Utf8Buf): Unit

  /** Public so generated code can call it on the embedded reference. */
  def render(row: InternalRow): UTF8String = {
    val sb = KustoRowExpr.buffer.get()
    sb.reset()
    write(row, sb)
    val text = UTF8String.fromBytes(sb.toByteArray)
    if (sb.capacity > KustoRowExpr.MaxKeptBytes) KustoRowExpr.buffer.remove()
    text
  }

  override def eval(input: InternalRow): Any =
    render(child.eval(input).asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kustoRowExpr", this, classOf[KustoRowExpr].getName)
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.unsafe.types.UTF8String ${ev.value} =
        $ref.render(${childGen.isNull} ? null : ${childGen.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
}

object KustoRowExpr {
  /** Each thread's render buffer; rendering never nests, so one suffices. */
  private val buffer: ThreadLocal[Utf8Buf] = ThreadLocal.withInitial(() => new Utf8Buf(1024))
  /** A buffer grown past this by a large row is dropped after it. */
  private val MaxKeptBytes = 1 << 20
}

/** Whole-row JSONL encode: one JSON object per row with the reference's
  * exact Kusto semantics (see [[KustoRowRenderer]]), the Spark counterpart
  * of `top_level_rows_to_json` (`converter.rs:128-143`).
  */
case class KustoJsonExpr(child: Expression, opts: KustoRenderOptions) extends KustoRowExpr {
  @transient private lazy val renderer =
    new KustoRowRenderer(child.dataType.asInstanceOf[StructType], opts)

  override protected def write(row: InternalRow, sb: Utf8Buf): Unit =
    renderer.writeJson(row, sb)

  override protected def withNewChildInternal(newChild: Expression): KustoJsonExpr =
    copy(child = newChild)
}

/** Whole-row CSV line encode mirroring `top_level_rows_to_csv`
  * (`converter.rs:145-188`): fields rendered per `value_to_csv`, nested
  * values embedded as JSON strings, Rust-csv quoting with `\r` terminator
  * semantics. The emitted line ENDS WITH `\r`; writing with Spark's text
  * sink (default `\n` separator) reproduces the reference's `\r\n` line
  * endings (`write_record` terminator + `writeln!`, `converter.rs:184-185`).
  *
  * `missingSlots(i)` marks requested-but-absent projected columns, which
  * render as empty fields in their requested position
  * (`converter.rs:160-169`).
  */
case class KustoCsvLineExpr(child: Expression, opts: KustoRenderOptions,
    missingSlots: Seq[Boolean]) extends KustoRowExpr {
  @transient private lazy val renderer =
    new KustoRowRenderer(child.dataType.asInstanceOf[StructType], opts, csv = true)
  @transient private lazy val missing: Array[Boolean] = missingSlots.toArray

  override protected def write(row: InternalRow, sb: Utf8Buf): Unit =
    renderer.writeCsvLine(row, missing, sb)

  override protected def withNewChildInternal(newChild: Expression): KustoCsvLineExpr =
    copy(child = newChild)
}
