package graft

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Arbitrary.arbitrary
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Properties of the Kusto row writer over random nested schemas and rows
  * built in memory (no Spark job): JSON output parses, its object keys
  * strictly increase in UTF-8 byte order, each omission flag leaves no
  * member it should have dropped, and every CSV line splits back into one
  * field per slot.
  */
class KustoWriterPropertySpec extends AnyFunSuite {
  import KustoRowGen._

  private val mapper = new ObjectMapper()
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(300).withInitialSeed(Seed(20261017L))

  private def check(prop: Prop): Unit = {
    val res = Test.check(params, prop)
    assert(res.passed, res.status)
  }

  private def keysIncrease(n: JsonNode): Boolean = {
    val keys = n.fieldNames.asScala.map(UTF8String.fromString).toSeq
    keys.zip(keys.drop(1)).forall { case (a, b) => a.compareTo(b) < 0 } &&
      n.elements.asScala.forall(keysIncrease)
  }

  /** No member the options omit survives: under omitNulls no object member
    * is null, under omitEmptyBags no nested object is `{}`, under
    * omitEmptyLists no list is `[]` — binary is bytes, not a list. */
  private def omissionsHold(n: JsonNode, dt: DataType, o: KustoRenderOptions): Boolean = {
    def members(typesOf: String => Seq[DataType]) =
      n.fields.asScala.forall { e =>
        !(o.omitNulls && e.getValue.isNull) &&
          typesOf(e.getKey).exists(omissionsHold(e.getValue, _, o))
      }
    dt match {
      case _ if n.isNull => true
      case st: StructType =>
        !(o.omitEmptyBags && n.isEmpty) &&
          members(k => st.fields.toSeq.filter(_.name == k).map(_.dataType))
      case MapType(_, vt, _) => !(o.omitEmptyBags && n.isEmpty) && members(_ => Seq(vt))
      case ArrayType(et, _) =>
        !(o.omitEmptyLists && n.isEmpty) && n.elements.asScala.forall(omissionsHold(_, et, o))
      case _ => true
    }
  }

  test("json: parses, keys strictly increase in UTF-8 order, omissions hold") {
    check(Prop.forAllNoShrink(renderCase) { case (schema, rows, opts, _) =>
      val expr = KustoJsonExpr(BoundReference(0, schema, nullable = true), opts)
      rows.forall { row =>
        val node = mapper.readTree(expr.render(row).toString)
        // the top level is `{}` when null or pruned empty, never null
        node.isObject && keysIncrease(node) &&
          (node.isEmpty || omissionsHold(node, schema, opts))
      }
    })
  }

  /** RFC 4180 split with the `\r` terminator; None when malformed. */
  private def splitCsv(line: String): Option[Seq[String]] = {
    if (!line.endsWith("\r")) return None
    val body = line.dropRight(1)
    val fields = Seq.newBuilder[String]
    var i = 0
    var more = true
    while (more) {
      val sb = new StringBuilder
      if (i < body.length && body(i) == '"') {
        i += 1
        var closed = false
        while (!closed) {
          if (i >= body.length) return None
          if (body(i) == '"' && i + 1 < body.length && body(i + 1) == '"') { sb += '"'; i += 2 }
          else if (body(i) == '"') { closed = true; i += 1 }
          else { sb += body(i); i += 1 }
        }
      } else {
        while (i < body.length && body(i) != ',') {
          if (body(i) == '"' || body(i) == '\r') return None
          sb += body(i); i += 1
        }
      }
      fields += sb.result()
      if (i == body.length) more = false
      else if (body(i) == ',') i += 1
      else return None
    }
    Some(fields.result())
  }

  test("csv: every line splits into one field per slot; nested fields are JSON") {
    check(Prop.forAllNoShrink(renderCase) { case (schema, rows, opts, missing) =>
      val expr = KustoCsvLineExpr(BoundReference(0, schema, nullable = true), opts, missing)
      val present = missing.zipWithIndex.filterNot(_._1).map(_._2)
      rows.forall { row =>
        splitCsv(expr.render(row).toString).exists { fields =>
          fields.length == missing.length &&
            missing.zip(fields).forall { case (m, f) => !m || f.isEmpty } &&
            present.zip(schema.fields).forall { case (slot, f) =>
              f.dataType match {
                case _: StructType | _: ArrayType | _: MapType | BinaryType
                    if fields(slot).nonEmpty => mapper.readTree(fields(slot)) != null
                case _ => true
              }
            }
        }
      }
    })
  }
}

/** Random nested schemas, rows and render options for the Kusto writer. A
  * small name pool makes structs repeat field names and maps repeat keys;
  * strings carry the characters JSON escaping and CSV quoting act on. */
object KustoRowGen {
  private val emoji = new String(Character.toChars(0x1F600))
  val names: Seq[String] = Seq("a", "b", "", "\u00e9", "\uE000", emoji, "q\"", "c,d")

  private val primitive: Gen[DataType] = Gen.oneOf(
    NullType, BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DecimalType(20, 0), DecimalType(9, 2), DecimalType(38, 10), StringType,
    BinaryType, DateType, TimestampType, TimestampNTZType)
  private val keyType: Gen[DataType] =
    Gen.oneOf(BooleanType, ByteType, ShortType, IntegerType, LongType, StringType)

  def dataType(depth: Int): Gen[DataType] =
    if (depth == 0) primitive
    else Gen.frequency(
      4 -> primitive,
      1 -> Gen.lzy(struct(0, 4, depth - 1)),
      1 -> Gen.lzy(dataType(depth - 1)).map(ArrayType(_, containsNull = true)),
      1 -> Gen.lzy(Gen.zip(keyType, dataType(depth - 1)))
        .map { case (k, v) => MapType(k, v, valueContainsNull = true) })

  def struct(min: Int, max: Int, depth: Int): Gen[StructType] = for {
    n <- Gen.choose(min, max)
    fields <- Gen.listOfN(n, Gen.zip(Gen.oneOf(names), dataType(depth)))
  } yield StructType(fields.map { case (name, t) => StructField(name, t) })

  private val text: Gen[String] = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf(
    Gen.alphaNumStr.map(_.take(3)),
    Gen.oneOf("\"", ",", "\r", "\n", "\\", "\u0001", "\u001f", " ", "\u00e9", "\uE000", emoji))))
    .map(_.mkString)

  private def key(kt: DataType): Gen[Any] = kt match {
    case BooleanType => arbitrary[Boolean]
    case ByteType => Gen.choose(-2, 2).map(_.toByte)
    case ShortType => Gen.choose(-2, 2).map(_.toShort)
    case IntegerType => Gen.choose(-2, 12)
    case LongType => Gen.choose(-2L, 12L)
    case _ => Gen.oneOf(names).map(UTF8String.fromString)
  }

  def value(dt: DataType): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> nonNull(dt))

  private def nonNull(dt: DataType): Gen[Any] = dt match {
    case NullType => Gen.const(null)
    case BooleanType => arbitrary[Boolean]
    case ByteType => arbitrary[Byte]
    case ShortType => arbitrary[Short]
    case IntegerType => arbitrary[Int]
    case LongType => arbitrary[Long]
    case FloatType => Gen.oneOf(arbitrary[Float],
      Gen.oneOf(Float.NaN, Float.NegativeInfinity, -0.0f, 3.0f, 0.1f, Float.MaxValue))
    case DoubleType => Gen.oneOf(arbitrary[Double],
      Gen.oneOf(Double.NaN, Double.PositiveInfinity, -0.0, 2.5, 1e300, 1e-7, 100.0))
    case d: DecimalType => for {
      n <- Gen.choose(0, d.precision)
      digits <- Gen.listOfN(n, Gen.numChar)
      neg <- arbitrary[Boolean]
    } yield {
      val unscaled = new java.math.BigInteger((if (neg) "-" else "") + digits.mkString.padTo(1, '0'))
      Decimal(new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale)
    }
    case StringType => text.map(UTF8String.fromString)
    case BinaryType => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, arbitrary[Byte])).map(_.toArray)
    case DateType => Gen.oneOf(Gen.choose(-1000, 3000000), Gen.const(0))
    case TimestampType | TimestampNTZType => Gen.oneOf(arbitrary[Long],
      Gen.choose(-10000000000000L, 300000000000000000L), Gen.const(-1000000L), Gen.const(0L))
    case st: StructType => row(st)
    case ArrayType(et, _) =>
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(et)))
        .map(xs => new GenericArrayData(xs.toArray[Any]))
    case MapType(kt, vt, _) =>
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(key(kt), value(vt)))).map { kvs =>
        new ArrayBasedMapData(new GenericArrayData(kvs.map(_._1).toArray[Any]),
          new GenericArrayData(kvs.map(_._2).toArray[Any]))
      }
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }

  def row(st: StructType): Gen[InternalRow] =
    Gen.sequence[Seq[Any], Any](st.fields.toSeq.map(f => value(f.dataType)))
      .map(vs => new GenericInternalRow(vs.toArray))

  /** Dotted paths of the Decimal(20,0) fields reachable through structs —
    * the only places a footer's UINT64 column can land. */
  def u64Paths(st: StructType, prefix: String = ""): Seq[String] = st.fields.toSeq.flatMap { f =>
    f.dataType match {
      case d: DecimalType if d.precision == 20 && d.scale == 0 => Seq(prefix + f.name)
      case s: StructType => u64Paths(s, prefix + f.name + ".")
      case _ => Nil
    }
  }

  def options(schema: StructType): Gen[KustoRenderOptions] = for {
    omitNulls <- arbitrary[Boolean]
    omitEmptyBags <- arbitrary[Boolean]
    omitEmptyLists <- arbitrary[Boolean]
    convertTypes <- arbitrary[Boolean]
    mode <- Gen.oneOf(TimestampMode.IsoStr, TimestampMode.Ticks, TimestampMode.UnixMs)
    unsigned <- Gen.someOf(u64Paths(schema))
  } yield KustoRenderOptions(omitNulls, omitEmptyBags, omitEmptyLists, convertTypes, mode,
    unsigned.toSet)

  /** Requested CSV slots: the schema's fields in order, with absent columns
    * (true) interleaved. */
  def slots(schema: StructType): Gen[Seq[Boolean]] = for {
    extra <- Gen.choose(0, 2)
    at <- Gen.listOfN(extra, Gen.choose(0, schema.size))
  } yield at.sorted.reverse.foldLeft(Seq.fill(schema.size)(false))(_.patch(_, Seq(true), 0))

  /** A schema, up to 8 rows (some null), options and CSV slots. */
  val renderCase: Gen[(StructType, Seq[InternalRow], KustoRenderOptions, Seq[Boolean])] = for {
    schema <- struct(1, 5, 3)
    n <- Gen.choose(1, 8)
    rows <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null), 8 -> row(schema)))
    opts <- options(schema)
    missing <- slots(schema)
  } yield (schema, rows, opts, missing)
}
