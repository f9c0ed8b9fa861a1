package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata => PqFooter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Metadata introspection operators — the reference's entry point 3
  * (`/root/reference/pq2json/src/schema.rs`): Parquet schema dump, the
  * Parquet -> Kusto (CSL) 8-type schema mapping, and per-row-group
  * metadata. All are footer-only reads on the driver; no Spark job runs,
  * exactly like the reference touches no data pages (`schema.rs` reads the
  * footer only). At 100 TB these stay O(#files) driver-side calls (or can
  * be distributed over a file list with `spark.parallelize` — footers are
  * independent).
  */
object ParquetMetadata {

  /** One column of the CSL schema report (`schema.rs:60-66` prints
    * `{"name": ..., "type": ...}` JSON objects). */
  final case class CslColumn(name: String, cslType: String)

  /** Row-group metadata row; values are STRINGS in the reference's output
    * (`schema.rs:129-135`). */
  final case class RowGroupInfo(numberOfRows: String, totalByteSize: String)

  /** One file's footer, read once; every footer-only report derives from
    * it. `blocks` are the row groups in file order. */
  final case class Footer(meta: PqFooter) {
    def schema: MessageType = meta.getFileMetaData.getSchema
    def blocks: Seq[BlockMetaData] = meta.getBlocks.asScala.toSeq
  }

  /** Building a `Configuration` loads Hadoop's default resources on every
    * call (about 10 ms), so the local footer reads share one. */
  private lazy val localConf = new Configuration()

  /** Reads `path`'s footer, all row groups included. `conf` supplies the
    * filesystem settings; the default reads local files. */
  def footer(path: String, conf: Configuration = localConf): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try Footer(reader.getFooter)
    finally reader.close()
  }

  /** Parquet schema tree + key-value metadata, the `--schema` op
    * (`schema.rs:18-35`). */
  def schemaString(path: String): String = footer(path).schema.toString

  /** The `--cslschema` op (`schema.rs:43-109`): map each top-level field of
    * the Parquet message type onto Kusto's 8-type surface. Port of the
    * match at `schema.rs:81-104`, including the asymmetries:
    * INT32/INT64-backed DECIMAL -> `real` while BYTE_ARRAY/FIXED-backed
    * DECIMAL -> `decimal`, and any group (nested) type -> `dynamic`.
    *
    * Timestamp fidelity (divergence CLOSED, round 12): the reference's
    * parquet crate sees only legacy ConvertedTypes, for which naive
    * (isAdjustedToUTC=false) and NANOS timestamps have no representation —
    * it reports those INT64 columns as `long` (`schema.rs:99-101` matches
    * TIMESTAMP_MILLIS|TIMESTAMP_MICROS, everything else falls to `long`).
    * parquet-mr synthesizes `Timestamp(isAdjustedToUTC=true, MILLIS|MICROS)`
    * from exactly those two ConvertedTypes when reading legacy files, so
    * requiring adjusted-UTC MILLIS/MICROS here reproduces the reference's
    * visibility rule bug-for-bug on both legacy and modern files: a naive
    * or NANOS timestamp column maps to `long`.
    */
  def cslSchema(path: String): Seq[CslColumn] =
    footer(path).schema.getFields.asScala.toSeq.map(f => CslColumn(f.getName, fieldCslType(f)))

  private def fieldCslType(t: PType): String = t match {
    case _: GroupType => "dynamic" // schema.rs:107
    case p: PrimitiveType =>
      import org.apache.parquet.schema.PrimitiveType.{PrimitiveTypeName => PTN}
      val ann = p.getLogicalTypeAnnotation
      def is[A <: LogicalTypeAnnotation](cls: Class[A]): Boolean =
        ann != null && cls.isInstance(ann)
      p.getPrimitiveTypeName match {
        case PTN.BOOLEAN => "bool" // schema.rs:82
        case PTN.BINARY => // BYTE_ARRAY in the Rust crate's naming
          if (is(classOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) ||
              is(classOf[LogicalTypeAnnotation.EnumLogicalTypeAnnotation]) ||
              is(classOf[LogicalTypeAnnotation.JsonLogicalTypeAnnotation])) "string" // :84
          else if (is(classOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])) "decimal" // :85
          else "dynamic" // :86
        case PTN.FIXED_LEN_BYTE_ARRAY =>
          if (is(classOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])) "decimal" // :89
          else "dynamic" // :90
        case PTN.DOUBLE | PTN.FLOAT => "real" // :92
        case PTN.INT32 =>
          if (is(classOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation])) "datetime" // :94
          else if (is(classOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation])) "real" // :95
          else "int" // :96
        case PTN.INT64 =>
          ann match {
            // :99 — only the two legacy-visible ConvertedTypes
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if ts.isAdjustedToUTC &&
                  ts.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS =>
              "datetime"
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              "real" // :100
            case _ => "long" // :101 — incl. naive/NANOS timestamps
          }
        case PTN.INT96 => "datetime" // :103
        case _ => "dynamic"
      }
  }

  /** CSL mapping from a Spark logical schema (no footer available, e.g. an
    * in-memory DataFrame). Physical-type distinctions are approximated by
    * Spark's parquet writer defaults: decimals of precision <= 18 are
    * INT32/INT64-backed (-> `real`, `schema.rs:95,100`), wider ones
    * FLBA-backed (-> `decimal`, `schema.rs:89`).
    */
  def cslSchemaOf(schema: StructType): Seq[CslColumn] =
    schema.fields.toSeq.map { f =>
      val t = f.dataType match {
        case BooleanType => "bool"
        case StringType => "string"
        case d: DecimalType => if (d.precision <= 18) "real" else "decimal"
        case FloatType | DoubleType => "real"
        // TimestampNTZType writes naive (isAdjustedToUTC=false) micros —
        // legacy-invisible, so the reference reports `long` (see
        // [[fieldCslType]]'s INT64 arm)
        case DateType | TimestampType => "datetime"
        case TimestampNTZType => "long"
        case ByteType | ShortType | IntegerType => "int"
        case LongType => "long"
        case _ => "dynamic" // nested, binary, anything else — schema.rs:86,107
      }
      CslColumn(f.name, t)
    }

  /** Dotted paths of UINT64 columns (INT64 + unsigned 64-bit IntType
    * annotation), footer read only. Spark surfaces parquet UINT64 as
    * Decimal(20,0) — indistinguishable at the Spark schema level from a
    * true decimal column — but the reference renders raw u64 as a bare
    * JSON NUMBER (`converter.rs:296-302`, the no-convert-types branch of
    * `ulong_to_value`), so the render layer needs the footer's verdict.
    * Paths cover primitives reachable through plain (non-REPEATED)
    * groups — the struct-nesting case; u64 inside lists/maps keeps the
    * decimal-string rendering (documented, exotic for raw-u64 files). */
  def unsignedInt64Paths(f: Footer): Set[String] =
    walkPrimitivePaths(f) { p =>
      import org.apache.parquet.schema.PrimitiveType.{PrimitiveTypeName => PTN}
      p.getPrimitiveTypeName == PTN.INT64 &&
        (p.getLogicalTypeAnnotation match {
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
            i.getBitWidth == 64 && !i.isSigned
          case _ => false
        })
    }

  /** Dotted paths of ALL primitive columns reachable through plain
    * (non-REPEATED, non-LIST/MAP) groups — the same path universe as
    * [[unsignedInt64Paths]]. Lets the u64 footer-disagreement check tell
    * "path absent from this footer's schema" (a partial-schema dump, not
    * a disagreement) apart from "path present but signed" (ADVICE r12). */
  def primitivePaths(f: Footer): Set[String] =
    walkPrimitivePaths(f)(_ => true)

  def unsignedInt64Paths(path: String): Set[String] = unsignedInt64Paths(footer(path))
  def primitivePaths(path: String): Set[String] = primitivePaths(footer(path))

  private def walkPrimitivePaths(f: Footer)(pred: PrimitiveType => Boolean): Set[String] = {
    def walk(t: PType, prefix: String): Seq[String] = t match {
      case p: PrimitiveType =>
        if (pred(p) && !p.isRepetition(PType.Repetition.REPEATED))
          Seq(prefix + p.getName)
        else Seq.empty
      case g: GroupType if g.isRepetition(PType.Repetition.REPEATED) => Seq.empty
      case g: GroupType if g.getLogicalTypeAnnotation != null => Seq.empty // LIST/MAP wrappers
      case g: GroupType =>
        g.getFields.asScala.toSeq.flatMap(walk(_, prefix + g.getName + "."))
    }
    f.schema.getFields.asScala.toSeq.flatMap(walk(_, "")).toSet
  }

  /** Distinct compression codec names used by any column chunk (footer
    * read only). Used by the brotli gate: the reference reads brotli via
    * the Rust parquet crate (`/root/reference/pq2json/Cargo.toml:9`);
    * Spark's parquet-hadoop maps it to an
    * org.apache.hadoop.io.compress.BrotliCodec class that exists on no
    * stock classpath, so WE ship one (backed by the machine's
    * libbrotlidec through [[graft.sources.BrotliNative]]) and fail fast
    * with a clear message only on hosts where that native path cannot
    * load. */
  def codecs(f: Footer): Set[String] =
    f.blocks.flatMap(_.getColumns.asScala.map(_.getCodec.name())).toSet

  def codecs(path: String): Set[String] = codecs(footer(path))

  /** The `--rowgroups` op (`schema.rs:118-143`): per row group
    * `{numberOfRows, totalByteSize}` — string-typed like the reference. */
  def rowGroups(path: String): Seq[RowGroupInfo] =
    footer(path).blocks.map(b => RowGroupInfo(b.getRowCount.toString, b.getTotalByteSize.toString))
}
