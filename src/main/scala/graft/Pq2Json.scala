package graft

import graft.functions.{KustoRender, KustoRenderOptions, KustoRowRenderer, TimestampMode, Utf8Buf}
import graft.sources.{ParquetMetadata, RowRangeScan}
import org.apache.spark.{SimpleFutureAction, SparkEnv}
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter, ProjectExec, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Try

/** CLI shim reproducing the reference's entry surface 1:1
  * (`/root/reference/pq2json/src/main.rs:10-157`) over SparkSession — the
  * acceptance surface for diff-testing against the reference binary.
  *
  *   pq2json [--csv] [-c/--columns JSON_ARRAY] [-o/--output FILE]
  *           [--omit-nulls] [--omit-empty-bags] [--omit-empty-lists]
  *           [-p/--prune] [-r/--convert-types] [-t/--timestamp MODE]
  *           [--schema | --cslschema | --rowgroups] INPUT
  *
  * Faithfulness notes:
  *   - `-o` actually works here; in the reference it is dead code
  *     (`main.rs:127` queries `value_of("OUT_FILE")` but the arg is named
  *     "output", so output always goes to stdout).
  *   - errors print `ERROR: ...` on stderr and exit nonzero
  *     (`main.rs:159-165`).
  *   - conversion streams like the reference's row loop
  *     (`converter.rs:133`), but one row range per Spark job, with up to
  *     `defaultParallelism` jobs in flight; each renders its range's rows
  *     straight from the scan's batches (or rows) as UTF-8 bytes into one
  *     compressed block, written to OUT strictly in scan order; the
  *     render copies no row and builds no struct, `UTF8String` or `String`
  *     per row. The ranges come from Spark's planned splits
  *     ([[graft.sources.RowRangeScan]]): a row group of a file that Spark
  *     cut into several splits — or of any file, when the scan has fewer
  *     splits than cores — is cut into batch-aligned row ranges, so a
  *     one-row-group file converts on every core; other splits stay whole.
  *     The cut is for parallelism: a group becomes at most as many
  *     ranges as there are cores, so a range's block is about its group's
  *     rendered text over that count, and a whole split's block is as
  *     large as the split's rendered text. Neither is bounded by the
  *     data: a row group whose text over the core count exceeds
  *     `spark.driver.maxResultSize` still fails the conversion.
  *     Driver memory is at most `defaultParallelism` compressed blocks,
  *     and a task holds its block and one 64 KiB render buffer.
  *     Row order is scan order, which for a single parquet file matches
  *     the reference's file order.
  *   - a failed write to OUT (full disk, closed pipe) is an error, not a
  *     silently truncated output.
  */
object Pq2Json {

  final case class Args(
      input: String = null, output: Option[String] = None,
      columns: Option[Seq[String]] = None, csv: Boolean = false,
      schema: Boolean = false, cslSchema: Boolean = false,
      rowGroups: Boolean = false, distributed: Boolean = false,
      opts: KustoRenderOptions = KustoRenderOptions())

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    var omitNulls, omitBags, omitLists, prune = false
    def value(): String = {
      i += 1
      if (i >= argv.length)
        throw new IllegalArgumentException(s"missing value for ${argv(i - 1)}")
      argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--omit-nulls" => omitNulls = true
        case "--omit-empty-bags" => omitBags = true
        case "--omit-empty-lists" => omitLists = true
        case "-p" | "--prune" => prune = true
        case "-r" | "--convert-types" =>
          a = a.copy(opts = a.opts.copy(convertTypes = true))
        case "--csv" => a = a.copy(csv = true)
        case "--schema" => a = a.copy(schema = true)
        case "--cslschema" => a = a.copy(cslSchema = true)
        case "--rowgroups" => a = a.copy(rowGroups = true)
        case "-t" | "--timestamp" =>
          a = a.copy(opts = a.opts.copy(timestampMode = TimestampMode.parse(value())))
        case "-c" | "--columns" =>
          a = a.copy(columns = Some(parseJsonStringArray(value())))
        case "-o" | "--output" =>
          a = a.copy(output = Some(value()))
        case "-d" | "--distributed" => a = a.copy(distributed = true)
        case v if v.startsWith("-v") => // verbosity: accepted, unused
        case other if a.input == null => a = a.copy(input = other)
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
      i += 1
    }
    require(a.input != null, "INPUT must be provided")
    require(!a.distributed || a.output.isDefined, "--distributed requires -o OUT_DIR")
    a = a.copy(opts = a.opts.copy(
      omitNulls = omitNulls || prune,
      omitEmptyBags = omitBags || prune,
      omitEmptyLists = omitLists || prune))
    a
  }

  /** `--columns` takes a JSON array of strings (`main.rs:142-145`). Parsed
    * with Jackson (already on the Spark classpath) like the reference's
    * serde_json parse, so names containing commas or escaped quotes work. */
  def parseJsonStringArray(s: String): Seq[String] = {
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalArgumentException(
            s"expected a JSON array of column names: ${e.getMessage}")
      }
    require(node != null && node.isArray, "expected a JSON array of column names")
    val out = Seq.newBuilder[String]
    node.forEach { e =>
      require(e.isTextual, "expected a JSON array of double-quoted column names")
      out += e.asText()
    }
    out.result()
  }

  /** The u64 footer-disagreement warnings over the sampled footers —
    * `(file, u64Paths, allPrimitivePaths)` per sampled file. The render
    * verdict is a single column-path set applied to the WHOLE directory;
    * a dump mixing files where the same path is UINT64 in one and plain
    * INT64/true decimal in another would render ALL rows unsigned.
    * Homogeneous dumps (one writer config) are the contract — but footer
    * DISAGREEMENT is observable for free here, so warn instead of
    * silently unioning (ADVICE r11). Only files whose footer actually
    * CONTAINS the path count as disagreeing (a partial-schema dump is
    * not a signedness conflict), and warnings aggregate to ONE line per
    * path naming the disagreeing files — never a line per (path, file)
    * pair (ADVICE r12). Factored pure for Pq2JsonSpec. */
  private[graft] def u64FooterWarnings(
      sampled: Seq[(String, Set[String], Set[String])]): Seq[String] = {
    val u64Paths = sampled.flatMap(_._2).toSet
    u64Paths.toSeq.sorted.flatMap { path =>
      val signedIn = sampled.collect {
        case (file, u64, all) if all.contains(path) && !u64.contains(path) => file
      }
      if (signedIn.isEmpty) None
      else Some(s"WARNING: column path '$path' is UINT64 in some sampled " +
        s"footers but signed in ${signedIn.mkString(", ")}; rendering it " +
        "unsigned for ALL rows — re-encode the dump with one writer config")
    }
  }

  def run(spark: SparkSession, a: Args, out: java.io.PrintStream): Unit = {
    if (a.schema) {
      out.println("\n\nParquet metadata")
      out.println("=================================================")
      out.println(ParquetMetadata.schemaString(a.input))
    } else if (a.cslSchema) {
      out.println(ParquetMetadata.cslSchema(a.input)
        .map(c => s"""{"name":${KustoRowRenderer.escape(c.name)},"type":"${c.cslType}"}""")
        .mkString("[", ",", "]"))
    } else if (a.rowGroups) {
      out.println(ParquetMetadata.rowGroups(a.input)
        .map(r => s"""{"numberOfRows":"${r.numberOfRows}","totalByteSize":"${r.totalByteSize}"}""")
        .mkString("[", ",", "]"))
    } else {
      // Brotli inputs: the reference reads brotli (Cargo.toml:9). When
      // the native decoder is loadable we now do too (see the gate
      // below); otherwise fail fast with a message that names the codec
      // instead of surfacing a mid-scan error from the codec lookup.
      // Footer-only ops (--schema/--cslschema/--rowgroups) stay available.
      // Local paths only — remote filesystems skip the pre-check and get
      // Spark's own error.
      // One sampled data file per directory level, recursing into
      // partition subdirectories: a partitioned dataset is written by one
      // writer config, so its files share a codec, and sampling bounds the
      // driver-side footer reads to O(directories) instead of O(files).
      // *.parquet-named files are sampled FIRST so a stray non-parquet
      // file cannot mask a brotli data file behind it; depth is capped so
      // a symlink cycle cannot recurse forever.
      def sampleFiles(f: java.io.File, depth: Int = 0): Seq[String] =
        if (f.isFile) Seq(f.getPath)
        else if (f.isDirectory && depth < 32) {
          // listFiles() is null for unreadable dirs, not empty
          val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          val data = kids.filter(k => k.isFile && k.length > 0 &&
            !k.getName.startsWith("_") && !k.getName.startsWith("."))
          val (pq, other) = data.partition(_.getName.endsWith(".parquet"))
          val sample = pq.sortBy(_.getName).headOption
            .orElse(other.sortBy(_.getName).headOption)
          sample.map(_.getPath).toSeq ++
            kids.filter(_.isDirectory).sortBy(_.getName)
              .flatMap(sampleFiles(_, depth + 1))
        } else Seq.empty
      val sampled = sampleFiles(new java.io.File(a.input))
      // Each sampled footer is read once: the codec gate, the u64 verdict
      // and the stream's row-range plan all derive from the same value.
      // Unreadable footers are skipped — the scan itself will produce its
      // own error for those.
      val footers = sampled.flatMap(p => Try(p -> ParquetMetadata.footer(p)).toOption)
      // When the host provides libbrotlidec (+ a C compiler for the JNI
      // shim), graft.sources.BrotliNative backs the
      // org.apache.hadoop.io.compress.BrotliCodec we ship under the
      // name parquet-java resolves, and brotli inputs convert like any
      // other codec — matching the reference, which reads brotli out of
      // the box. The fail-fast below is the degrade for hosts where the
      // native decoder cannot load.
      if (!graft.sources.BrotliNative.usable)
        footers.collectFirst { case (p, f) if ParquetMetadata.codecs(f).contains("BROTLI") => p }.foreach { p =>
          throw new IllegalArgumentException(
            s"unsupported compression codec BROTLI in $p: no brotli parquet " +
              "codec is available to Spark on this host (" +
              graft.sources.BrotliNative.unavailableReason + "; the " +
              "reference reads brotli via the Rust parquet crate); " +
              "re-encode with snappy/zstd/gzip")
        }
      // footer verdict on raw-u64 columns: Spark's schema shows them as
      // Decimal(20,0) (indistinguishable from a true decimal), but the
      // reference renders raw u64 as a bare unsigned JSON number
      // (`converter.rs:296-302`) — the sampled footers carry the
      // distinction into the render options.
      val u64Sampled = footers.map { case (p, f) =>
        (p, ParquetMetadata.unsignedInt64Paths(f), ParquetMetadata.primitivePaths(f))
      }
      val u64Paths = u64Sampled.flatMap(_._2).toSet
      u64FooterWarnings(u64Sampled).foreach(System.err.println)
      val opts = a.opts.copy(unsignedPaths = u64Paths)
      // The stream reads through a copy of the caller's session (runtime
      // confs kept) that cuts at least two splits per core, unless the
      // caller sets that count itself: smaller splits keep every core
      // busy and bring the first block sooner. -d reads through the
      // caller's session, whose split count is its part-file count.
      val reader =
        if (a.distributed || spark.conf.getOption(MinPartitionNum).isDefined) spark
        else {
          val clone = GraftShims.cloneSession(spark)
          clone.conf.set(MinPartitionNum, 2L * spark.sparkContext.defaultParallelism)
          clone
        }
      val df = readInput(reader, a.input, footers)
      if (a.distributed) {
        // -d/--distributed: OUT is a DIRECTORY of part files written in
        // parallel by every executor — the 100 TB path. The reference's
        // single-ordered-file contract can't parallel-write (one writer,
        // one order), so the streaming-through-the-driver default stays
        // faithful and -d is the scale escape hatch; within each part
        // file, line order is scan order. CSV lines already end in \r,
        // and the text sink's "\n" completes the reference's \r\n.
        val rendered =
          if (a.csv) KustoRender.toKustoCsv(df, a.columns, opts)
          else KustoRender.toKustoJson(df.select(present(df, a.columns).map(KustoRender.exactCol): _*), opts)
        rendered.write.mode("overwrite").text(a.output.get) // parseArgs requires -o
      } else {
        val requested = a.columns.getOrElse(df.columns.toSeq)
        // JSON ignores requested-but-missing columns (`converter.rs:81-84`);
        // CSV renders them as empty slots
        val missing = if (a.csv) Some(requested.map(c => !df.columns.contains(c)).toArray) else None
        stream(df, present(df, a.columns), missing, opts, out, footers.map { case (p, f) =>
          java.nio.file.Paths.get(p).toAbsolutePath.normalize.toUri.getPath -> f
        }.toMap)
      }
    }
  }

  /** The requested columns that `df` has, in requested order. */
  private def present(df: DataFrame, columns: Option[Seq[String]]): Seq[String] =
    columns.fold(df.columns.toSeq)(_.filter(df.columns.contains))

  /** `input` read with the schema that Spark's inference would read from
    * the footer of its first file (name-sorted), when that footer is among
    * `footers`: `input` is one file, or a directory holding only
    * non-empty `*.parquet` files besides hidden ones and no summary file.
    * Then no inference job runs. Anything else — partition directories,
    * summary files, schema merging, another file system — is left to
    * Spark's inference. */
  private[graft] def readInput(spark: SparkSession, input: String,
      footers: Seq[(String, ParquetMetadata.Footer)]): DataFrame = {
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val f = new java.io.File(input)
    val first =
      if (f.isFile) Some(f).filterNot(f => hidden(f.getName))
      else if (f.isDirectory) {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        val data = kids.filterNot(k => hidden(k.getName))
        val plain = kids.forall(k => !k.getName.startsWith("_metadata") &&
            !k.getName.startsWith("_common_metadata") && !(k.getName.startsWith("_") && k.getName.contains("="))) &&
          data.forall(k => k.isFile && k.getName.endsWith(".parquet") && k.length > 0)
        if (plain) data.sortBy(_.getPath).headOption else None
      } else None
    val schema =
      if (spark.conf.getOption("spark.sql.parquet.mergeSchema").exists(_.toBoolean)) None
      else first.flatMap(file => footers.collectFirst {
        case (p, footer) if p == file.getPath => GraftShims.parquetFooterSchema(spark, p, footer.meta)
      })
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(input)
  }

  private val MinPartitionNum = "spark.sql.files.minPartitionNum"

  /** Writes `df`'s `columns` to `out`, a line per row, in scan order:
    * JSON objects, or CSV records whose slots `s` are empty where
    * `csvMissing(s)`. The rows render straight from `df`'s one Parquet
    * scan, whose partitions are cut into row ranges by
    * [[RowRangeScan.prepare]] (`footers` holds the footers already read, by
    * local path; any other is read at most once); `columns` map to the
    * scan's column ordinals, so no projection runs. Each partition is one
    * Spark job returning one [[encodeBlock]]; at most `defaultParallelism`
    * jobs are in flight, and partition `i + window` is submitted once
    * block `i` is written, so the driver holds at most `window` compressed
    * blocks and never decodes a row. Any failure (a job's, or the write's)
    * cancels the jobs in flight and waits for them to end before it
    * propagates. */
  private def stream(df: DataFrame, columns: Seq[String], csvMissing: Option[Array[Boolean]],
      opts: KustoRenderOptions, out: java.io.PrintStream,
      footers: Map[String, ParquetMetadata.Footer]): Unit = {
    // the selection only prunes the scan's columns; rows render from the scan
    val distinct = columns.distinct
    val qe = df.select(distinct.map(KustoRender.exactCol): _*).queryExecution
    val scan = scanOf(qe.executedPlan)
    val attrs = distinct.zip(qe.analyzed.output).toMap
    val ordinals = columns.map(c => scan.output.indexWhere(_.exprId == attrs(c).exprId)).toArray
    require(!ordinals.contains(-1), s"pq2json: columns ${columns.mkString(", ")} not all in ${scan.output}")
    val format = LineFormat(StructType(columns.map(c => StructField(c, attrs(c).dataType))),
      ordinals, opts, csvMissing)
    val sc = df.sparkSession.sparkContext
    def footerOf(f: PartitionedFile): Option[ParquetMetadata.Footer] = {
      val uri = f.toPath.toUri
      if (uri.getScheme == null || uri.getScheme == "file") footers.get(uri.getPath) else None
    }
    SQLExecution.withNewExecutionId(qe, Some("pq2json")) {
      val rows = RowRangeScan.prepare(scan, footerOf)
      val n = rows.getNumPartitions
      val codec = new LZ4CompressionCodec(sc.getConf)
      val encode = (part: Iterator[InternalRow]) => encodeBlock(part, format)
      val inFlight = new java.util.ArrayDeque[SimpleFutureAction[Array[Byte]]]()
      var next = 0
      def submitNext(): Unit = if (next < n) {
        var result: Array[Byte] = null
        inFlight.add(sc.submitJob(rows, encode, Seq(next),
          (_: Int, b: Array[Byte]) => result = b, result))
        next += 1
      }
      try {
        while (next < math.min(n, sc.defaultParallelism)) submitNext()
        while (!inFlight.isEmpty) {
          val block = Await.result(inFlight.peek(), Duration.Inf)
          inFlight.poll()
          codec.compressedInputStream(new java.io.ByteArrayInputStream(block)).transferTo(out)
          // PrintStream swallows IOExceptions; checkError flushes and reports them
          if (out.checkError()) throw new java.io.IOException("write to output failed")
          submitNext()
        }
      } catch {
        case e: Throwable =>
          inFlight.forEach(_.cancel())
          inFlight.forEach(f => Try(Await.ready(f, Duration.Inf)))
          throw e
      }
    }
  }

  /** The one Parquet scan of a plan that only reads and selects columns. */
  private def scanOf(plan: SparkPlan): FileSourceScanExec = {
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val other = plan.find {
      case _: FileSourceScanExec | _: ColumnarToRowExec | _: WholeStageCodegenExec | _: InputAdapter => false
      case p: ProjectExec => !p.projectList.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute])
      case _ => true
    }
    require(scans.size == 1 && other.isEmpty, s"pq2json: expected one Parquet scan, got\n$plan")
    scans.head
  }

  /** How a row of the scan renders: the fields of `schema` read from scan
    * slots `ordinals`, as a JSON object, or as a CSV record with the
    * `csvMissing` slots left empty. */
  private final case class LineFormat(schema: StructType, ordinals: Array[Int],
      opts: KustoRenderOptions, csvMissing: Option[Array[Boolean]]) {
    def writer(): (InternalRow, Utf8Buf) => Unit = {
      val r = new KustoRowRenderer(schema, opts, csv = csvMissing.isDefined, ordinals = ordinals)
      csvMissing match {
        case Some(missing) => (row, sb) => r.writeCsvLine(row, missing, sb)
        case None => (row, sb) => r.writeJson(row, sb)
      }
    }
  }

  /** Bytes rendered before they are handed to the compressor. */
  private val RenderChunk = 1 << 16

  /** One partition's lines as UTF-8, each ending in `\n` (CSV records end
    * in `\r\n`, the reference's terminator), compressed with Spark's
    * default block codec (LZ4). The partition holds `ColumnarBatch`es from
    * a vectorized scan, else rows; either way each row renders in place.
    * Runs on the executors. */
  private def encodeBlock(part: Iterator[InternalRow], format: LineFormat): Array[Byte] = {
    val write = format.writer()
    val bytes = new java.io.ByteArrayOutputStream()
    val z = new LZ4CompressionCodec(SparkEnv.get.conf).compressedOutputStream(bytes)
    val sb = new Utf8Buf(RenderChunk + 4096)
    def line(row: InternalRow): Unit = {
      write(row, sb)
      sb.append('\n')
      if (sb.length >= RenderChunk) { sb.writeTo(z); sb.reset() }
    }
    part.asInstanceOf[Iterator[AnyRef]].foreach {
      case b: ColumnarBatch =>
        var i = 0
        while (i < b.numRows) { line(b.getRow(i)); i += 1 }
      case row: InternalRow => line(row)
    }
    sb.writeTo(z)
    z.close()
    bytes.toByteArray
  }

  def main(argv: Array[String]): Unit = {
    try {
      val a = parseArgs(argv)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("pq2json")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        // distributed mode writes the directory itself — don't open (and
        // truncate) the output path as a local file here
        val localOut = a.output.filterNot(_ => a.distributed)
        val out = localOut match {
          case Some(f) => new java.io.PrintStream(new java.io.FileOutputStream(f), false, "UTF-8")
          case None => System.out
        }
        run(spark, a, out)
        out.flush()
        if (localOut.isDefined) out.close()
      } finally spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"ERROR: ${e.getMessage}")
        sys.exit(255) // the reference exits -1 (main.rs:163)
    }
  }
}
