package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.functions.KustoRender
import org.apache.spark.scheduler.{SchedulerProbe, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI shim tests: flag parsing (main.rs:10-124 surface) and the
  * three entry points over real harness parquet. */
class Pq2JsonSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _
  val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pq2json-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def capture(args: Array[String]): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(bos, true, "UTF-8")
    Pq2Json.run(spark, Pq2Json.parseArgs(args), ps)
    bos.toString("UTF-8")
  }

  test("arg parsing: prune implies all three omissions; -t sets mode") {
    val a = Pq2Json.parseArgs(Array("-p", "-t", "ticks", "in.parquet"))
    assert(a.opts.omitNulls && a.opts.omitEmptyBags && a.opts.omitEmptyLists)
    assert(a.opts.timestampMode == graft.functions.TimestampMode.Ticks)
    assert(a.input == "in.parquet")
    assertThrows[IllegalArgumentException](Pq2Json.parseArgs(Array("--bogus", "x")))
    assertThrows[IllegalArgumentException](
      Pq2Json.parseArgs(Array("-c", "not-json", "x")))
  }

  for (flag <- Seq("-t", "-c", "-o"))
    test(s"arg parsing: $flag given last is a missing value, not an index error") {
      val e = intercept[IllegalArgumentException](
        Pq2Json.parseArgs(Array("in.parquet", flag)))
      assert(e.getMessage == s"missing value for $flag")
    }

  test("column names are exact: a dot and a backtick convert under JSON, --csv and -c") {
    val s = spark
    import s.implicits._
    val in = fileDir("exact-names", Seq(Seq((1, "x")).toDF("a.b", "c`d"))).toString
    assert(capture(Array(in)) == "{\"a.b\":1,\"c`d\":\"x\"}\n")
    assert(capture(Array("--csv", in)) == "1,x\r\n")
    assert(capture(Array("-c", """["a.b"]""", in)) == "{\"a.b\":1}\n")
    assert(capture(Array("-c", """["c`d"]""", in)) == "{\"c`d\":\"x\"}\n")
    assert(capture(Array("--csv", "-c", """["c`d","a.b"]""", in)) == "x,1\r\n")
  }

  test("-d/--distributed: -o becomes a parallel-written part-file directory") {
    val outDir = java.nio.file.Files.createTempDirectory("dist-out").toString + "/out"
    capture(Array("-d", "-o", outDir, s"$dir/nation.parquet"))
    val partLines = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .sorted.toSeq
    val stdout = capture(Array(s"$dir/nation.parquet"))
      .split("\n").toSeq.filter(_.nonEmpty).sorted
    assert(partLines.length == 25)
    assert(partLines == stdout) // same lines, distributed layout
    assertThrows[IllegalArgumentException](
      Pq2Json.parseArgs(Array("-d", "in.parquet"))) // -d without -o
  }

  test("-t modes flow through the CLI end-to-end (incl. pre-epoch unixms reinterpret)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val fixture = java.nio.file.Files.createTempDirectory("ts-modes").toString
    spark.createDataFrame(
      java.util.List.of(
        Row(1L, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.678Z"))),
        Row(2L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(-1L)))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("t", TimestampType))))
      .coalesce(1).write.mode("overwrite").parquet(fixture)
    val iso = capture(Array(fixture)).split("\n")
    assert(iso(0) == """{"id":1,"t":"2024-01-02T03:04:05.678000Z"}""")
    assert(iso(1) == """{"id":2,"t":null}""") // pre-epoch -> chrono-range null
    val ticks = capture(Array("-t", "ticks", fixture)).split("\n")
    val ms = java.time.Instant.parse("2024-01-02T03:04:05.678Z").toEpochMilli
    assert(ticks(0) == s"""{"id":1,"t":${ms * 10000 + 621355968000000000L}}""")
    assert(ticks(1) == """{"id":2,"t":null}""") // u64 overflow -> null
    val unixms = capture(Array("-t", "unixms", fixture)).split("\n")
    assert(unixms(0) == s"""{"id":1,"t":$ms}""")
    // raw micros (-1s) reinterpreted u64 then /1000 (converter.rs:330)
    assert(unixms(1) == """{"id":2,"t":18446744073708551}""")
  }

  test("brotli input: real conversion when the native decoder loads; named ERROR degrade stays pinned") {
    // committed fixture (pyarrow, compression='brotli'): reference reads
    // brotli (Cargo.toml:9). Since r15 we do too when the host carries
    // libbrotlidec (BrotliNative); the decoder-less degrade is pinned
    // through the disable hook so it stays tested on capable hosts.
    val brotli = getClass.getResource("/fixtures/brotli.parquet").getPath
    System.setProperty("graft.brotli.disable", "true")
    try {
      val e = intercept[IllegalArgumentException](capture(Array(brotli)))
      assert(e.getMessage.contains("BROTLI"))
    } finally System.clearProperty("graft.brotli.disable")
    // metadata entry points never touch data pages -> unaffected either way
    val csl = graft.sources.ParquetMetadata.cslSchema(brotli)
    assert(csl.map(c => c.name -> c.cslType) == Seq("a" -> "long", "s" -> "string"))
    assert(graft.sources.ParquetMetadata.rowGroups(brotli).head.numberOfRows == "3")
    assert(graft.sources.ParquetMetadata.codecs(brotli) == Set("BROTLI"))
    // capable-host path: decode is REAL, not a skip — this machine's
    // gate runs it (cancels only on hosts with no lib and no compiler)
    assume(graft.sources.BrotliNative.usable,
      graft.sources.BrotliNative.unavailableReason)
    val out = capture(Array(brotli)).split("\n").toSeq.filter(_.nonEmpty)
    assert(out == Seq("""{"a":1,"s":"x"}""", """{"a":2,"s":"y"}""",
      """{"a":3,"s":"z"}"""))
  }

  test("--rowgroups reports one entry per row group on a multi-group file") {
    // the harness tables are single-row-group; force several tiny groups
    // so the per-group iteration (schema.rs:118-143) is actually exercised
    val dir = java.nio.file.Files.createTempDirectory("multirg").toString
    Tables(spark, "/root/testdata/sf0.001", "orders")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "16384") // bytes -> many small groups
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val groups = graft.sources.ParquetMetadata.rowGroups(file)
    assert(groups.length > 1, s"expected multiple row groups, got ${groups.length}")
    assert(groups.map(_.numberOfRows.toLong).sum == 1500L) // all orders rows
    assert(groups.forall(_.totalByteSize.toLong > 0))
  }

  test("brotli pre-check reaches files inside partition subdirectories") {
    val brotli = getClass.getResource("/fixtures/brotli.parquet").getPath
    val root = java.nio.file.Files.createTempDirectory("brotli-part")
    val sub = root.resolve("p=1")
    java.nio.file.Files.createDirectory(sub)
    java.nio.file.Files.copy(java.nio.file.Paths.get(brotli),
      sub.resolve("part-00000.parquet"))
    // marker files must not trip the footer sampling
    java.nio.file.Files.write(root.resolve("_SUCCESS"), Array.empty[Byte])
    System.setProperty("graft.brotli.disable", "true")
    try {
      val e = intercept[IllegalArgumentException](capture(Array(root.toString)))
      assert(e.getMessage.contains("BROTLI"))
    } finally System.clearProperty("graft.brotli.disable")
  }

  test("--columns is a real JSON parse: commas and escapes inside names survive") {
    assert(Pq2Json.parseJsonStringArray("""["a,b","c\"d","A"]""")
      == Seq("a,b", "c\"d", "A"))
    assert(Pq2Json.parseJsonStringArray("[]") == Seq.empty)
    assertThrows[IllegalArgumentException](Pq2Json.parseJsonStringArray("[1,2]"))
    assertThrows[IllegalArgumentException](Pq2Json.parseJsonStringArray("""{"a":1}"""))
  }

  test("JSONL conversion: one sorted-key object per row") {
    val out = capture(Array(s"$dir/region.parquet")).split("\n")
    assert(out.length == 5)
    assert(out(0).startsWith("{\"r_name\":"))
    assert(out.forall(l => l.startsWith("{") && l.endsWith("}")))
  }

  test("CSV conversion with projection and missing column") {
    val out = capture(Array("--csv", "-c", """["r_regionkey","nope","r_name"]""",
      s"$dir/region.parquet")).split("\n")
    assert(out.length == 5)
    // missing col renders as an empty slot in requested position; \r ends
    // the record (completed to \r\n by the line writer)
    assert(out(0).matches("\\d+,,[A-Z ]+\r"))
  }

  test("cslschema and rowgroups entry points emit reference-shaped JSON") {
    val csl = capture(Array("--cslschema", s"$dir/lineitem.parquet"))
    assert(csl.trim.startsWith("""[{"name":"l_orderkey","type":"long"}"""))
    val rg = capture(Array("--rowgroups", s"$dir/lineitem.parquet"))
    assert(rg.trim.matches("""\[\{"numberOfRows":"\d+","totalByteSize":"\d+"\}.*"""))
  }

  test("schema entry point dumps the parquet schema") {
    val s = capture(Array("--schema", s"$dir/region.parquet"))
    assert(s.contains("r_regionkey") && s.contains("Parquet metadata"))
  }

  test("u64 footer-disagreement warnings: absent path is NOT a conflict; one line per path names the signed files") {
    // ADVICE r12: the old check treated "file lacks the column path"
    // the same as "path present but signed", and printed one line per
    // (path, file) pair. Pinned here on the pure function.
    def f(name: String, u64: Set[String], all: Set[String]) = (name, u64, all)
    // partial-schema dump: fileB simply lacks 'k' — no conflict
    assert(Pq2Json.u64FooterWarnings(Seq(
      f("a.parquet", Set("k"), Set("k", "x")),
      f("b.parquet", Set(), Set("x")))).isEmpty)
    // real disagreement: ONE aggregated line naming both signed files
    val w = Pq2Json.u64FooterWarnings(Seq(
      f("a.parquet", Set("k"), Set("k")),
      f("b.parquet", Set(), Set("k")),
      f("c.parquet", Set(), Set("k"))))
    assert(w.size == 1, w)
    assert(w.head.contains("'k'") && w.head.contains("b.parquet, c.parquet"), w)
    // two conflicted paths -> two lines, sorted by path, never per-file
    val w2 = Pq2Json.u64FooterWarnings(Seq(
      f("a.parquet", Set("k1", "k2"), Set("k1", "k2")),
      f("b.parquet", Set(), Set("k1", "k2"))))
    assert(w2.size == 2 && w2(0).contains("'k1'") && w2(1).contains("'k2'"), w2)
    // agreement (both unsigned): silent
    assert(Pq2Json.u64FooterWarnings(Seq(
      f("a.parquet", Set("k"), Set("k")),
      f("b.parquet", Set("k"), Set("k")))).isEmpty)
  }

  /** Writes each frame as one parquet file, `part-0000i.parquet`, into a
    * new directory. */
  private def fileDir(prefix: String, dfs: Seq[DataFrame]): Path = {
    val dir = Files.createTempDirectory(prefix)
    dfs.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("one-file").resolve("out")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dir.resolve(f"part-$i%05d.parquet"))
    }
    dir
  }

  /** Ten small files with unequal row counts: every file is its own split,
    * so a conversion runs more splits than the session has cores. */
  private lazy val unevenDir: Path = {
    val counts = Seq(40, 300, 7, 120, 1, 260, 33, 90, 150, 12)
    fileDir("uneven", counts.scanLeft(0)(_ + _).zip(counts).map { case (start, n) =>
      spark.range(start, start + n).selectExpr("id", "concat('é✓-', id) AS s",
        "named_struct('a', id % 7, 'b', array(cast(id AS string), null)) AS st")
    })
  }

  /** `KustoRender.toKustoJson` over the caller's session, collected in
    * order: what the stream must write, line for line. */
  private def collectedJson(path: String): String =
    KustoRender.toKustoJson(spark.read.parquet(path)).collect()
      .map(_.getString(0) + "\n").mkString

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Jobs started, jobs started and not yet ended, and the most of
    * those seen at once. */
  private final class JobWatch extends SparkListener {
    val started = new AtomicInteger(0)
    val active = new AtomicInteger(0)
    val max = new AtomicInteger(0)
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      max.accumulateAndGet(active.incrementAndGet(), math.max); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = { active.decrementAndGet(); () }
  }

  private def watchingJobs[T](body: JobWatch => T): T = {
    val w = new JobWatch
    spark.sparkContext.addSparkListener(w)
    try body(w) finally spark.sparkContext.removeSparkListener(w)
  }

  /** No job is left running by the DAGScheduler, and the listener, once
    * the bus delivers the last job end, counts none active. */
  private def assertNoJobsLeft(w: JobWatch): Unit = {
    val sc = spark.sparkContext
    assert(SchedulerProbe.activeJobs(sc) == 0)
    val deadline = System.currentTimeMillis() + 10000
    SchedulerProbe.drain(sc)
    while (w.active.get() != 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      SchedulerProbe.drain(sc)
    }
    assert(w.active.get() == 0)
  }

  test("stream: a directory with more splits than cores converts in scan order, line for line") {
    val got = watchingJobs { w =>
      val out = capture(Array(unevenDir.toString))
      SchedulerProbe.drain(spark.sparkContext)
      assert(w.started.get() >= 10, "one job per file") // more than the session's 4 cores
      out
    }
    assert(got.count(_ == '\n') == 1013)
    assert(got == collectedJson(unevenDir.toString))
  }

  test("stream: a multi-row-group file whose splits include empty byte ranges converts in file order (JSON and CSV)") {
    val dir = Files.createTempDirectory("multirg-stream").resolve("out").toString
    spark.range(0, 20000).selectExpr("id", "concat('row-', id) AS s").coalesce(1)
      .write.option("parquet.block.size", "16384").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    withConf("spark.sql.files.maxPartitionBytes" -> "4096") {
      val groups = graft.sources.ParquetMetadata.rowGroups(file).length
      val splits = spark.read.parquet(file).rdd.getNumPartitions
      // more splits than row groups: some splits hold no row group's midpoint
      assert(groups > 1 && splits > groups && splits > spark.sparkContext.defaultParallelism,
        s"groups=$groups splits=$splits")
      assert(capture(Array(file)).split("\n").toSeq ==
        (0 until 20000).map(i => s"""{"id":$i,"s":"row-$i"}"""))
      assert(capture(Array("--csv", file)).split("\n").toSeq ==
        (0 until 20000).map(i => s"$i,row-$i\r"))
    }
  }

  /** One file with the most bytes but only 200 rows, so it is the first
    * split and renders at once, then four small files of 200k compressible
    * rows that each render for much longer: when the first split fails,
    * or its block cannot be written, three jobs are still running. */
  private lazy val racingDir: Path = {
    def rows(n: Long, s: String) = spark.range(n).selectExpr("id % 3 AS k", s"$s AS s",
      "named_struct('a', 1, 'b', array(1, 2, 3)) AS st")
    val dir = fileDir("racing", rows(200, "concat_ws('', transform(sequence(1, 16), " +
      "i -> sha2(cast(id * 100 + i AS string), 512)))") +: Seq.fill(4)(rows(200000, "'x'")))
    val sizes = dir.toFile.listFiles().sortBy(_.getName).map(_.length)
    assert(sizes.tail.forall(_ < sizes.head), sizes.toSeq)
    dir
  }

  test("stream: at most defaultParallelism jobs in flight and none left after run, also when a split fails") {
    val parallelism = spark.sparkContext.defaultParallelism
    watchingJobs { w =>
      capture(Array(unevenDir.toString))
      assertNoJobsLeft(w)
      assert(w.max.get() <= parallelism && w.max.get() > 1, s"max active jobs ${w.max.get()}")
    }
    // the first split's file with its data pages overwritten; its footer
    // stays intact, so only its scan task fails (Spark then fails every
    // active job over the same RDD)
    val bad = Files.createTempDirectory("corrupt")
    racingDir.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, bad.resolve(f.getName)))
    val first = bad.resolve("part-00000.parquet")
    val bytes = Files.readAllBytes(first)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0xff.toByte)
    Files.write(first, bytes)
    watchingJobs { w =>
      intercept[org.apache.spark.SparkException](capture(Array(bad.toString)))
      assertNoJobsLeft(w)
      assert(w.max.get() <= parallelism, s"max active jobs ${w.max.get()}")
    }
  }

  test("stream: a failed write is an error and cancels the jobs in flight") {
    /** Accepts `limit` bytes, then fails like a full disk. */
    final class FailingSink(limit: Int) extends java.io.OutputStream {
      private var written = 0
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (written + len > limit) throw new java.io.IOException("No space left on device")
        written += len
      }
    }
    watchingJobs { w =>
      val out = new java.io.PrintStream(new FailingSink(1000), false, "UTF-8")
      val e = intercept[java.io.IOException](
        Pq2Json.run(spark, Pq2Json.parseArgs(Array(racingDir.toString)), out))
      assert(e.getMessage == "write to output failed")
      assertNoJobsLeft(w)
    }
  }

  test("stream: the split setting stays on a session copy that keeps the caller's runtime confs") {
    val key = "spark.sql.files.minPartitionNum"
    capture(Array(unevenDir.toString))
    assert(!spark.conf.getAll.contains(key))
    // unannotated BINARY and no Spark schema in the footer, so the
    // caller's binaryAsString decides how the column reads
    val dir = Files.createTempDirectory("binary").resolve("b.parquet").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary bin; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir)).withType(schema).build()
    val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try (0 until 3).foreach(i => writer.write(rows.newGroup().append("id", i.toLong).append("bin", s"b$i")))
    finally writer.close()
    val plain = capture(Array(dir))
    assert(!plain.contains("\"bin\":\"b0\""), plain)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val asString = capture(Array(dir))
      assert(asString.contains("\"bin\":\"b0\""), asString)
      assert(asString == collectedJson(dir))
    }
    assert(!spark.conf.getAll.contains(key))
  }

  /** One file of 50,000 rows in one row group: 13 reader batches of 4096
    * rows, the last partial, with flat, nested and null values. */
  private lazy val oneGroupFile: String = {
    val dir = Files.createTempDirectory("one-group").resolve("out").toString
    spark.range(50000).selectExpr("id",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s-', id) END AS s",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id / 8.0 END AS d",
      "named_struct('a', id % 7, 'b', array(cast(id AS string), NULL)) AS st",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE map('k', id) END AS m")
      .coalesce(1).write.parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    assert(graft.sources.ParquetMetadata.rowGroups(file).length == 1)
    file
  }

  test("stream: one row group converts as row ranges on several jobs, line for line (JSON, CSV, -c)") {
    val file = oneGroupFile
    val df = spark.read.parquet(file)
    def lines(rendered: DataFrame, end: String) =
      rendered.collect().map(_.getString(0) + end).mkString
    val cols = Seq("st", "nope", "id", "m")
    val cases = Seq(
      Array(file) -> lines(KustoRender.toKustoJson(df), "\n"),
      Array("--csv", file) -> lines(KustoRender.toKustoCsv(df), "\n"),
      Array("-c", """["st","nope","id","m"]""", file) ->
        lines(KustoRender.toKustoJson(df.select("st", "id", "m")), "\n"),
      Array("--csv", "-c", """["st","nope","id","m"]""", file) ->
        lines(KustoRender.toKustoCsv(df, Some(cols)), "\n"))
    // the columnar scan skips whole batches; the row scan drops rows
    for (vectorized <- Seq("true", "false"); (args, expected) <- cases)
      withConf("spark.sql.parquet.enableVectorizedReader" -> vectorized) {
        val got = watchingJobs { w =>
          val out = capture(args)
          SchedulerProbe.drain(spark.sparkContext)
          // one job per range: more than one range
          assert(w.started.get() > 2, s"${args.mkString(" ")}: ${w.started.get()} jobs")
          out
        }
        assert(got.count(_ == '\n') == 50000)
        assert(got == expected, s"vectorized=$vectorized ${args.mkString(" ")}")
      }
  }

  /** One file of 40,000 rows in 5 or more small row groups. */
  private lazy val manyGroupFile: String = {
    val dir = Files.createTempDirectory("owned").resolve("out").toString
    spark.range(0, 40000).selectExpr("id", "concat('row-', id) AS s").coalesce(1)
      .write.option("parquet.block.size", "32768").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    assert(graft.sources.ParquetMetadata.rowGroups(file).length >= 5)
    file
  }

  test("row ranges: each split owns the row groups parquet-mr's range filter gives it") {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    import scala.jdk.CollectionConverters._
    val file = manyGroupFile
    val footer = graft.sources.ParquetMetadata.footer(file)
    val conf = spark.sparkContext.hadoopConfiguration
    for (maxBytes <- Seq("4096", "20000", "65536", "1000000")) withConf(
        "spark.sql.files.maxPartitionBytes" -> maxBytes,
        "spark.sql.files.openCostInBytes" -> "0") {
      val splits = spark.read.parquet(file).queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }.get
        .inputRDD.asInstanceOf[FileScanRDD].filePartitions.flatMap(_.files)
      val owned = splits.map { f =>
        val ours = graft.sources.RowRangeScan.ownedGroups(footer.blocks, f.start, f.length)
          .map(footer.blocks(_).getStartingPos)
        val theirs = org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
          new org.apache.hadoop.fs.Path(file),
          ParquetMetadataConverter.range(f.start, f.start + f.length))
          .getBlocks.asScala.map(_.getStartingPos).toSeq
        assert(ours == theirs, s"maxPartitionBytes=$maxBytes split ${f.start}+${f.length}")
        ours
      }
      // every row group is read by exactly one split
      assert(owned.flatten.sorted == footer.blocks.map(_.getStartingPos).sorted, maxBytes)
    }
  }

  test("row ranges: cuts are batch-aligned, cover the group, and only give every core work") {
    import graft.sources.RowRangeScan.cut
    def check(rows: Long, batch: Int, pieces: Int) = {
      val c = cut(rows, batch, pieces)
      assert(c.head._1 == 0 && c.last._2 == rows)
      assert(c.zip(c.tail).forall { case (a, b) => a._2 == b._1 && a._1 < a._2 })
      assert(c.init.forall(r => r._2 % batch == 0))
      c
    }
    assert(check(600000, 4096, 4).length == 4)
    assert(check(10, 4096, 4) == Seq((0L, 10L))) // one batch: nothing to cut
    // 13 batches: ranges of at least MinRangeBatches, however many cores
    assert(check(50000, 4096, 4).length == 3)
    assert(check(50000, 4096, 40).length == 3)
    assert(check(6000, 4096, 4).length == 1)
    // a large group is cut for the cores only
    assert(check(50000000, 4096, 4).length == 4)
    assert(check(3000000000L, 4096, 1).length == 1)
    assert(cut(0, 4096, 4).isEmpty)
  }

  test("row ranges: the planner reads each footer once and cuts only the groups that give cores work") {
    import graft.sources.{ParquetMetadata, RowRange, RowRangeScan}
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    def pf(file: String, start: Long, length: Long) = PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(file), start, length)
    val reads = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def footer(f: PartitionedFile) = {
      reads(f.toPath.toString) += 1
      Some(ParquetMetadata.footer(f.toPath.toString))
    }
    def plan(splits: Seq[Seq[PartitionedFile]], parallelism: Int) = {
      reads.clear()
      RowRangeScan.plan(splits.zipWithIndex.map { case (fs, i) => FilePartition(i, fs.toArray) },
        parallelism, batchSize = 4096, footer)
    }
    def show(rs: Seq[RowRange]) = rs.map(r => (r.files.toSeq.map(f => (f.start, f.length)), r.lo, r.hi))
    val one = oneGroupFile
    val many = manyGroupFile
    val g = ParquetMetadata.footer(one).blocks.head
    val len = new java.io.File(one).length
    // the one-group file in three byte splits, then the many-group file whole
    val thirds = Seq(0L, len / 3, 2 * len / 3, len).sliding(2).map { case Seq(a, b) => pf(one, a, b - a) }.toSeq
    val manyWhole = pf(many, 0, new java.io.File(many).length)
    // four cores per group: only the 13-batch group has enough batches to
    // cut; the split owning it becomes its 3 ranges, each reading only the
    // group, the two splits that own no row group are dropped, and the
    // other file's split stays as planned
    val groups = 1 + ParquetMetadata.footer(many).blocks.length
    val ranges = plan(thirds.map(Seq(_)) :+ Seq(manyWhole), parallelism = 4 * groups).get
    assert(reads.toMap == Map(one -> 1, many -> 1), reads)
    assert(thirds.count(f => RowRangeScan.ownedGroups(Seq(g), f.start, f.length).nonEmpty) == 1)
    val narrowed = Seq((g.getStartingPos, g.getCompressedSize))
    val groupRanges = Seq((narrowed, 0L, 16384L), (narrowed, 16384L, 32768L), (narrowed, 32768L, 50000L))
    assert(show(ranges) == groupRanges :+ ((Seq((0L, manyWhole.length)), 0L, Long.MaxValue)))
    // the one-group file alone in three splits plans exactly its ranges
    assert(show(plan(thirds.map(Seq(_)), parallelism = 4).get) == groupRanges)
    assert(reads.toMap == Map(one -> 1), reads)
    // a file in four splits on four cores: its small groups stay whole, so
    // the scan runs as planned, after one footer read
    val quarters = Seq(0L, 1, 2, 3, 4).map(_ * manyWhole.length / 4).sliding(2)
      .map { case Seq(a, b) => Seq(pf(many, a, b - a)) }.toSeq
    assert(plan(quarters, parallelism = 4).isEmpty)
    assert(reads.toMap == Map(many -> 1), reads)
    // a scan with enough splits for every core and no file cut is left as
    // planned, and reads no footer
    assert(plan(Seq(Seq(pf(one, 0, len))), parallelism = 1).isEmpty)
    assert(reads.isEmpty, reads)
  }

  test("row ranges: slicing keeps exactly rows [lo, hi) from a batch edge, including the last partial batch") {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val sizes = Seq(4, 4, 4, 2) // rows 0..13, the last batch partial
    val st = StructType(Seq(StructField("x", LongType)))
    /** Batches of ids and structs {x: -id}, every fifth id null; counts pulls. */
    def batches(pulled: java.util.concurrent.atomic.AtomicInteger) =
      sizes.scanLeft(0)(_ + _).zip(sizes).iterator.map { case (start, n) =>
        pulled.incrementAndGet()
        val id = new OnHeapColumnVector(n, IntegerType)
        val s = new OnHeapColumnVector(n, st)
        (0 until n).foreach { i =>
          val v = start + i
          if (v % 5 == 0) { id.putNull(i); s.putNull(i); s.getChild(0).putNull(i) }
          else { id.putInt(i, v); s.getChild(0).putLong(i, -v.toLong) }
        }
        new ColumnarBatch(Array(id, s), n)
      }
    def expected(lo: Int, hi: Int) = (lo until hi).map(v =>
      if (v % 5 == 0) (None, None) else (Some(v), Some(-v.toLong)))
    val edges = sizes.scanLeft(0)(_ + _) // 0, 4, 8, 12, 14
    def slice(lo: Int, hi: Int, pulled: java.util.concurrent.atomic.AtomicInteger) =
      graft.sources.RowRangeScan.sliceBatches(batches(pulled), lo, hi).flatMap { b =>
        (0 until b.numRows).map { i =>
          val r = b.getRow(i)
          (if (r.isNullAt(0)) None else Some(r.getInt(0)),
            if (r.isNullAt(1)) None else Some(r.getStruct(1, 1).getLong(0)))
        }
      }.toSeq
    for (lo <- 0 to 14; hi <- lo to 15) {
      // the columnar slice starts on a batch edge, as the planner's ranges do
      if (edges.contains(lo)) {
        val pulled = new java.util.concurrent.atomic.AtomicInteger()
        assert(slice(lo, hi, pulled) == expected(lo, math.min(hi, 14)), s"lo=$lo hi=$hi")
        // no batch past the one holding row hi - 1 is pulled
        val need = if (hi == lo) 0 else edges.indexWhere(_ >= math.min(hi, 14))
        assert(hi == lo || pulled.get() == need, s"lo=$lo hi=$hi pulled=${pulled.get()}")
      } else if (hi > lo && lo < 14) intercept[IllegalArgumentException] {
        slice(lo, hi, new java.util.concurrent.atomic.AtomicInteger())
      }
      val rows = graft.sources.RowRangeScan.sliceRows(
        (0 until 14).iterator.map(v => org.apache.spark.sql.catalyst.InternalRow(v)), lo, hi)
      assert(rows.map(_.getInt(0)).toSeq == (lo until math.min(hi, 14)), s"rows lo=$lo hi=$hi")
    }
  }

  /** 3,000 rows written with parquet-mr's example writer (a plain footer,
    * no Spark schema): strings with non-ASCII BMP, supplementary-plane and
    * control characters and the CSV specials `"`, `,` and `\r`; a map
    * whose keys repeat; an unsigned 64-bit column, values above
    * `Long.MaxValue` included; timestamps before and after the epoch;
    * about a quarter of each optional value null. */
  private lazy val textFile: String = {
    val path = Files.createTempDirectory("text").resolve("t.parquet").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional binary s (STRING);
        |  optional group m (MAP) {
        |    repeated group key_value { required binary key (STRING); optional int32 value; }
        |  }
        |  optional int64 u (INTEGER(64,false));
        |  optional int64 t (TIMESTAMP(MICROS,true));
        |}""".stripMargin)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val pieces = Seq("a", "é", "✓", "\uE000", new String(Character.toChars(0x1F600)), "\u0001", "\t",
      "\n", "\u001f", "\"", ",", "\r", "\\", " ", "x\r\ny")
    val rnd = new java.util.Random(12)
    try (0 until 3000).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong)
      if (rnd.nextInt(4) > 0) g.append("s", Seq.fill(rnd.nextInt(5))(pieces(rnd.nextInt(pieces.length))).mkString)
      if (rnd.nextInt(4) > 0) {
        val m = g.addGroup("m")
        (0 until rnd.nextInt(4)).foreach { _ =>
          val kv = m.addGroup("key_value").append("key", Seq("k", "é", "\"q", "k")(rnd.nextInt(4)))
          if (rnd.nextBoolean()) kv.append("value", rnd.nextInt(10))
        }
      }
      if (rnd.nextInt(4) > 0) g.append("u", if (rnd.nextBoolean()) rnd.nextLong() else i.toLong)
      if (rnd.nextInt(4) > 0) g.append("t", rnd.nextLong() % 4000000000000000L)
      writer.write(g)
    } finally writer.close()
    path
  }

  test("stream: bytes equal collected toKustoJson/toKustoCsv on batch and row scans (text, repeated keys, u64, -t, -c)") {
    val file = textFile
    val cases = Seq(Seq.empty[String], Seq("--omit-nulls"), Seq("-p"), Seq("-t", "ticks"),
      Seq("-t", "unixms"), Seq("-c", """["u","s","nope","u"]"""), Seq("--csv"), Seq("--csv", "-p"),
      Seq("--csv", "-c", """["s","nope","m","id"]"""), Seq("--csv", "-c", """["nope"]"""))
    val u64 = graft.sources.ParquetMetadata.unsignedInt64Paths(graft.sources.ParquetMetadata.footer(file))
    assert(u64 == Set("u"))
    for (vectorized <- Seq("true", "false"))
      withConf("spark.sql.parquet.enableVectorizedReader" -> vectorized) {
        val df = spark.read.parquet(file)
        val scan = df.queryExecution.executedPlan
          .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
        assert(scan.supportsColumnar == vectorized.toBoolean, "the batch and the row iterator both run")
        for (flags <- cases) {
          val a = Pq2Json.parseArgs((flags :+ file).toArray)
          val opts = a.opts.copy(unsignedPaths = u64)
          val rendered =
            if (a.csv) KustoRender.toKustoCsv(df, a.columns, opts)
            else KustoRender.toKustoJson(
              df.select(a.columns.getOrElse(df.columns.toSeq).filter(df.columns.contains).map(KustoRender.exactCol): _*),
              opts)
          val lines = rendered.collect().map(_.getString(0) + "\n")
          assert(lines.length == 3000)
          val expected = lines.mkString
          assert(capture(a.input +: flags.toArray) == expected, s"vectorized=$vectorized ${flags.mkString(" ")}")
        }
      }
  }

  test("input schema: read from the footer already held, equal to Spark's inference; no inference job") {
    import graft.sources.ParquetMetadata
    def footers(path: String) = {
      val f = new java.io.File(path)
      val first = if (f.isFile) f else f.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      Seq(first.getPath -> ParquetMetadata.footer(first.getPath))
    }
    // a plain footer with unannotated BINARY, whose type binaryAsString decides
    val plain = Files.createTempDirectory("plain").resolve("b.parquet").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary bin; optional int96 t96; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(plain)).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("bin", "b"))
    finally writer.close()
    // a flat directory whose files disagree: inference reads the first one
    val s = spark
    import s.implicits._
    val mixed = fileDir("mixed", Seq(Seq((1L, "x")).toDF("a", "b"), Seq((2L, 3.0)).toDF("a", "c"))).toString
    for (path <- Seq(plain, textFile, oneGroupFile, unevenDir.toString, mixed);
         binaryAsString <- Seq("false", "true"))
      withConf("spark.sql.parquet.binaryAsString" -> binaryAsString) {
        val ours = Pq2Json.readInput(spark, path, footers(path))
        assert(ours.schema == spark.read.parquet(path).schema, s"$path binaryAsString=$binaryAsString")
      }
    assert(Pq2Json.readInput(spark, mixed, footers(mixed)).columns.toSeq == Seq("a", "b"))
    // a small file is one split and is not cut: its stream is one job
    val got = watchingJobs { w =>
      val out = capture(Array(s"$dir/nation.parquet"))
      SchedulerProbe.drain(spark.sparkContext)
      assert(w.started.get() == 1, s"${w.started.get()} jobs")
      out
    }
    assert(got == collectedJson(s"$dir/nation.parquet"))
  }
}
