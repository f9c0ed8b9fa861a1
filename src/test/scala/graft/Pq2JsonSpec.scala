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
}
