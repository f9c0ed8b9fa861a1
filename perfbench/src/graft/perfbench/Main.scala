package graft.perfbench

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Pq2Json
import graft.sources.ParquetMetadata

/** One benchmark run: one workload, one process, Spark `local[nproc]`
  * with graft.Bench's session settings. Sets up (several times, for a
  * steady `setup_s`), then repeats passes of the workload for the given
  * number of seconds, checking every output, and writes a result file
  * that `perfbench/run.py` turns into the final JSON line.
  *
  * Untraced runs report the end-to-end metrics. Traced runs alternate an
  * untraced pass with a traced one (spans around each layer call plus
  * Spark-listener counts) and report the per-layer metrics together with
  * the tracing overhead against the untraced passes.
  */
object Main {
  final case class Cli(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, expected: Path, out: Path, nestedRows: Long, nestedFiles: Int) {
    /** The harness tables: sf0.1 is measured, sf0.001 is the set-up warm-up. */
    def sfDir: String = s"$data/sf0.1"
    def smallDir: String = s"$data/sf0.001"
    def midDir: String = s"$data/sf0.01"
  }

  /** One pass: a whole conversion, or one full query mix. */
  final case class Pass(wallS: Double, ttfbS: Double, attempted: Int, failed: Int,
      digests: Map[String, String], layers: Map[String, Double])

  val SetupReps = 3
  /** A run never starts a pass that would end past this point. */
  val BudgetS = 150.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def parse(argv: Array[String]): Cli = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Cli(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), Paths.get(req("work")), Paths.get(req("expected")),
      Paths.get(req("out")), req("nested-rows").toLong, req("nested-files").toInt)
  }

  def session(cli: Cli, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cli.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cli.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogScopes.quietWindowExec()
    spark
  }

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val preMainS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cli = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val expected = Expected.load(cli.expected)
    val wl: Workload = cli.workload match {
      case "jsonl_nested" => new NestedConversion(cli, expected)
      case "csv_flat" => new FlatConversion(cli, expected)
      case "query_mix" => new QueryMix(cli, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up: session start plus one untimed warm-up conversion of the
    // smallest lineitem. The first one is timed from JVM start; the
    // others restart the session in the same JVM. setup_s is their
    // median. Input generation comes after, outside every set-up.
    var spark = session(cli, cores)
    wl.warmup(spark)
    def sinceStart = preMainS + (System.nanoTime() - mainNs) / 1e9
    val setups = mutable.ArrayBuffer(sinceStart)
    for (_ <- 2 to SetupReps) {
      spark.stop()
      graft.operators.StageMemo.reset()
      val t0 = System.nanoTime()
      spark = session(cli, cores)
      wl.warmup(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val phases = mutable.LinkedHashMap("setup" -> sinceStart)
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      phases(name) = (System.nanoTime() - t0) / 1e9
      a
    }
    val input = phase("prepare")(wl.prepare(spark))
    val calS = phase("cal")(Host.calSeconds(spark, cores))
    val refS = phase("ref")(Host.refSeconds())
    val load1Start = Host.load1()

    val tracer = if (cli.trace) Some(new Tracer(spark)) else None
    phase("jit_warmup")(wl.jitWarmup(spark))
    // A traced run compares warm traced passes with warm untraced ones,
    // so it first runs one whole pass (checked, not timed).
    val warm = if (cli.trace) Seq(phase("warm_pass")(wl.pass(spark))) else Nil
    val untraced = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    val (_, _, lastStage) = org.apache.spark.PerfbenchBus.stageTotals(spark.sparkContext, -1)
    val measureNs = System.nanoTime()
    def elapsed = (System.nanoTime() - measureNs) / 1e9
    var lastIter = 0.0
    var passId = 0
    while (untraced.isEmpty || (elapsed < cli.seconds && sinceStart + lastIter < BudgetS)) {
      val i0 = System.nanoTime()
      untraced += wl.pass(spark)
      tracer.foreach { t =>
        passId += 1
        t.attach()
        try traced += wl.tracedPass(spark, t, passId)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] traced pass failed: $e")
          traced += Pass(Double.NaN, Double.NaN, 1, 1, Map.empty, Map.empty)
        } finally t.detach()
      }
      lastIter = (System.nanoTime() - i0) / 1e9
    }
    phases("measure") = elapsed
    val (cpuMs, runMs, _) = org.apache.spark.PerfbenchBus.stageTotals(spark.sparkContext, lastStage)
    val cpuOverRun = if (runMs > 0) cpuMs.toDouble / runMs else 0.0
    val all = (warm ++ untraced ++ traced).toSeq
    // an output that differs from the other passes' fails too
    val crossFailed = all.flatMap(_.digests).groupBy(_._1).values.map { ds =>
      val common = ds.groupBy(_._2).maxBy(_._2.size)._1
      ds.count(_._2 != common)
    }.sum
    val attempted = all.map(_.attempted).sum
    val failed = math.min(attempted, all.map(_.failed).sum + crossFailed)

    val passS = median(untraced.map(_.wallS).toSeq)
    val ttfbS = median(untraced.map(_.ttfbS).toSeq)
    // Pass times are reported in units of ref_s: the host's speed drifts by
    // tens of percent over minutes (co-tenant load), far more than passes
    // spread within a run, and the reference loop timed in the same run
    // moves with it. The seconds themselves are in the record.
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setups.toSeq), "s"),
      ("pass_ref", passS / refS, "ref"),
      ("rows_per_ref", wl.inputRows / (passS / refS), "rows/ref"),
      ("ttfb_ref", ttfbS / refS, "ref"))
    val seconds = Map("pass_s" -> passS, "rows_per_s" -> wl.inputRows / passS, "ttfb_s" -> ttfbS)
    val layers: Seq[(String, Double, String)] = tracer.toSeq.flatMap { _ =>
      val per = Workload.LayerNames.map { case (n, unit) =>
        (n, median(traced.map(_.layers.getOrElse(n, 0.0)).toSeq), unit)
      }
      val tracedWall = median(traced.map(_.wallS).toSeq)
      per ++ Seq(
        ("executor.cpu_over_run", cpuOverRun, "ratio"),
        ("cal_s", calS, "s"),
        ("ref_s", refS, "s"),
        ("trace.overhead_pct", 100.0 * (tracedWall / passS - 1.0), "%"))
    }
    val metrics = (if (cli.trace) layers else e2e).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }.toMap

    val record = Map(
      "workload" -> cli.workload, "seed" -> cli.seed, "seconds" -> cli.seconds, "trace" -> cli.trace,
      "input" -> input,
      "host" -> Map("nproc" -> cores, "max_heap_mb" -> Host.maxHeapMb, "gc" -> Host.collectors,
        "cal_s" -> calS, "ref_s" -> refS, "executor.cpu_over_run" -> cpuOverRun, "load1_start" -> load1Start, "load1_end" -> Host.load1(),
        "java" -> System.getProperty("java.version"), "spark" -> spark.version),
      "setup_s_each" -> setups.toSeq,
      "phase_s" -> phases.toMap,
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "end_to_end_seconds" -> seconds,
      "layers" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "passes" -> untraced.toSeq.map(passJson),
      "traced_passes" -> traced.toSeq.map(passJson))
    tracer.foreach { t =>
      val dir = cli.work.resolve("traces")
      Files.createDirectories(dir)
      Json.write(dir.resolve(s"${cli.workload}-s${cli.seed}-${System.currentTimeMillis()}.json"),
        Map("record" -> record, "spans" -> t.toJson))
    }
    Json.write(cli.out, Map("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "record" -> record))
    spark.stop()
  }

  private def passJson(p: Pass): Map[String, Any] = Map("wall_s" -> p.wallS, "ttfb_s" -> p.ttfbS,
    "attempted" -> p.attempted, "failed" -> p.failed, "digests" -> p.digests, "layers" -> p.layers)
}

/** A benchmark workload: input preparation, warm-up, one checked pass,
  * and one traced pass. */
trait Workload {
  def inputRows: Long
  /** Makes or locates the input; returns its description for the record. */
  def prepare(spark: SparkSession): Map[String, Any]
  /** The set-up warm-up: one conversion of the smallest lineitem. */
  def warmup(spark: SparkSession): Unit
  /** Untimed run of the measured code paths on a slice of the input, so
    * that the first measured pass does not carry JIT compilation. */
  def jitWarmup(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession): Main.Pass
  def tracedPass(spark: SparkSession, t: Tracer, passId: Int): Main.Pass
}

object Workload {
  val ConversionLayers: Seq[(String, String)] = Seq(
    "ParquetMetadata.calls" -> "count", "ParquetMetadata.s" -> "s",
    "scan.s" -> "s", "scan.tasks" -> "count", "scan.cpu_ms" -> "ms",
    "KustoRender.s" -> "s", "KustoRender.ns_per_row" -> "ns", "KustoRender.cpu_ms" -> "ms",
    "KustoRender.gc_ms" -> "ms",
    "Pq2Json.stream_s" -> "s", "Pq2Json.jobs" -> "count", "Pq2Json.partitions" -> "count",
    "Pq2Json.out_bytes" -> "B")
  val QueryLayers: Seq[(String, String)] = QueryMix.Queries.map(q => s"$q.s" -> "s") ++ Seq(
    "operators.jobs" -> "count", "operators.tasks" -> "count",
    "operators.shuffle_read_b" -> "B", "operators.shuffle_write_b" -> "B",
    "operators.spill_b" -> "B", "operators.gc_ms" -> "ms", "operators.fetch_wait_ms" -> "ms",
    "StageMemo.builds" -> "count", "StageMemo.build_s" -> "s")
  /** Per-layer metrics every traced run reports; those of a layer the
    * workload does not use read 0. */
  val LayerNames: Seq[(String, String)] = ConversionLayers ++ QueryLayers

  /** One conversion whose output is thrown away (the warm-ups). */
  def discardConversion(spark: SparkSession, argv: Seq[String]): Unit =
    Pq2Json.run(spark, Pq2Json.parseArgs(argv.toArray), new PrintStream(new DigestSink, false, "UTF-8"))
}

/** A whole-table conversion through `Pq2Json.run` into a [[DigestSink]]. */
abstract class Conversion(cli: Main.Cli, flags: Seq[String]) extends Workload {
  def input: String
  def expectedDigest: Option[String]
  /** A smaller input on the same code path as [[input]]. */
  def slice: String

  private lazy val args = Pq2Json.parseArgs((flags :+ input).toArray)

  def warmup(spark: SparkSession): Unit =
    Workload.discardConversion(spark, flags :+ s"${cli.smallDir}/lineitem.parquet")
  override def jitWarmup(spark: SparkSession): Unit = Workload.discardConversion(spark, flags :+ slice)

  /** The run itself: (wall s, ttfb s, sink). */
  private def convert(spark: SparkSession): (Double, Double, DigestSink) = {
    val sink = new DigestSink
    val out = new PrintStream(sink, false, "UTF-8")
    val t0 = System.nanoTime()
    Pq2Json.run(spark, args, out)
    out.flush()
    val t1 = System.nanoTime()
    ((t1 - t0) / 1e9, (sink.firstByteNs - t0) / 1e9, sink)
  }

  /** 0 when the sink holds one line per input row and, where a digest is
    * recorded for this input, exactly the recorded bytes. */
  private def check(sink: DigestSink): Int = {
    val ok = sink.lines == inputRows && expectedDigest.forall(_ == sink.digest)
    if (!ok) System.err.println(s"[perfbench] output check failed: lines=${sink.lines} " +
      s"rows=$inputRows digest=${sink.digest} expected=${expectedDigest.getOrElse("-")}")
    if (ok) 0 else 1
  }

  def pass(spark: SparkSession): Main.Pass =
    try {
      System.gc()
      val (wall, ttfb, sink) = convert(spark)
      Main.Pass(wall, ttfb, 1, check(sink), Map("output" -> sink.digest), Map.empty)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] conversion failed: $e")
      Main.Pass(Double.NaN, Double.NaN, 1, 1, Map.empty, Map.empty)
    }

  /** The files Pq2Json samples for its footer pre-checks: the first
    * `*.parquet` file (by name) of each directory level. */
  private def sampled(f: java.io.File): Seq[String] =
    if (f.isFile) Seq(f.getPath)
    else {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(k => k.isFile && k.getName.endsWith(".parquet") && !k.getName.startsWith("."))
        .sortBy(_.getName).headOption.map(_.getPath).toSeq ++
        kids.filter(_.isDirectory).sortBy(_.getName).flatMap(sampled)
    }

  def tracedPass(spark: SparkSession, t: Tracer, passId: Int): Main.Pass = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    System.gc()
    val (res, _) = t.span("pass", 0, passId) { id =>
      val ((calls, u64), footer) = t.span("ParquetMetadata", id, passId) { _ =>
        var calls = 0
        val u64 = sampled(new java.io.File(input)).flatMap { p =>
          if (!graft.sources.BrotliNative.usable) { ParquetMetadata.codecs(p); calls += 1 }
          ParquetMetadata.primitivePaths(p)
          calls += 2
          ParquetMetadata.unsignedInt64Paths(p)
        }.toSet
        (calls, u64)
      }
      val (_, scan) = t.span("scan", id, passId) { _ => noop(spark.read.parquet(input)) }
      val opts = args.opts.copy(unsignedPaths = u64)
      val (_, render) = t.span("KustoRender", id, passId) { _ =>
        val df = spark.read.parquet(input)
        noop(if (args.csv) graft.functions.KustoRender.toKustoCsv(df, args.columns, opts)
          else graft.functions.KustoRender.toKustoJson(df, opts))
      }
      val ((wall, ttfb, sink), run) = t.span("Pq2Json.run", id, passId) { _ => convert(spark) }
      (calls, footer, scan, render, run, wall, ttfb, sink)
    }
    val (calls, footer, scan, render, run, wall, ttfb, sink) = res
    val renderSelf = render.seconds - scan.seconds
    val layers = Map(
      "ParquetMetadata.calls" -> calls.toDouble, "ParquetMetadata.s" -> footer.seconds,
      "scan.s" -> scan.seconds, "scan.tasks" -> scan.counts("tasks").toDouble,
      "scan.cpu_ms" -> scan.counts("cpu_ms").toDouble,
      "KustoRender.s" -> renderSelf, "KustoRender.ns_per_row" -> renderSelf * 1e9 / inputRows,
      "KustoRender.cpu_ms" -> (render.counts("cpu_ms") - scan.counts("cpu_ms")).toDouble,
      "KustoRender.gc_ms" -> (render.counts("gc_ms") - scan.counts("gc_ms")).toDouble,
      "Pq2Json.stream_s" -> (run.seconds - render.seconds),
      "Pq2Json.jobs" -> run.counts("jobs").toDouble,
      "Pq2Json.partitions" -> run.counts("tasks").toDouble,
      "Pq2Json.out_bytes" -> sink.bytes.toDouble)
    Main.Pass(wall, ttfb, 1, check(sink), Map("output" -> sink.digest), layers)
  }
}

final class NestedConversion(cli: Main.Cli, expected: Expected) extends Conversion(cli, Seq("--prune")) {
  private var gen: NestedGen.Generated = _
  def input: String = gen.dir.toString
  def inputRows: Long = cli.nestedRows
  def slice: String = gen.dir.resolve("part-00000.parquet").toString
  def expectedDigest: Option[String] =
    expected.nestedDigest(cli.seed, cli.nestedRows, cli.nestedFiles)

  def prepare(spark: SparkSession): Map[String, Any] = {
    gen = NestedGen.ensure(spark, cli.work.resolve("data"), cli.seed, cli.nestedRows, cli.nestedFiles)
    Map("rows" -> gen.rows, "files" -> gen.files, "bytes" -> gen.bytes, "gen_s" -> gen.genSeconds,
      "gen_cached" -> gen.cached, "generator_version" -> NestedGen.Version)
  }
}

final class FlatConversion(cli: Main.Cli, expected: Expected) extends Conversion(cli, Seq("--csv")) {
  def input: String = s"${cli.sfDir}/lineitem.parquet"
  def slice: String = s"${cli.midDir}/lineitem.parquet"
  private var rows = 0L
  def inputRows: Long = rows
  def expectedDigest: Option[String] = expected.csvDigest

  def prepare(spark: SparkSession): Map[String, Any] = {
    rows = ParquetMetadata.rowGroups(input).map(_.numberOfRows.toLong).sum
    Map("path" -> input, "rows" -> rows, "files" -> 1, "bytes" -> Files.size(Paths.get(input)))
  }
}

/** Six `SparkEntry.queries` at sf0.1, each through the hashing sink;
  * every pass starts with an empty `StageMemo`, so stage builds are
  * priced in every pass. */
final class QueryMix(cli: Main.Cli, expected: Expected) extends Workload {
  import QueryMix._
  private var rows = 0L
  def inputRows: Long = rows

  def prepare(spark: SparkSession): Map[String, Any] = {
    val perTable = QueryTables.values.flatten.toSeq.distinct.map { t =>
      t -> ParquetMetadata.rowGroups(s"${cli.sfDir}/$t.parquet").map(_.numberOfRows.toLong).sum
    }.toMap
    rows = Queries.flatMap(QueryTables).map(perTable).sum
    Map("sf_dir" -> cli.sfDir, "queries" -> Queries, "table_rows" -> perTable,
      "rows_read_per_pass" -> rows)
  }

  def warmup(spark: SparkSession): Unit =
    Workload.discardConversion(spark, Seq(s"${cli.smallDir}/lineitem.parquet"))

  /** Empty caches and stage memo, and a collection, before every pass. */
  private def fresh(spark: SparkSession): Unit = {
    System.gc()
    spark.catalog.clearCache()
    graft.operators.StageMemo.reset()
    graft.operators.StageMemo.resetBuildTimes()
  }

  /** (seconds, seconds to first result row, result, failed). */
  private def runQuery(spark: SparkSession, q: String): (Double, Double, Option[RowHash.Result], Int) = {
    val t0 = System.nanoTime()
    try {
      val r = RowHash(graft.SparkEntry.queries(q)(spark, cli.sfDir))
      val t1 = System.nanoTime()
      val want = expected.query(q)
      val bad = want.exists(_ != r.digest)
      if (bad) System.err.println(s"[perfbench] $q check failed: ${r.digest} expected ${want.get}")
      ((t1 - t0) / 1e9, ((if (r.firstRowNs > 0) r.firstRowNs else t1) - t0) / 1e9, Some(r),
        if (bad) 1 else 0)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $q failed: $e")
      ((System.nanoTime() - t0) / 1e9, Double.NaN, None, 1)
    }
  }

  def pass(spark: SparkSession): Main.Pass = {
    fresh(spark)
    val t0 = System.nanoTime()
    val rs = Queries.map(q => q -> runQuery(spark, q))
    val wall = (System.nanoTime() - t0) / 1e9
    Main.Pass(wall, rs.map(_._2._2).sum, Queries.size, rs.map(_._2._4).sum,
      rs.collect { case (q, (_, _, Some(r), _)) => q -> r.digest }.toMap, Map.empty)
  }

  def tracedPass(spark: SparkSession, t: Tracer, passId: Int): Main.Pass = {
    fresh(spark)
    val (rs, root) = t.span("pass", 0, passId) { id =>
      Queries.map(q => q -> t.span(q, id, passId)(_ => runQuery(spark, q)))
    }
    val spans = rs.map(_._2._2)
    def sum(k: String) = spans.map(_.counts(k)).sum.toDouble
    val builds = graft.operators.StageMemo.buildTimes
    val layers = rs.map { case (q, (_, s)) => s"$q.s" -> s.seconds }.toMap ++ Map(
      "operators.jobs" -> sum("jobs"), "operators.tasks" -> sum("tasks"),
      "operators.shuffle_read_b" -> sum("shuffle_read_b"),
      "operators.shuffle_write_b" -> sum("shuffle_write_b"),
      "operators.spill_b" -> sum("spill_b"), "operators.gc_ms" -> sum("gc_ms"),
      "operators.fetch_wait_ms" -> sum("fetch_wait_ms"),
      "StageMemo.builds" -> builds.size.toDouble, "StageMemo.build_s" -> builds.map(_._2).sum)
    Main.Pass(root.seconds, rs.map(_._2._1._2).sum, Queries.size, rs.map(_._2._1._4).sum,
      rs.collect { case (q, ((_, _, Some(r), _), _)) => q -> r.digest }.toMap, layers)
  }
}

object QueryMix {
  val Queries: Seq[String] = Seq("q01_agg_pricing", "q04_join_multiway", "q06_window_rank",
    "q130_dupgraph_pagerank", "q146_knn_graph", "q260_span_rewrite")
  /** The sf0.1 tables each query reads; `rows_per_s` divides their rows. */
  val QueryTables: Map[String, Seq[String]] = Map(
    "q01_agg_pricing" -> Seq("lineitem"),
    "q04_join_multiway" -> Seq("region", "nation", "customer", "orders"),
    "q06_window_rank" -> Seq("orders"),
    "q130_dupgraph_pagerank" -> Seq("documents"),
    "q146_knn_graph" -> Seq("embeddings"),
    "q260_span_rewrite" -> Seq("documents"))
}

/** The recorded outputs in `perfbench/expected.json`. */
final class Expected(root: com.fasterxml.jackson.databind.JsonNode) {
  private def text(path: String*): Option[String] = {
    val n = path.foldLeft(root)((n, k) => if (n == null) null else n.get(k))
    Option(n).filter(_.isTextual).map(_.asText)
  }
  def nestedDigest(seed: Long, rows: Long, files: Int): Option[String] =
    text("jsonl_nested", s"v${NestedGen.Version}-r$rows-f$files", seed.toString)
  def csvDigest: Option[String] = text("csv_flat", "lineitem")
  def query(q: String): Option[String] = text("query_mix", q)
}

object Expected {
  def load(p: Path): Expected =
    new Expected(new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile))
}

object Json {
  def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o => o
  }
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(p.toFile, toJava(v))
  }
}
