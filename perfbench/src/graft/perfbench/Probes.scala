package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output stream a conversion prints into instead of a file: keeps a
  * CRC32C of every byte, the byte and line counts, and when the first
  * byte arrived. The PrintStream over it flushes on every `print`, so the
  * first `write` here is the first byte a pipe consumer would see. */
final class DigestSink extends java.io.OutputStream {
  private val crc = new java.util.zip.CRC32C
  var bytes = 0L
  var lines = 0L
  var firstByteNs = 0L

  override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    if (len > 0) {
      if (firstByteNs == 0L) firstByteNs = System.nanoTime()
      crc.update(b, off, len)
      bytes += len
      var i = off
      val end = off + len
      var n = 0L
      while (i < end) { if (b(i) == '\n') n += 1; i += 1 }
      lines += n
    }

  def digest: String = f"crc32c:${crc.getValue}%08x:$bytes%d"
}

/** Order-insensitive result check for a query: the row count and the
  * wrapping sum of each row's `xxhash64` over all columns. The rows come
  * from `queryExecution.toRdd`, the same physical plan a `noop` write
  * consumes, so hashing replaces the no-op sink rather than adding a
  * second execution. */
object RowHash {
  private val firstRowNs = new AtomicLong(0L)

  /** Called from tasks; in local mode they run in this JVM. */
  def markFirstRow(): Unit = { firstRowNs.compareAndSet(0L, System.nanoTime()); () }

  final case class Result(rows: Long, hash: Long, firstRowNs: Long) {
    def digest: String = f"rows:$rows%d:xx:$hash%016x"
  }

  def apply(df: DataFrame): Result = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
    firstRowNs.set(0L)
    val hashExpr = XxHash64(df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }, 42L)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(Seq(hashExpr))
      var n = 0L
      var s = 0L
      while (it.hasNext) {
        val row = it.next()
        if (n == 0L) RowHash.markFirstRow()
        s += proj(row).getLong(0)
        n += 1
      }
      Iterator.single((n, s))
    }.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, firstRowNs.get)
  }
}

/** Task and job counters summed by a Spark listener; [[snap]] drains the
  * listener bus first so a span's counts are complete at its end. */
final class Counters extends org.apache.spark.scheduler.SparkListener {
  val names: Seq[String] = Seq("jobs", "tasks", "cpu_ms", "run_ms", "gc_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "fetch_wait_ms")
  private val c = names.map(_ => new AtomicLong(0L)).toArray

  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    c(0).incrementAndGet(); ()
  }

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      c(1).incrementAndGet()
      c(2).addAndGet(m.executorCpuTime / 1000000L)
      c(3).addAndGet(m.executorRunTime)
      c(4).addAndGet(m.jvmGCTime)
      c(5).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(7).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(8).addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  def snap(sc: org.apache.spark.SparkContext): Map[String, Long] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    names.zip(c.map(_.get)).toMap
  }
}

/** In-memory spans recorded around the benchmark's calls into each layer:
  * name, start, end, parent, pass id, and the listener counts that
  * accrued inside. Written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startNs: Long, endNs: Long, counts: Map[String, Long]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def attach(): Unit = spark.sparkContext.addSparkListener(counters)
  def detach(): Unit = spark.sparkContext.removeSparkListener(counters)

  def span[A](name: String, parent: Int, pass: Int)(body: Int => A): (A, Span) = {
    nextId += 1
    val id = nextId
    val c0 = counters.snap(spark.sparkContext)
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    val c1 = counters.snap(spark.sparkContext)
    val s = Span(id, name, parent, pass, t0, t1, c1.map { case (k, v) => k -> (v - c0(k)) })
    spans += s
    (out, s)
  }

  /** Duration minus the time its (sequential) child spans cover. */
  def selfNs(s: Span): Long =
    (s.endNs - s.startNs) - spans.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum

  def toJson: Seq[Map[String, Any]] =
    spans.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s)) ++ s.counts
    }
}

/** Host facts recorded with every run, and the calibration fold. */
object Host {
  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def maxHeapMb: Long = Runtime.getRuntime.maxMemory / (1024L * 1024L)

  def collectors: String =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(",")

  /** graft.Bench's `cal`: a data-independent pure-CPU hash fold through
    * the noop sink, min of three. The hashes are masked to 32 bits before
    * the sum: the unmasked sum overflows, which ANSI mode turns into an
    * error. Mostly job scheduling at this size, so it spreads by ~15%
    * between runs; [[refSeconds]] is the steadier yardstick. */
  def calSeconds(spark: SparkSession, cores: Int): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, cores)
        .selectExpr("xxhash64(id, id + 1) & 4294967295 AS h").agg(Map("h" -> "sum"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  @volatile private var refSink = 0L

  /** Seconds one core takes for a fixed 200M-step xorshift loop, median
    * of five: no allocation, no Spark, nothing the program can change, so
    * it moves only with the host's speed (it spreads by <1% on a quiet
    * host). */
  def refSeconds(): Double = Main.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    refSink = x
    (System.nanoTime() - t0) / 1e9
  })
}
