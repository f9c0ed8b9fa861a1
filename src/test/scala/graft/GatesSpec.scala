package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Gates, Overlap}

/** The join-side size gates, the probe memo, the spread gates and the
  * overlap pool: which strategy each ladder tier plans, and how many
  * Spark jobs each gate costs. */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("gates-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Counts job starts, job ends that did not succeed, and SQL
    * executions while `body` runs. */
  private final class Counts extends SparkListener {
    val jobs = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val unsuccessful = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (je.jobResult != JobSucceeded) { unsuccessful.add(je); () }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => executions.incrementAndGet(); ()
      case _ =>
    }
  }

  private def counting[T](body: Counts => T): T = {
    val c = new Counts
    spark.sparkContext.addSparkListener(c)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }

  /** The async listener bus needs draining before each read: wait for
    * `n` to reach at least `min`, then for two consecutive stable reads. */
  private def settle(n: AtomicInteger, min: Int): Int = {
    val deadline = System.currentTimeMillis() + 20000
    while (n.get() < min && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    var last = -1
    var cur = n.get()
    while (cur != last) { last = cur; Thread.sleep(250); cur = n.get() }
    cur
  }

  // r15 verdict items 1+7: every forced physical strategy on a
  // corpus-growing side rides the size-gated ladder.
  test("batchHint ladder: broadcast under the byte cap, shuffle_hash, then no hint") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = spark.range(100).toDF("doc_id")
      val build = spark.range(10).toDF("doc_id")
      def planOf(b: DataFrame): String =
        probe.join(b, Seq("doc_id"), "left_semi").queryExecution
          .explainString(ExplainMode.fromString("formatted"))
      // tier 1: batch-sized → explicit broadcast (beats the disabled
      // auto threshold — the hint is the decision, not the stats)
      val p1 = planOf(Gates.batchHint(build, 10L))
      assert(p1.contains("BroadcastHashJoin"), p1)
      // tier 2: one row over the narrow broadcast cap (64 MiB / 48 B)
      // but the per-task hash build fits ((cap+1)/4 partitions × 48 B
      // ≈ 16.8 MB ≤ 32 MiB) → shuffle_hash
      val narrowCap = (64L << 20) / Gates.NarrowRowBytes
      assert(narrowCap == 1398101L)
      val p2 = planOf(Gates.batchHint(build, narrowCap + 1))
      assert(p2.contains("ShuffledHashJoin"), p2)
      // tier 3: hash build over budget → NO forced strategy; the
      // un-hinted join plans sort-merge (spills gracefully, AQE can
      // still re-pick) — the exact fallback the ×100 q265 probe
      // proved necessary
      val p3 = planOf(Gates.batchHint(build, 4000000000L))
      assert(p3.contains("SortMergeJoin"), p3)
      assert(!p3.contains("ShuffledHashJoin") && !p3.contains("BroadcastHashJoin"), p3)
      // vector-width rows price the same ladder by bytes: 111,849 ×
      // 600 B is just over 64 MiB, so it must not broadcast
      assert(Gates.broadcastable(111848L, Gates.VecRowBytes))
      val pv = planOf(Gates.batchHint(build, 111849L, Gates.VecRowBytes))
      assert(!pv.contains("BroadcastHashJoin"), pv)
      assert(pv.contains("ShuffledHashJoin"), pv)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("probeCount memoizes: re-probing the same frame runs zero extra Spark jobs") {
    val df = spark.range(5000).toDF("doc_id").localCheckpoint()
    Gates.resetProbeCounts()
    counting { c =>
      val c1 = Gates.probeCount(df)
      assert(c1 == 5000L)
      val after1 = settle(c.jobs, 1)
      assert(after1 >= 1, "the first probe must be a real count job")
      // a re-probe AND a full batchHint of the same frame: memo hits,
      // no new job anywhere in the gated plan's construction
      assert(Gates.probeCount(df) == c1)
      Gates.batchHint(df)
      val after2 = settle(c.jobs, after1)
      assert(after2 == after1, s"re-probe ran ${after2 - after1} extra job(s)")
    }
  }

  test("probeCount: two racing callers on one slow frame share one count") {
    val sess = spark
    import sess.implicits._
    val slow = spark.range(0, 8, 1, 4).map { x => Thread.sleep(300); x }.toDF("v")
    Gates.resetProbeCounts()
    counting { c =>
      val go = new CountDownLatch(1)
      val results = new ConcurrentLinkedQueue[Long]()
      val threads = Seq.fill(2)(new Thread(() => {
        go.await()
        results.add(Gates.probeCount(slow))
        ()
      }))
      threads.foreach(_.start())
      go.countDown()
      threads.foreach(_.join(60000))
      assert(results.toArray.toSeq == Seq(8L, 8L))
      assert(settle(c.executions, 1) == 1,
        "both callers must share ONE count action")
    }
  }

  test("spread gates decide from the plan: zero Spark jobs, even above an exchange") {
    val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
    val one = spark.range(0, 1000, 1, 1).toDF("id")
    val wide = spark.range(0, 1000, 1, 8).toDF("id")
    counting { c =>
      // an exchange below the root already spreads the frame
      assert(Gates.spreadScan(agg) eq agg)
      assert(Gates.spreadScanCheckpoint(agg) eq agg)
      // a scan with enough planned splits passes; a single split spreads
      assert(Gates.spreadScan(wide) eq wide)
      val spread = Gates.spreadScan(one)
      assert(settle(c.jobs, 0) == 0, "a spread gate ran a Spark job")
      assert(spread.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism)
    }
  }

  test("overlap: one failure cancels the sibling's slow job and rethrows promptly") {
    counting { c =>
      val started = new CountDownLatch(1)
      val watcher = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = started.countDown()
      }
      spark.sparkContext.addSparkListener(watcher)
      val t0 = System.nanoTime()
      try {
        val e = intercept[IllegalStateException] {
          Overlap(spark) { ov =>
            val slowJob = ov {
              spark.sparkContext.parallelize(1 to 4, 4)
                .map { i => Thread.sleep(120000); i }.count()
            }
            val boom = ov {
              started.await(30, TimeUnit.SECONDS)
              throw new IllegalStateException("boom")
            }
            // awaiting the slow one first: the sibling's failure must
            // still surface as soon as it happens
            (ov.await(slowJob), ov.await(boom))
          }
        }
        assert(e.getMessage == "boom")
      } finally spark.sparkContext.removeSparkListener(watcher)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 60, s"took $secs s: the helper waited for the slow job")
      val deadline = System.currentTimeMillis() + 30000
      while (c.unsuccessful.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(!c.unsuccessful.isEmpty,
        "the slow sibling job must end failed or cancelled")
    }
  }
}
