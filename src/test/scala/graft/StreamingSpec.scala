package graft

import graft.streaming.{RateEv, RateLimitProcessor, StreamingQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

case class Ev(ts: Timestamp, user_id: Long, value: Double)
case class UserCount(user_id: Long, n: Long)
case class Click(c_user: Long, c_ts: Timestamp)
case class Purchase(p_user: Long, p_ts: Timestamp)
case class Alert(user_id: Long, crossed: Long)
case class Doc(lang: String, text: String)
case class NewDoc(doc_id: Long, text: String, ts: Timestamp)
case class NewVec(vec_id: Long, v: Seq[Double], ts: Timestamp)
case class Tombstone(doc_id: Long, ts: Timestamp)
case class VecTombstone(vec_id: Long, ts: Timestamp)
case class IdEv(event_id: Long, ts: Timestamp)
case class TypedEv(ts: Timestamp, event_type: String)
case class Tok(shard: Int, token: String)
case class FunEv(ts: Timestamp, user_id: Long, event_type: String)
case class MGState(buf: graft.functions.FrequentItems.MGBuf, seq: Int)

/** Proves the StreamingQueries builders are genuinely streamable: the SAME
  * functions the batch correctness gate runs execute here under
  * MemoryStream with watermarks, and results match the batch run on
  * identical data. Also exercises mapGroupsWithState for custom state.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  private val batch1 = Seq(
    Ev(ts("2024-01-01T10:05:00Z"), 1, 1.0),
    Ev(ts("2024-01-01T10:40:00Z"), 1, 2.0),
    Ev(ts("2024-01-01T11:10:00Z"), 2, 3.0))
  private val batch2 = Seq(
    Ev(ts("2024-01-01T13:00:00Z"), 2, 4.0), // advances watermark to 12:00
    Ev(ts("2024-01-01T10:59:00Z"), 1, 9.9)) // late, before watermark: dropped

  test("tumbling window agg: stream (complete mode) matches batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.tumbling(mem.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode(OutputMode.Complete())
      .start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumb")
        .select("window_start", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = StreamingQueries.tumbling(batch1.toDF())
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch)
      assert(streamed.exists { case (w, n, s) =>
        w == ts("2024-01-01T10:00:00Z") && n == 2 && s == 3.0 })
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.tumbling(mem.toDF())
      .writeStream.format("memory").queryName("late").outputMode(OutputMode.Append())
      .start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // Watermark advances AFTER a batch completes: first push the
      // watermark past 11:00 (closing the 10:00 window) ...
      mem.addData(Ev(ts("2024-01-01T13:00:00Z"), 2, 4.0))
      q.processAllAvailable()
      // ... then the 10:59 straggler arrives with watermark at 12:00 and
      // its window already closed and evicted: dropped.
      mem.addData(Ev(ts("2024-01-01T10:59:00Z"), 1, 9.9))
      q.processAllAvailable()
      val rows = spark.table("late")
        .collect().map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // the 10:00 window emitted WITHOUT the late 9.9 event
      assert(rows(ts("2024-01-01T10:00:00Z")) == ((2L, 3.0)))
    } finally q.stop()
  }

  test("session windows: stream matches batch on identical data") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val data = Seq(
      Ev(ts("2024-01-01T00:00:00Z"), 1, 1.0),
      Ev(ts("2024-01-01T02:00:00Z"), 1, 1.0),  // same session (< 6h gap)
      Ev(ts("2024-01-01T12:00:00Z"), 1, 1.0),  // new session (10h gap)
      Ev(ts("2024-01-01T01:00:00Z"), 2, 1.0))
    val evDf = data.toDF().withColumn("user_id", col("user_id"))
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.sessions(mem.toDF())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Complete())
      .start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      val batch = StreamingQueries.sessions(evDf).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
      assert(streamed == batch)
      assert(streamed.contains((1L, ts("2024-01-01T00:00:00Z"),
        ts("2024-01-01T08:00:00Z"), 2L)))  // end = last ts + 6h gap
      assert(streamed.size == 3)
    } finally q.stop()
  }

  test("streaming render pipeline: readStream -> Kusto JSONL -> sink (SURVEY §7 step 8)") {
    // The reference's entire conversion pipeline, but over an unbounded
    // parquet directory source: same render expressions, streaming sink.
    val src = java.nio.file.Files.createTempDirectory("stream-src").toString
    val sp = spark
    Tables(sp, "/root/testdata/sf0.001", "region").write.mode("overwrite").parquet(src)
    val schema = sp.read.parquet(src).schema
    val streamed = graft.functions.KustoRender.toKustoJson(
      sp.readStream.schema(schema).parquet(src))
    val q = streamed.writeStream.format("memory").queryName("rjson")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val lines = sp.table("rjson").collect().map(_.getString(0)).sorted
      val batch = graft.functions.KustoRender.toKustoJson(sp.read.parquet(src))
        .collect().map(_.getString(0)).sorted
      assert(lines.length == 5)
      assert(lines.toSeq == batch.toSeq) // stream/batch render parity
    } finally q.stop()
  }

  test("stream-stream interval join: purchases within 1h of a click, watermarked both sides") {
    // The streaming form of q27's range join: two unbounded inputs joined
    // on key + event-time interval. The watermarks bound join state — each
    // side keeps only rows newer than (watermark - interval), which is what
    // makes this viable on an unbounded stream.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mc = MemoryStream[Click]
    val mp = MemoryStream[Purchase]
    // the SAME builder the q147 gate query runs in batch — parity by
    // construction, exercised here across two real watermarked streams
    val joined = StreamingQueries.clickPurchaseJoin(mc.toDF(), mp.toDF())
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      mc.addData(
        Click(1, ts("2024-01-01T10:00:00Z")),
        Click(1, ts("2024-01-01T12:00:00Z")),
        Click(2, ts("2024-01-01T10:00:00Z")))
      mp.addData(
        Purchase(1, ts("2024-01-01T10:30:00Z")), // joins click@10 (same user, <=1h)
        Purchase(1, ts("2024-01-01T11:30:00Z")), // joins nothing (>1h after 10:00)
        Purchase(2, ts("2024-01-01T11:30:00Z"))) // wrong window for user 2
      q.processAllAvailable()
      val got = sp.table("ssj").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got == Set((1L, ts("2024-01-01T10:00:00Z"), ts("2024-01-01T10:30:00Z"))))
      // (not an exact-count pin: Spark skips buffering rows it can
      // already prove un-joinable, so 5 of the 6 inputs sit in state)
      val stateAfterB1 = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateAfterB1 >= 4, s"both sides buffered: $stateAfterB1")
      // State EVICTION is what makes this viable unbounded: rows older
      // than (watermark - interval) must leave the store. Advance both
      // watermarks nine days, then run the follow-up batches that apply
      // the new watermark (watermark updates take effect one batch later).
      mc.addData(Click(3, ts("2024-01-10T10:00:00Z")))
      mp.addData(Purchase(3, ts("2024-01-10T10:00:00Z")))
      q.processAllAvailable()
      mc.addData(Click(3, ts("2024-01-10T10:00:01Z")))
      q.processAllAvailable()
      val stateAfterWm = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateAfterWm < stateAfterB1,
        s"day-1 rows must be evicted once the watermark passes: $stateAfterB1 -> $stateAfterWm")
    } finally q.stop()
  }

  test("stream-static join: unbounded stream enriched against a broadcast dimension") {
    // The streaming-enrichment pattern: each micro-batch joins the static
    // side as an ordinary broadcast hash join — no state store, no
    // watermark needed, and the static table is planned once per batch.
    // This is how a 100 TB pipeline decorates an event firehose with
    // dimension attributes (or, as in q80, probes a benchmark-gram set).
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dim = Seq(("en", "english"), ("fr", "french")).toDF("lang", "lang_name")
    val ms = MemoryStream[Doc]
    val enriched = ms.toDF().join(broadcast(dim), Seq("lang"), "left")
      .select(col("lang"), col("text"),
        coalesce(col("lang_name"), lit("unknown")).as("lang_name"))
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Doc("en", "a"), Doc("fr", "b"))
      q.processAllAvailable()
      ms.addData(Doc("zh", "c")) // second micro-batch, unmatched key
      q.processAllAvailable()
      val got = sp.table("enrich").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(("en", "a", "english"), ("fr", "b", "french"),
        ("zh", "c", "unknown")))
    } finally q.stop()
  }

  test("stream-static enrich builder (q154): windowed per-segment agg matches batch") {
    // Drives the ACTUAL q154 builder (join + windowed agg), not just the
    // join pattern: the static side broadcasts per micro-batch, the only
    // state is the windowed aggregate, and complete-mode output equals
    // the batch run of the same code on the same rows.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dims = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "segment")
    val rows = Seq(
      Ev(ts("2024-01-01T01:00:00Z"), 1L, 1.0),
      Ev(ts("2024-01-01T05:59:00Z"), 1L, 2.0), // same 6h bucket as 01:00
      Ev(ts("2024-01-01T06:01:00Z"), 2L, 4.0), // next bucket, other segment
      Ev(ts("2024-01-01T07:00:00Z"), 9L, 8.0)) // no dim row -> dropped
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.enrich(mem.toDF(), dims)
      .writeStream.format("memory").queryName("enrich154")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select("window_start", "segment", "n_events", "sum_value")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val streamed = shape(sp.table("enrich154"))
      val batch = shape(StreamingQueries.enrich(rows.toDF(), dims))
      assert(streamed == batch)
      assert(streamed == Set(
        (ts("2024-01-01T00:00:00Z"), "BUILDING", 2L, 3.0),
        (ts("2024-01-01T06:00:00Z"), "MACHINERY", 1L, 4.0)))
    } finally q.stop()
  }

  test("seasonal alert builder (q218): hourly counts vs hour-of-week baseline, cross-batch merge") {
    // The ACTUAL q218 builder under MemoryStream: one windowed stateful
    // agg; the hour-of-week baseline is a broadcast static frame. The
    // stream rows arrive in TWO micro-batches landing in the SAME hour
    // window, so complete-mode output proves the state merge; values
    // are hand-computed against the nh=2-slot baseline.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // baseline history spans two Mondays -> how(h0) has nh = 2 slots:
    // click t=3 (2 then 1) -> mean 1.5; view t=1 -> mean 0.5
    val hist = Seq(
      TypedEv(ts("2024-01-01T00:10:00Z"), "click"),
      TypedEv(ts("2024-01-01T00:20:00Z"), "click"),
      TypedEv(ts("2024-01-01T00:30:00Z"), "view"),
      TypedEv(ts("2024-01-08T00:15:00Z"), "click"))
    val base = StreamingQueries.seasonalBaseline(hist.toDF())
    // stream: third Monday, same hour-of-week. 5 clicks (5*2 > 3*3 ->
    // alert; dev |5*2-3|/2 = 3.5) and 1 view (no alert; dev 0.5)
    val b1 = Seq(
      TypedEv(ts("2024-01-15T00:05:00Z"), "click"),
      TypedEv(ts("2024-01-15T00:10:00Z"), "click"),
      TypedEv(ts("2024-01-15T00:15:00Z"), "click"))
    val b2 = Seq(
      TypedEv(ts("2024-01-15T00:20:00Z"), "click"),
      TypedEv(ts("2024-01-15T00:25:00Z"), "click"),
      TypedEv(ts("2024-01-15T00:30:00Z"), "view"))
    val mem = MemoryStream[TypedEv]
    val q = StreamingQueries.seasonalAlerts(mem.toDF(), base)
      .writeStream.format("memory").queryName("seasonal218")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select("window_start", "event_type", "obs", "expected",
          "deviation", "alert")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
        .toSet
      val streamed = shape(sp.table("seasonal218"))
      val batch = shape(
        StreamingQueries.seasonalAlerts((b1 ++ b2).toDF(), base))
      assert(streamed == batch)
      assert(streamed == Set(
        (ts("2024-01-15T00:00:00Z"), "click", 5L, 1.5, 3.5, true),
        (ts("2024-01-15T00:00:00Z"), "view", 1L, 0.5, 0.5, false)))
    } finally q.stop()
  }

  test("drift monitor builder (q172): windowed TV vs static baseline matches batch") {
    // Drives the ACTUAL q172 builder under MemoryStream: the only
    // stateful operator is the single windowed conditional-count agg
    // (one state row per open window), the baseline is a broadcast
    // static one-row frame, and complete-mode output equals the batch
    // run of the same code on the same rows. The second window's mix
    // (all clicks) is maximally skewed vs the 50/50 baseline, pinning
    // a hand-computable TV value.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // baseline: 2 click + 2 view -> p = (0.5, 0.5) over {click, view}
    val baseRows = Seq(
      TypedEv(ts("2024-01-01T00:10:00Z"), "click"),
      TypedEv(ts("2024-01-01T00:20:00Z"), "click"),
      TypedEv(ts("2024-01-01T00:30:00Z"), "view"),
      TypedEv(ts("2024-01-01T00:40:00Z"), "view"))
    val base = StreamingQueries.typeBaseline(baseRows.toDF())
    val rows = Seq(
      TypedEv(ts("2024-01-01T01:00:00Z"), "click"), // w0: 1 click + 1 view
      TypedEv(ts("2024-01-01T02:00:00Z"), "view"),  //   = baseline -> TV 0
      TypedEv(ts("2024-01-01T06:30:00Z"), "click"), // w1: clicks only
      TypedEv(ts("2024-01-01T07:30:00Z"), "click")) //   -> TV 0.5
    val mem = MemoryStream[TypedEv]
    val q = StreamingQueries.driftVsBaseline(mem.toDF(), base)
      .writeStream.format("memory").queryName("drift172")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select("window_start", "n_events", "tv_drift")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val streamed = shape(sp.table("drift172"))
      val batch = shape(StreamingQueries.driftVsBaseline(rows.toDF(), base))
      assert(streamed == batch)
      assert(streamed == Set(
        (ts("2024-01-01T00:00:00Z"), 2L, 0.0),
        (ts("2024-01-01T06:00:00Z"), 2L, 0.5)))
    } finally q.stop()
  }

  test("session funnel builder (q185): in-session click->purchase order, stream matches batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val data = Seq(
      // user 1, session A: click then purchase -> converted
      FunEv(ts("2024-01-01T10:00:00Z"), 1, "click"),
      FunEv(ts("2024-01-01T11:00:00Z"), 1, "purchase"),
      // user 1, session B (>= 6h gap): purchase without a click -> not
      FunEv(ts("2024-01-01T20:00:00Z"), 1, "purchase"),
      // user 2, one session: purchase BEFORE the first click -> not
      FunEv(ts("2024-01-01T09:00:00Z"), 2, "purchase"),
      FunEv(ts("2024-01-01T10:00:00Z"), 2, "click"))
    val mem = MemoryStream[FunEv]
    val q = StreamingQueries.sessionFunnel(mem.toDF())
      .writeStream.format("memory").queryName("funnel185")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getBoolean(3))).toSet
      val streamed = shape(sp.table("funnel185"))
      val batch = shape(StreamingQueries.sessionFunnel(data.toDF()))
      assert(streamed == batch)
      assert(streamed == Set(
        (1L, ts("2024-01-01T10:00:00Z"), 2L, true),
        (1L, ts("2024-01-01T20:00:00Z"), 1L, false),
        (2L, ts("2024-01-01T09:00:00Z"), 2L, false)))
    } finally q.stop()
  }

  test("windowed quantile builder (q186): one histogram state row, stream matches batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // one 6h window, values 0..199 -> bins 0..4 (40 each); with n=200:
    // p50 edge = bin at cum >= 100 -> bin 2 (80), p95 -> bin 4 (160),
    // p99 -> bin 4 (160)
    val data = (0 until 200).map(i =>
      Ev(ts(f"2024-01-01T0${i % 6}:${10 + i % 40}%02d:00Z"), i.toLong, i.toDouble))
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.windowValueQuantiles(mem.toDF())
      .writeStream.format("memory").queryName("quant186")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getInt(4))).toSet
      val streamed = shape(sp.table("quant186"))
      val batch = shape(StreamingQueries.windowValueQuantiles(data.toDF()))
      assert(streamed == batch)
      assert(streamed == Set(
        (ts("2024-01-01T00:00:00Z"), 200L, 80, 160, 160)))
    } finally q.stop()
  }

  test("KS drift builder (q242): windowed CDF max vs static baseline, stream matches batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // baseline: one value in bin 0, one in bin 1 -> bcum [1,2,2,...],
    // nb = 2. Window 0 repeats the mix exactly -> KS 0. Window 1 puts
    // both values in bin 11 -> its CDF is 0 through bin 10 while the
    // baseline is already complete -> KS exactly 1.
    val base = StreamingQueries.valueBaseline(Seq(
      Ev(ts("2024-01-01T00:01:00Z"), 1L, 10.0),
      Ev(ts("2024-01-01T00:02:00Z"), 2L, 50.0)).toDF())
    val rows = Seq(
      Ev(ts("2024-01-01T01:00:00Z"), 3L, 10.0),
      Ev(ts("2024-01-01T02:00:00Z"), 4L, 50.0),
      Ev(ts("2024-01-01T06:30:00Z"), 5L, 450.0),
      Ev(ts("2024-01-01T07:30:00Z"), 6L, 470.0))
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.windowKsDrift(mem.toDF(), base)
      .writeStream.format("memory").queryName("ks242")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
      val streamed = shape(sp.table("ks242"))
      val batch = shape(StreamingQueries.windowKsDrift(rows.toDF(), base))
      assert(streamed == batch)
      assert(streamed == Set(
        (ts("2024-01-01T00:00:00Z"), 2L, 0.0),
        (ts("2024-01-01T06:00:00Z"), 2L, 1.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: zero-or-more alerts per user as thresholds are crossed") {
    // Unlike mapGroupsWithState (exactly one row per key per batch),
    // flatMapGroupsWithState emits an ITERATOR — here one alert per
    // multiple-of-5 the user's running value-total crosses, possibly none.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Ev]
    val alerts = mem.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Double]) =>
          val before = state.getOption.getOrElse(0.0)
          val after = before + evs.map(_.value).sum
          state.update(after)
          ((before / 5).toLong + 1 to (after / 5).toLong)
            .map(k => Alert(uid, k * 5)).iterator
      }
    val q = alerts.toDF().writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Ev(ts("2024-01-01T10:00:00Z"), 1, 3.0)) // total 3: no alert
      q.processAllAvailable()
      assert(sp.table("alerts").count() == 0)
      mem.addData(Ev(ts("2024-01-01T10:10:00Z"), 1, 8.0)) // total 11: crosses 5 and 10
      q.processAllAvailable()
      val got = sp.table("alerts").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 5L), (1L, 10L)))
    } finally q.stop()
  }

  test("streaming dedup: fingerprint state survives across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = Seq(
      Doc("en", "the quick brown fox"),
      Doc("en", "a different document"),
      Doc("de", "der schnelle fuchs"))
    val mem = MemoryStream[Doc]
    val q = StreamingQueries.dedupCounts(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      // batch 2 repeats batch 1's first doc (whitespace-normalized form)
      // and adds one new one: the repeat must be dropped by STATE from
      // the previous micro-batch, not within-batch dedup
      mem.addData(Doc("en", "  the   quick brown fox "), Doc("de", "neues dokument"))
      q.processAllAvailable()
      val streamed = sp.table("dedup").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == Map("en" -> 2L, "de" -> 2L))
      val batch = StreamingQueries.dedupCounts(
        (docs ++ Seq(Doc("en", "  the   quick brown fox "), Doc("de", "neues dokument"))).toDF())
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("q274 interleaved ingest: tombstone-before-admit cannot resurrect; stream ≡ batch") {
    import graft.streaming.IngestEv
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[IngestEv]
    val q = StreamingQueries.interleavedIngest(mem.toDF())
      .writeStream.format("memory").queryName("interleave")
      .outputMode(OutputMode.Append()).start()
    try {
      // wave 1: admit 1 (quarantined), erase 2 (its admission never
      // arrives), admit 3 (quarantined)
      mem.addData(
        IngestEv(1L, "admit", 10L, ts("2024-01-01T10:00:00Z")),
        IngestEv(2L, "erase", 0L, ts("2024-01-01T10:00:00Z")),
        IngestEv(3L, "admit", 7L, ts("2024-01-01T10:05:00Z")))
      q.processAllAvailable()
      // wave 2 carries BOTH kinds in one micro-batch: erase 3 kills the
      // quarantined admission; id 4 gets tombstone THEN admission — the
      // resurrection geometry the contract forbids (and the per-key
      // logic is arrival-order-insensitive inside a batch, so either
      // iterator order lands on erase+suppressed); admit 5 late enough
      // to advance the watermark
      mem.addData(
        IngestEv(3L, "erase", 0L, ts("2024-01-01T10:10:00Z")),
        IngestEv(4L, "erase", 0L, ts("2024-01-01T10:20:00Z")),
        IngestEv(4L, "admit", 9L, ts("2024-01-01T10:30:00Z")),
        IngestEv(5L, "admit", 5L, ts("2024-01-01T13:00:00Z")))
      q.processAllAvailable()
      // watermark advances at end-of-batch, and the no-data micro-batch
      // Spark appends when the watermark moves fires the event-time
      // timeouts right away — so each tick here matures every
      // quarantine whose ts + 1h the new watermark passed: wave 2
      // (wm 12:00) matures ids 1/3/4's state, 6's tick (wm 15:00)
      // matures 5, 7's tick (wm 18:00) nothing, 8's tick (wm 21:00)
      // matures 7; 8 itself (timeout 23:00) stays quarantined
      mem.addData(IngestEv(6L, "admit", 1L, ts("2024-01-01T16:00:00Z")))
      q.processAllAvailable()
      mem.addData(IngestEv(7L, "admit", 2L, ts("2024-01-01T19:00:00Z")))
      q.processAllAvailable()
      mem.addData(IngestEv(8L, "admit", 3L, ts("2024-01-01T22:00:00Z")))
      q.processAllAvailable()
      val streamed = sp.table("interleave").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == Set(
        (1L, "admit", 10L), (2L, "erase", 0L),
        (3L, "erase", 0L), (3L, "suppressed", 7L),
        (4L, "erase", 0L), (4L, "suppressed", 9L),
        (5L, "admit", 5L), (6L, "admit", 1L), (7L, "admit", 2L)))
      // stream ≡ batch on the matured prefix (ids 1-7; 8 is still in
      // quarantine when the run stops — the batch arm of the SAME
      // builder over the same events produces exactly the stream's set)
      val matured = Seq(
        IngestEv(1L, "admit", 10L, ts("2024-01-01T10:00:00Z")),
        IngestEv(2L, "erase", 0L, ts("2024-01-01T10:00:00Z")),
        IngestEv(3L, "admit", 7L, ts("2024-01-01T10:05:00Z")),
        IngestEv(3L, "erase", 0L, ts("2024-01-01T10:10:00Z")),
        IngestEv(4L, "erase", 0L, ts("2024-01-01T10:20:00Z")),
        IngestEv(4L, "admit", 9L, ts("2024-01-01T10:30:00Z")),
        IngestEv(5L, "admit", 5L, ts("2024-01-01T13:00:00Z")),
        IngestEv(6L, "admit", 1L, ts("2024-01-01T16:00:00Z")),
        IngestEv(7L, "admit", 2L, ts("2024-01-01T19:00:00Z")))
      val batched = StreamingQueries.interleavedIngest(matured.toDF())
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(batched == streamed)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: suppressed in-horizon, re-admitted after eviction") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[IdEv]
    val q = StreamingQueries.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("wmdedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // b1: first sighting of id=1 — emitted; state expires at 10:00+1h
      mem.addData(IdEv(1L, ts("2024-01-01T10:00:00Z")))
      q.processAllAvailable()
      // b2: id=1 again INSIDE the horizon -> suppressed by state; id=2 at
      // 13:00 emits and advances the watermark to 12:00 (> 11:00), so
      // id=1's state is evicted after this batch completes
      mem.addData(IdEv(1L, ts("2024-01-01T10:30:00Z")),
        IdEv(2L, ts("2024-01-01T13:00:00Z")))
      q.processAllAvailable()
      // b3: id=1 returns AFTER eviction -> re-admitted (the documented
      // horizon trade vs plain dropDuplicates' unbounded exact state)
      mem.addData(IdEv(1L, ts("2024-01-01T12:30:00Z")))
      q.processAllAvailable()
      val rows = sp.table("wmdedup").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      assert(rows == Set(
        (1L, ts("2024-01-01T10:00:00Z")),
        (2L, ts("2024-01-01T13:00:00Z")),
        (1L, ts("2024-01-01T12:30:00Z"))))
    } finally q.stop()
  }

  test("streaming heavy hitters: Misra-Gries sketch as per-shard state across batches") {
    // The q92 sketch in streaming form: tokens shard by hash, each shard
    // keeps ONE bounded MG buffer as mapGroupsWithState state (O(k) per
    // shard forever — no unbounded token-count state), candidates emitted
    // per batch. A token always lands in its own shard, so each shard's
    // candidate set contains every token heavier than that shard's
    // stream-length/k — the same containment guarantee, sharded.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val agg = new graft.functions.FrequentItems.MisraGries(5)
    val mem = MemoryStream[Tok]
    val q = mem.toDS().groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (shard: Int, it: Iterator[Tok], state: GroupState[MGState]) =>
          val prev = state.getOption.getOrElse(MGState(agg.zero, 0))
          val buf = it.foldLeft(prev.buf)((b, t) => agg.reduce(b, t.token))
          state.update(MGState(buf, prev.seq + 1))
          (shard, prev.seq + 1, agg.finish(buf).keys.toSeq.sorted.mkString(","))
      }
      .toDF("shard", "seq", "candidates")
      .writeStream.format("memory").queryName("mgstream")
      .outputMode(OutputMode.Update()).start()
    try {
      def toks(ts: String*): Seq[Tok] = ts.map(t => Tok(t.hashCode & 1, t))
      // hot0/hot1 dominate across BOTH batches; tail tokens churn
      mem.addData(toks(Seq.fill(20)("hot0") ++ Seq.fill(15)("hot1") ++
        (1 to 10).map(i => s"t$i"): _*): _*)
      q.processAllAvailable()
      mem.addData(toks(Seq.fill(25)("hot0") ++ Seq.fill(18)("hot1") ++
        (11 to 20).map(i => s"t$i"): _*): _*)
      q.processAllAvailable()
      val last = sp.table("mgstream").collect()
        .groupBy(_.getInt(0)).map { case (_, rows) => rows.maxBy(_.getInt(1)) }
      val finalCands = last.flatMap(_.getString(2).split(",")).toSet
      // the cross-batch hot tokens MUST survive in their shard's sketch —
      // only state carried between micro-batches can know they are hot
      assert(finalCands.contains("hot0") && finalCands.contains("hot1"),
        s"sketch state lost across batches: $finalCands")
      // hot0 flows in both batches, so its shard's state MUST be on seq 2
      assert(last.exists(_.getInt(1) == 2), "no shard carried state across batches")
    } finally q.stop()
  }

  test("foreachBatch: idempotent partitioned-parquet sink (exactly-once by batch id)") {
    // The production sink pattern for arbitrary destinations: foreachBatch
    // gets (df, batchId); writing each batch into batch_id=<id> partitions
    // with dynamic overwrite makes a REPLAYED batch overwrite its own
    // directory instead of appending duplicates — Spark's at-least-once
    // delivery plus an idempotent write = exactly-once output.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val out = java.nio.file.Files.createTempDirectory("febatch").toString
    val prev = sp.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    def writeBatch(df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").partitionBy("batch_id").parquet(out)
    try {
      val mem = MemoryStream[Doc]
      val q = mem.toDF().writeStream.foreachBatch(writeBatch _)
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(Doc("en", "one"), Doc("de", "zwei"))
        q.processAllAvailable()
        mem.addData(Doc("fr", "trois"))
        q.processAllAvailable()
      } finally q.stop()
      assert(sp.read.parquet(out).count() == 3)
      // REPLAY batch 1: the dynamic overwrite must replace, not append
      writeBatch(Seq(Doc("fr", "trois")).toDF(), 1L)
      val rows = sp.read.parquet(out)
      assert(rows.count() == 3, "replayed batch duplicated rows")
      assert(rows.filter(col("batch_id") === 1).count() == 1)
    } finally prev match {
      case Some(v) => sp.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => sp.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("transformWithState: ValueState running count under the RocksDB store") {
    // Spark 4's replacement for *GroupsWithState: typed per-key state
    // handles (ValueState/ListState/MapState), timers, and TTL. Requires
    // the RocksDB state store provider — which is also the provider a
    // production deployment runs, so the spec pins that wiring too.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, StatefulProcessor, ValueState}
    val prev = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      class CountProcessor extends StatefulProcessor[Long, Ev, UserCount] {
        @transient private var count: ValueState[Long] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          count = getHandle.getValueState[Long]("count",
            org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[Ev],
            timers: TimerValues): Iterator[UserCount] = {
          val n = (if (count.exists()) count.get() else 0L) + rows.size
          count.update(n)
          Iterator.single(UserCount(key, n))
        }
      }
      val mem = MemoryStream[Ev]
      val counted = mem.toDS().groupByKey(_.user_id)
        .transformWithState(new CountProcessor, TimeMode.None(), OutputMode.Update())
      val q = counted.toDF().writeStream.format("memory").queryName("tws")
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(batch1: _*) // user 1: 2 events, user 2: 1
        q.processAllAvailable()
        mem.addData(batch2: _*) // user 2: +1, user 1: +1
        q.processAllAvailable()
        val last = sp.table("tws").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
        assert(last == Map(1L -> 3L, 2L -> 2L))
      } finally q.stop()
    } finally prev match {
      case Some(p) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("q168 prefix-probe dedup: streamed delta across micro-batches matches the batch gate") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = Tables(sp, dir, "documents").select(col("doc_id"), col("text"))
    // the gate's delta construction, materialized so it can ARRIVE as a
    // stream in two micro-batches (different arrival times, same docs)
    val delta = corpus.filter(col("doc_id") % 10 === 7)
      .withColumn("tk", expr(graft.operators.LlmQueries.toksSql))
      .select((col("doc_id") + 20000).as("doc_id"),
        expr("array_join(slice(tk, 1, greatest(size(tk) - 5, 1)), ' ')").as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = delta.partition(_._1 % 2 == 0)
    val mem = MemoryStream[NewDoc]
    val q = StreamingQueries.prefixProbeDedup(sp, mem.toDF(), corpus)
      .writeStream.format("memory").queryName("ppd")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(half1.map(d =>
        NewDoc(d._1, d._2, ts("2024-01-01T00:00:00Z"))): _*)
      q.processAllAvailable()
      mem.addData(half2.map(d =>
        NewDoc(d._1, d._2, ts("2024-01-01T00:30:00Z"))): _*)
      q.processAllAvailable()
      val streamed = sp.table("ppd")
        .select("new_id", "doc_id", "n_shared")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = SparkEntry.queries("q168_stream_prefix_dedup")(sp, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, "streamed pair set must equal the batch gate's")
      assert(streamed.nonEmpty)
      // candidate multiplicity collapsed: one output row per pair
      assert(sp.table("ppd").count() == streamed.size)
    } finally q.stop()
  }

  test("q247 vector admission: streamed delta across micro-batches matches the batch gate") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (cells, members) = graft.operators.LlmQueries.semIndex(sp, dir)
    // the gate's delta, materialized so it can ARRIVE as a stream in
    // two waves (the per-row fold assignment must not depend on which
    // micro-batch a vector rides in)
    val delta = graft.operators.LlmQueries.admissionDelta(sp, dir)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (half1, half2) = delta.partition(_._1 % 2 == 0)
    val mem = MemoryStream[NewVec]
    val q = StreamingQueries.vectorAdmission(sp, mem.toDF(), cells, members)
      .writeStream.format("memory").queryName("vadm")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(half1.map(d =>
        NewVec(d._1, d._2, ts("2024-01-01T00:00:00Z"))): _*)
      q.processAllAvailable()
      mem.addData(half2.map(d =>
        NewVec(d._1, d._2, ts("2024-01-01T00:30:00Z"))): _*)
      q.processAllAvailable()
      val streamed = sp.table("vadm")
        .select("vec_id", "cell", "mbr", "score")
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = SparkEntry.queries("q247_stream_vector_admission")(sp, dir)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch, "streamed match list must equal the batch gate's")
      assert(streamed.nonEmpty)
      // exactly-once: one output row per (vec_id, mbr) pair
      assert(sp.table("vadm").count() == streamed.size)
    } finally q.stop()
  }

  test("q247 vector admission: a streamed vector equidistant from two centroids lands in the smaller cid, as Vectors.nearestCentroid") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    graft.functions.GraftFunctions.register(sp) // vec_dot
    // (1,0,0,0) is at squared distance 0.25 from cids 5 and 3, 4.0 from 0
    val cells = Seq((5, Seq(1.0, -0.5, 0.0, 0.0)), (0, Seq(-1.0, 0.0, 0.0, 0.0)),
      (3, Seq(1.0, 0.5, 0.0, 0.0))).toDF("cid", "cv")
    // one member per tied cell, parallel to the vector: it matches in either
    val members = Seq((100L, 3, Seq(2.0, 0.0, 0.0, 0.0), 2.0),
      (101L, 5, Seq(2.0, 0.0, 0.0, 0.0), 2.0)).toDF("vec_id", "cell", "av", "anrm")
    val mem = MemoryStream[NewVec]
    val q = StreamingQueries.vectorAdmission(sp, mem.toDF(), cells, members)
      .writeStream.format("memory").queryName("vadm_tie")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(NewVec(1L, Seq(3.0, 0.0, 0.0, 0.0), ts("2024-01-01T00:00:00Z")))
      q.processAllAvailable()
      val streamed = sp.table("vadm_tie").select("vec_id", "cell", "mbr")
        .as[(Long, Int, Long)].collect().toSeq
      assert(streamed == Seq((1L, 3, 100L)))
      val batch = graft.operators.Vectors.nearestCentroid(
          Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v"), cells, "v", "cv")
        .select("vec_id", "cid", "d2").as[(Long, Int, Double)].collect().toSeq
      assert(batch == Seq((1L, 3, 0.25)))
    } finally q.stop()
  }

  test("q263 tombstone ledger: streamed deletion feed matches the batch gate; replayed tombstones dedup") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    import graft.operators.CorpusQueries
    val postings = CorpusQueries.bm25Postings(sp, dir)
    val doclen = CorpusQueries.bm25DocLens(sp, dir)
    val delIds = Tables(sp, dir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val (half1, half2) = delIds.partition(_ % 20 == 9)
    val mem = MemoryStream[Tombstone]
    val q = StreamingQueries.tombstoneLedger(sp, mem.toDF(), postings, doclen)
      .writeStream.format("memory").queryName("tled")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(half1.map(d => Tombstone(d, ts("2024-01-01T00:00:00Z"))): _*)
      q.processAllAvailable()
      // second wave REPLAYS one first-wave tombstone (an at-least-once
      // feed re-delivering an RTBF request) — the watermark dedup must
      // keep the ledger exactly-once per doc
      mem.addData((half2 ++ half1.take(1)).map(d =>
        Tombstone(d, ts("2024-01-01T00:30:00Z"))): _*)
      q.processAllAvailable()
      val streamed = sp.table("tled")
        .select("doc_id", "dl_removed", "n_posting_rows", "blk")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = SparkEntry.queries("q263_stream_tombstone_ledger")(sp, dir)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch, "streamed ledger must equal the batch gate's")
      assert(streamed.nonEmpty)
      assert(sp.table("tled").count() == streamed.size,
        "a replayed tombstone must not double-emit its erase record")
    } finally q.stop()
  }

  test("q269 outer attribution: unmatched clicks emit their null row only after BOTH watermarks prove finality") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mc = MemoryStream[Click]
    val mp = MemoryStream[Purchase]
    val joined = StreamingQueries.clickPurchaseOuter(mc.toDF(), mp.toDF())
    val q = joined.writeStream.format("memory").queryName("soj")
      .outputMode(OutputMode.Append()).start()
    try {
      mc.addData(
        Click(1, ts("2024-01-01T10:00:00Z")),  // will match
        Click(1, ts("2024-01-01T12:00:00Z")))  // will NOT match
      mp.addData(Purchase(1, ts("2024-01-01T10:30:00Z")))
      q.processAllAvailable()
      def rows() = sp.table("soj").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)))).toSet
      // the matched pair may emit immediately; the unmatched click's
      // null row MUST NOT — no watermark has passed its join window yet
      assert(!rows().exists(_._3.isEmpty),
        "a null row before watermark finality would be retractable")
      // advance both watermarks far past 12:00 + 1h, plus the
      // one-batch delay watermark updates take to apply
      mc.addData(Click(2, ts("2024-01-02T12:00:00Z")))
      mp.addData(Purchase(2, ts("2024-01-02T12:00:00Z")))
      q.processAllAvailable()
      mc.addData(Click(3, ts("2024-01-02T12:00:01Z")))
      q.processAllAvailable()
      mp.addData(Purchase(3, ts("2024-01-02T12:00:02Z")))
      q.processAllAvailable()
      assert(rows().contains(
        (1L, ts("2024-01-01T12:00:00Z"), None)),
        s"the expired unmatched click must surface null-padded: ${rows()}")
      assert(rows().contains(
        (1L, ts("2024-01-01T10:00:00Z"),
          Some(ts("2024-01-01T10:30:00Z")))), s"${rows()}")
    } finally q.stop()
  }

  test("q274 quarantine state survives a query RESTART: pending admissions recover, a post-restart tombstone still kills them, timeouts still mature them") {
    // The q263 restart discipline applied to the interleaved-lifecycle
    // operator, whose state is RICHER than a dedup seen-set: the
    // flatMapGroupsWithState store holds quarantined admissions (a
    // pending list + an event-time timeout) and erased flags, and ALL
    // of it must recover from the checkpoint for the erase-dominates
    // contract to hold across a redeploy. Geometry: ids 1 and 3 are
    // in-quarantine when the query stops; after the restart a
    // tombstone for 3 must still suppress it (recovered pending list)
    // and the watermark must still mature 1 into an admit (recovered
    // timeout), with id 4's later admission maturing in a third run.
    val sp = spark
    import sp.implicits._
    import graft.streaming.IngestEv
    val root = java.nio.file.Files.createTempDirectory("graft-q274-restart")
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("kind", "string")
      .add("dl", "long").add("ts", "timestamp")
    def start() = StreamingQueries.interleavedIngest(
        sp.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    def emitted(): Set[(Long, String, Long)] =
      sp.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def emit(evs: IngestEv*): Unit =
      evs.toSeq.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    try {
      emit(IngestEv(1L, "admit", 10L, ts("2024-01-01T10:00:00Z")),
        IngestEv(2L, "erase", 0L, ts("2024-01-01T10:00:00Z")),
        IngestEv(3L, "admit", 7L, ts("2024-01-01T10:05:00Z")))
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      assert(emitted() == Set((2L, "erase", 0L)),
        "ids 1 and 3 must still be in quarantine at the stop")
      // post-restart: the tombstone for quarantined 3, and a late admit
      // that advances the watermark past 1's maturity
      emit(IngestEv(3L, "erase", 0L, ts("2024-01-01T10:10:00Z")),
        IngestEv(4L, "admit", 9L, ts("2024-01-01T13:00:00Z")))
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      assert(emitted() == Set((2L, "erase", 0L), (3L, "erase", 0L),
        (3L, "suppressed", 7L), (1L, "admit", 10L)),
        s"recovered state must suppress 3 and mature 1: ${emitted()}")
      // third run matures 4 (wm 15:00 > 14:00)
      emit(IngestEv(5L, "admit", 1L, ts("2024-01-01T16:00:00Z")))
      val q3 = start()
      try { q3.processAllAvailable() } finally q3.stop()
      assert(emitted() == Set((2L, "erase", 0L), (3L, "erase", 0L),
        (3L, "suppressed", 7L), (1L, "admit", 10L), (4L, "admit", 9L)),
        s"4 must mature across the second restart: ${emitted()}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
    }
  }

  test("q263 ledger state survives a query RESTART: checkpointed file-source waves; a tombstone replayed after the restart stays deduped") {
    // Stronger than the two-wave MemoryStream replay above: that proves
    // exactly-once WITHIN one query run; this proves it ACROSS a stop/
    // restart — the state store (the dedup's seen-set) and the file
    // source's processed-file log both recover from the checkpoint,
    // which is the guarantee a production RTBF feed actually leans on
    // when the job is redeployed mid-stream.
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    import graft.operators.CorpusQueries
    val postings = CorpusQueries.bm25Postings(sp, dir)
    val doclen = CorpusQueries.bm25DocLens(sp, dir)
    val indexed = doclen.select("doc_id").as[Long].collect().toSet
    val delIds = Tables(sp, dir, "documents")
      .filter(col("doc_id") % 10 === 9)
      .select(col("doc_id")).as[Long].collect().filter(indexed)
    val (w1, w2) = delIds.partition(_ % 20 == 9)
    assert(w1.nonEmpty && w2.nonEmpty)
    val root = java.nio.file.Files.createTempDirectory("graft-restart")
    val srcDir = s"$root/src"; val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("ts", "timestamp")
    // parquet sink, not memory: the memory sink refuses checkpoint
    // recovery by design — the file sink commits through the same
    // checkpoint the state store recovers from, which is the
    // production shape anyway
    def start() = StreamingQueries.tombstoneLedger(sp,
        sp.readStream.schema(schema).parquet(srcDir), postings, doclen)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    def emitted(): Seq[Long] =
      sp.read.parquet(outDir).select("doc_id").as[Long].collect().toSeq
    try {
      w1.map(d => (d, ts("2024-01-01T00:00:00Z"))).toSeq
        .toDF("doc_id", "ts").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      assert(emitted().toSet == w1.toSet,
        "wave 1 must emit every indexed tombstone once")
      // wave 2 lands AFTER the stop: new tombstones plus a REPLAY of a
      // wave-1 doc (at-least-once redelivery straddling the restart)
      (w2 :+ w1.head).map(d => (d, ts("2024-01-01T00:30:00Z"))).toSeq
        .toDF("doc_id", "ts").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q2 = start()
      try { q2.processAllAvailable() } finally q2.stop()
      val all = emitted()
      assert(all.size == all.distinct.size,
        s"recovered dedup state must drop the replayed ${w1.head}: " +
          s"duplicates in ${all.diff(all.distinct)}")
      assert(all.toSet == (w1 ++ w2).toSet,
        "every distinct tombstone emits exactly once across the restart")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      ()
    }
  }

  test("q267 sem tombstone router: streamed vector deletion feed matches the batch gate; replayed tombstones dedup") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    val members = graft.operators.LlmQueries.semIndex(sp, dir)._2
    val delIds = Tables(sp, dir, "embeddings")
      .filter(col("vec_id") % 5 === 2)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val (half1, half2) = delIds.partition(_ % 10 == 2)
    val mem = MemoryStream[VecTombstone]
    val q = StreamingQueries.semTombstoneLedger(mem.toDF(), members)
      .writeStream.format("memory").queryName("vtled")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(half1.map(v =>
        VecTombstone(v, ts("2024-01-01T00:00:00Z"))): _*)
      q.processAllAvailable()
      // second wave REPLAYS one first-wave tombstone — the watermark
      // dedup must keep the routing feed exactly-once per vector
      mem.addData((half2 ++ half1.take(1)).map(v =>
        VecTombstone(v, ts("2024-01-01T00:30:00Z"))): _*)
      q.processAllAvailable()
      val cols = Seq("vec_id", "cell", "n_cell_members")
      val streamed = sp.table("vtled").selectExpr(cols: _*)
        .collect().map(_.toSeq.toList).toSet
      val batch = SparkEntry.queries("q267_stream_sem_tombstone")(sp, dir)
        .selectExpr(cols: _*).collect().map(_.toSeq.toList).toSet
      assert(streamed == batch,
        "streamed routing records must equal the batch gate's")
      assert(streamed.nonEmpty)
      assert(sp.table("vtled").count() == streamed.size,
        "a replayed tombstone must not double-emit its routing record")
    } finally q.stop()
  }

  test("q255 BPE drift monitor: streamed docs across micro-batches match the batch gate; vocab-miss words take the cold path") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = "/root/testdata/sf0.001"
    import graft.operators.CorpusQueries
    val enc = CorpusQueries.bpeEncodedVocab(sp, dir)
      .select(col("word"), col("n_sym")).localCheckpoint()
    val wide = CorpusQueries.bpeWideMerges(sp, dir)
    val baseline = CorpusQueries.bpeEncodedVocab(sp, dir)
      .agg(org.apache.spark.sql.functions.sum(col("freq")).cast("long").as("bw"),
        org.apache.spark.sql.functions.sum(expr("n_sym * freq")).cast("long").as("bb"))
      .select(expr("(2 * bb * 1000000 + bw) DIV (2 * bw)").as("base_micro"))
      .localCheckpoint()
    // the gate's docs with the gate's derived arrival time, split into
    // two waves by doc parity so every window MERGES counts across
    // micro-batches (the stateful-agg path under test)
    val base = ts("2024-01-01T00:00:00Z").getTime
    val docs = Tables(sp, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => NewDoc(r.getLong(0), r.getString(1),
        new Timestamp(base + r.getLong(0) * 60000L)))
    val (half1, half2) = docs.partition(_.doc_id % 2 == 0)
    val mem = MemoryStream[NewDoc]
    val q = StreamingQueries.bpeDriftWindows(mem.toDF(), enc, wide, baseline)
      .writeStream.format("memory").queryName("bpedrift")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(half1: _*)
      q.processAllAvailable()
      mem.addData(half2: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
      val streamed = shape(sp.table("bpedrift"))
      val batch = shape(SparkEntry.queries("q255_stream_bpe_drift")(sp, dir))
      assert(streamed == batch, "streamed window stats must equal the batch gate's")
      assert(streamed.nonEmpty)
    } finally q.stop()
    // COLD PATH: a word the frozen vocabulary has never seen must be
    // ENCODED via the chained-replace replay (per-row map work), never
    // dropped by the vocab join — that is what makes it a drift monitor.
    val novel = "zqxjkwv"
    assert(enc.filter(col("word") === novel).isEmpty,
      "test word must miss the vocabulary")
    val expected = CorpusQueries.bpeEncodeDict(sp, dir,
        Seq((novel, 1L)).toDF("word", "freq"), CorpusQueries.BpeRounds)
      .select(col("n_sym")).head().getLong(0)
    val mem2 = MemoryStream[NewDoc]
    val q2 = StreamingQueries.bpeDriftWindows(mem2.toDF(), enc, wide, baseline)
      .writeStream.format("memory").queryName("bpedrift2")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem2.addData(NewDoc(1L, novel, ts("2024-01-01T05:00:00Z")))
      q2.processAllAvailable()
      val row = sp.table("bpedrift2").collect()
      assert(row.length == 1)
      assert(row(0).getLong(1) == 1L, "one word arrived")
      assert(row(0).getLong(2) == expected,
        s"cold-path encode must equal the dictionary replay ($expected)")
    } finally q2.stop()
  }

  test("mapGroupsWithState: custom running state per key across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Ev]
    val counted = mem.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + evs.size
          state.update(n)
          UserCount(uid, n)
      }
    val q = counted.toDF()
      .writeStream.format("memory").queryName("mgws").outputMode(OutputMode.Update())
      .start()
    try {
      mem.addData(batch1: _*) // user 1: 2 events, user 2: 1
      q.processAllAvailable()
      mem.addData(batch2: _*) // user 2: +1, user 1: +1
      q.processAllAvailable()
      val last = spark.table("mgws").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(last == Map(1L -> 3L, 2L -> 2L))
    } finally q.stop()
  }

  test("windowed KMV builder (q196): sketch merges across micro-batches, stream matches batch") {
    // Drives the ACTUAL q196 builder under MemoryStream. The second
    // window's users arrive split across TWO micro-batches with a
    // 20-user overlap, so the pass only succeeds if the KMV buffer
    // (a) merges across batch boundaries via the aggregator's merge
    // and (b) collapses duplicates seen in different batches. Window 0
    // pins the m<k exact arm (3 users), window 1 the estimator arm
    // (80 distinct > k=64).
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val w0 = (1 to 3).map(u => Ev(ts("2024-01-01T01:00:00Z"), u.toLong, 1.0))
    val w1a = (101 to 150).map(u => Ev(ts("2024-01-01T07:00:00Z"), u.toLong, 1.0))
    val w1b = (131 to 180).map(u => Ev(ts("2024-01-01T08:00:00Z"), u.toLong, 1.0))
    val mem = MemoryStream[Ev]
    val q = StreamingQueries.windowKmvDistinct(mem.toDF())
      .writeStream.format("memory").queryName("kmv196")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(w0 ++ w1a: _*)
      q.processAllAvailable()
      mem.addData(w1b: _*)
      q.processAllAvailable()
      def shape(df: org.apache.spark.sql.DataFrame) = df
        .select("window_start", "n_events", "k_used", "kmv_users")
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val streamed = shape(sp.table("kmv196"))
      val batch = shape(
        StreamingQueries.windowKmvDistinct((w0 ++ w1a ++ w1b).toDF()))
      assert(streamed == batch)
      val byW = streamed.map(t => t._1 -> t).toMap
      assert(byW(ts("2024-01-01T00:00:00Z"))._3 == 3L, "exact arm k_used")
      assert(byW(ts("2024-01-01T00:00:00Z"))._4 == 3L, "exact arm estimate")
      assert(byW(ts("2024-01-01T06:00:00Z"))._3 == 64L, "estimator arm k_used")
      assert(byW(ts("2024-01-01T06:00:00Z"))._4 > 0L)
    } finally q.stop()
  }

  test("q201 rate limiter: transformWithState stream matches the batch fold across batch splits") {
    // The token bucket's verdicts are SEQUENTIAL per user — this split
    // puts a burst's tail (the event that must be DROPPED because the
    // burst drained the credit) in the SECOND micro-batch, so the pass
    // requires the ValueState to carry (credit, last) across batch
    // boundaries with the exact integer arithmetic of the batch fold.
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import org.apache.spark.sql.streaming.TimeMode
    val prev = sp.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    sp.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = 1704067200L // 2024-01-01T00:00:00Z
      val ev1 = Seq(RateEv(1, t0, 1), RateEv(1, t0 + 100, 2), RateEv(2, t0, 3))
      val ev2 = Seq(RateEv(1, t0 + 200, 4), RateEv(1, t0 + 40000, 5),
        RateEv(2, t0 + 30000, 6))
      val mem = MemoryStream[RateEv]
      val out = mem.toDS().groupByKey(_.user_id)
        .transformWithState(new RateLimitProcessor, TimeMode.None(),
          OutputMode.Update())
      val q = out.toDF().writeStream.format("memory").queryName("rate201")
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(ev1: _*)
        q.processAllAvailable()
        mem.addData(ev2: _*)
        q.processAllAvailable()
        val streamed = sp.table("rate201").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
        val batchDf = (ev1 ++ ev2).toDF()
          .select(col("user_id"), col("s").cast("timestamp").as("ts"),
            col("e").as("event_id"))
        val batch = StreamingQueries.rateLimitCounts(batchDf).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        assert(streamed == batch)
        // burst A-A-D then refill-A: the drop lands mid-sequence
        assert(batch(1L) == ((4L, 3L, 1L)), batch)
        assert(batch(2L) == ((2L, 2L, 0L)), batch)
      } finally q.stop()
    } finally prev match {
      case Some(p) => sp.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => sp.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("q274 x q270: two compaction eras driven by the STREAM's tombstones compose to the union rebuild; an erased id stays dead across eras") {
    // r15 verdict item 5: q274 proves one interleaved stream with
    // restart, q270 proves compact∘compact ≡ rebuild(union) with BATCH
    // tombstone frames — this pin chains the two. Three waves: wave 1's
    // tombstones feed the era-1 compaction swap; wave 2's tombstones
    // (arriving strictly after that swap) compact the ERA-1 output;
    // wave 3 tries to re-admit an id erased in era 1. Pinned: the era-2
    // artifact is entry-identical to one rebuild from the UNION of the
    // stream's emitted tombstones (the q270 law, with the tombstone
    // frames taken from the stream's own output rather than planted
    // batch cohorts), and the late admission is suppressed by stream
    // state — the erased doc can re-enter neither the stream nor the
    // artifact.
    import graft.streaming.IngestEv
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // planted two-block postings artifact (stride 8192): docs 1/9/19 in
    // blk 0, docs 8193/8194/8202 in blk 1 — each era touches both blocks
    val post = Seq(
      ("alpha", 0L, Seq((1L, 2L), (9L, 1L), (19L, 3L))),
      ("alpha", 1L, Seq((8193L, 1L), (8202L, 2L))),
      ("beta", 0L, Seq((9L, 4L), (19L, 1L))),
      ("beta", 1L, Seq((8193L, 2L), (8194L, 5L))))
      .toDF("w", "blk", "p")
      .withColumn("posting",
        expr("transform(p, x -> struct(x._1 AS d, x._2 AS t))"))
      .select(col("w"), col("blk"), col("posting"))
      .localCheckpoint()
    def entries(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long)] =
      df.select(col("w"), col("blk"),
        explode(col("posting")).as("e"))
        .select(col("w"), col("blk"), col("e.d"), col("e.t"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
    val mem = MemoryStream[IngestEv]
    val q = StreamingQueries.interleavedIngest(mem.toDF())
      .writeStream.format("memory").queryName("era_chain")
      .outputMode(OutputMode.Append()).start()
    try {
      def erasedSoFar(): org.apache.spark.sql.DataFrame =
        sp.table("era_chain").filter(col("action") === "erase")
          .select(col("doc_id")).localCheckpoint()
      // wave 1: tombstones for 9 and 8193 (plus an unrelated admit)
      mem.addData(
        IngestEv(9L, "erase", 0L, ts("2024-01-01T10:00:00Z")),
        IngestEv(8193L, "erase", 0L, ts("2024-01-01T10:00:00Z")),
        IngestEv(50L, "admit", 5L, ts("2024-01-01T10:00:00Z")))
      q.processAllAvailable()
      val d1 = erasedSoFar()
      assert(d1.collect().map(_.getLong(0)).toSet == Set(9L, 8193L))
      // era-1 swap: compact the live artifact with the stream's wave-1
      // tombstones
      val era1 = operators.CorpusQueries.compactPostings(post, d1)
        .localCheckpoint()
      assert(!entries(era1).exists(e => e._3 == 9L || e._3 == 8193L))
      // wave 2, strictly after the swap: tombstones for 19 and 8194
      // (11:30 keeps the post-wave watermark at 10:30 — doc 9's erased
      // state, timeout 11:00, must still be alive when wave 3 probes it)
      mem.addData(
        IngestEv(19L, "erase", 0L, ts("2024-01-01T11:30:00Z")),
        IngestEv(8194L, "erase", 0L, ts("2024-01-01T11:30:00Z")))
      q.processAllAvailable()
      // rebuild d2 as a fresh local frame: except(d1) aliases d1's
      // attribute ids, and a later union of the two frames trips
      // Catalyst's union-constraint rewrite on the duplicate ids
      val d2ids = sp.table("era_chain").filter(col("action") === "erase")
        .select(col("doc_id")).except(d1)
        .collect().map(_.getLong(0)).toSet
      assert(d2ids == Set(19L, 8194L))
      val d2 = d2ids.toSeq.toDF("doc_id").localCheckpoint()
      // era 2 compacts the ERA-1 output; the q270 law: it must equal
      // ONE rebuild from the union tombstone set
      val era2 = operators.CorpusQueries.compactPostings(era1, d2)
      val union = operators.CorpusQueries.compactPostings(
        post, d1.unionByName(d2).localCheckpoint())
      assert(entries(era2) == entries(union))
      assert(entries(era2) == Set(
        ("alpha", 0L, 1L, 2L), ("alpha", 1L, 8202L, 2L)),
        "only docs 1 and 8202 survive both eras")
      // wave 3: a late admission of era-1-erased doc 9 — stream state
      // suppresses it (erase dominates in-horizon), so no path can
      // resurrect the doc into a post-swap artifact
      mem.addData(IngestEv(9L, "admit", 7L, ts("2024-01-01T12:30:00Z")))
      q.processAllAvailable()
      val nine = sp.table("era_chain").filter(col("doc_id") === 9L)
        .select(col("action")).collect().map(_.getString(0)).toSet
      assert(nine == Set("erase", "suppressed"), nine)
    } finally q.stop()
  }

  test("q280 stream: out-of-order arrival cannot flip the admit; stream ≡ batch; horizon trade") {
    import graft.streaming.{UrlEv, StreamingQueries}
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[UrlEv]
    val q = StreamingQueries.urlFrontier(mem.toDF())
      .writeStream.format("memory").queryName("url_frontier")
      .outputMode(OutputMode.Append()).start()
    try {
      // wave 1: doc 1 ARRIVES first but with the LATER event time;
      // doc 2 arrives second with the earlier time and must win; doc 3
      // is a singleton URL
      val w1 = Seq(
        UrlEv("http://a.com/x", 1L, ts("2024-01-01T10:00:30Z")),
        UrlEv("http://a.com/x", 2L, ts("2024-01-01T10:00:10Z")),
        UrlEv("http://b.com/y", 3L, ts("2024-01-01T10:00:00Z")))
      mem.addData(w1: _*)
      q.processAllAvailable()
      // quarantined: nothing decided before the horizon proves finality
      assert(sp.table("url_frontier").count() == 0)
      // watermark push to 11:30 — past both keys' horizon
      mem.addData(UrlEv("http://c.com/z", 9L, ts("2024-01-01T12:30:00Z")))
      q.processAllAvailable()
      val out = sp.table("url_frontier").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(out == Set(
        (2L, "admit", "http://a.com/x"),
        (1L, "dup", "http://a.com/x"),
        (3L, "admit", "http://b.com/y")), out)
      // batch arm on the same finite wave-1 events: identical verdicts
      val batch = StreamingQueries.urlFrontier(
        w1.map(e => (e.canon_url, e.doc_id, e.ts))
          .toDF("canon_url", "doc_id", "ts"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(batch == out)
      // documented horizon trade: a re-fetch a full horizon after the
      // key went quiet re-enters fresh (the DURABLE seen-set is the
      // q277 batch artifact) — doc 4 becomes a fresh admit once its
      // own horizon closes
      mem.addData(UrlEv("http://a.com/x", 4L, ts("2024-01-01T12:40:00Z")))
      q.processAllAvailable()
      mem.addData(UrlEv("http://d.com/w", 5L, ts("2024-01-01T15:00:00Z")))
      q.processAllAvailable()
      val late = sp.table("url_frontier")
        .filter(col("doc_id") === 4L).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(late == Set(("admit", "http://a.com/x")), late)
    } finally q.stop()
  }
}
