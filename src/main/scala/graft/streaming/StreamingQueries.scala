package graft.streaming

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** q274's event/state/output rows (top-level so the implicit product
  * encoders resolve for flatMapGroupsWithState in both modes). */
case class IngestEv(doc_id: Long, kind: String, dl: Long,
    ts: java.sql.Timestamp)
case class IngestState(erased: Boolean, pending: List[Long])
case class IngestOut(doc_id: Long, action: String, dl: Long)

/** q280's event/state/output rows (top-level for the same encoder
  * reason as [[IngestEv]]). State: the current winner (earliest
  * (event-time, doc_id) seen) plus every displaced arrival, held until
  * the horizon proves no earlier event can still arrive. */
case class UrlEv(canon_url: String, doc_id: Long, ts: java.sql.Timestamp)
case class UrlState(bestTs: Long, bestId: Long, others: List[Long])
case class UrlOut(doc_id: Long, action: String, canon_url: String)

/** Event-time windowing over the `events` stream table. The reference has
  * no streaming at all (finite-file input, SURVEY §1.1); this is the
  * Structured Streaming surface the Spark engine adds. Each builder below
  * is ONE function applied to either a batch DataFrame (driver correctness
  * gate, DuckDB oracle) or a `readStream` DataFrame (StreamingSpec runs the
  * same code through MemoryStream + watermarks) — batch/stream parity by
  * construction, which is exactly how Structured Streaming is meant to be
  * used.
  *
  * Scale: watermark + windowed aggregation keeps state bounded to open
  * windows per key; the tumbling/sliding aggs shuffle once on the window
  * key, session windows shuffle on (user, session) with Spark's built-in
  * session merge.
  */
object StreamingQueries extends QueryModule {

  /** Exact order-insensitive double sum (see RelationalQueries doc). */
  private def dsum(c: Column): Column =
    graft.operators.GovernanceQueries.dsum(c) // the one shared definition

  /** q201 token-bucket parameters: one event per 8 h sustained
    * (credit refills 1 s/s, an event costs 28800 s) with a 2-event
    * burst (cap 57600 s). Calibrated so both arms fire on the events
    * table (median per-user gap ~7.3 h). */
  val RateCostSec = 28800L
  val RateCapSec = 57600L

  /** Tumbling 1-hour event-time windows. Watermark is a no-op in batch. */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Sliding 2-hour windows advancing every hour (each event in 2). */
  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Content-fingerprint dedup: the first sighting of each fingerprint
    * survives; output is unique-document counts per language. The same
    * builder streams (dropDuplicates keeps per-fingerprint state across
    * micro-batches; bound it with dropDuplicatesWithinWatermark when the
    * dup horizon is time-limited) or runs in batch for the oracle gate.
    * Dedup is per (lang, fp), not global fp: if the same normalized text
    * ever appeared under two languages, a global dropDuplicates would
    * credit it to whichever language's row won the race — per-key dedup
    * is deterministic by construction and matches COUNT(DISTINCT fp)
    * GROUP BY lang exactly. */
  def dedupCounts(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        md5(lower(trim(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+", " ")))).as("fp"))
      .dropDuplicates("lang", "fp")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_unique"))

  /** Watermark-bounded ingestion dedup: keep the FIRST sighting of each
    * event_id, holding per-key state only while the key can still legally
    * recur — the missing piece between plain `dropDuplicates` (state
    * grows with every key ever seen: unbounded on an unbounded stream)
    * and no dedup at all. State for a key is evicted once the watermark
    * passes its first-seen event time + the 1-hour delay, so state size
    * is bounded by (arrival rate × horizon), NEVER stream length — the
    * only shape that survives an unbounded 100 TB/day ingestion feed.
    * The documented trade: a duplicate arriving AFTER its key's state
    * was evicted is re-admitted (StreamingSpec pins exactly that
    * suppress-then-readmit sequence); exact-forever dedup is the batch
    * tier (q33) or the bloom-front incremental tier (q129).
    * Spark REJECTS the WithinWatermark form on batch inputs outright
    * (unlike withWatermark, which batch ignores), so the builder
    * branches to plain dropDuplicates there — the exact batch
    * equivalent of the streaming semantics over a finite input, which
    * is what lets the same builder serve the oracle gate. */
  def dedupWithinWatermark(events: DataFrame): DataFrame = {
    val wm = events.withWatermark("ts", "1 hour")
    if (events.isStreaming) wm.dropDuplicatesWithinWatermark("event_id")
    else wm.dropDuplicates("event_id")
  }

  /** Stream-stream interval join: purchases within 1 hour AFTER a click
    * by the same user — the attribution-join shape. Watermarks on BOTH
    * sides are what make this viable on unbounded inputs: each side's
    * state store keeps only rows newer than (watermark - interval), so
    * state is bounded by the interval x arrival rate, never the stream
    * length. The join key is the user equi-key; the time bound is the
    * join's range predicate — at 100 TB this shuffles both sides once on
    * user_id and the per-user time filter runs inside the joined
    * partition (the batch form is exactly q27's range-join shape). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoin(clicks, purchases, "inner")

  /** The q147/q269 gate inputs, shared (r14 review). */
  private def clickPurchaseFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    (ev.filter(col("event_type") === "click")
       .select(col("user_id").as("c_user"), col("ts").as("c_ts")),
     ev.filter(col("event_type") === "purchase")
       .select(col("user_id").as("p_user"), col("ts").as("p_ts")))
  }

  /** ONE definition of the attribution interval join (r14 review: the
    * condition and watermarks existed twice) — the inner and outer
    * forms differ ONLY in join type, so the interval/watermark can
    * never fork between them. */
  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame =
    clicks.withWatermark("c_ts", "1 hour")
      .join(purchases.withWatermark("p_ts", "1 hour"),
        expr("c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"),
        joinType)
      .select(col("c_user").as("user_id"), col("c_ts"), col("p_ts"))

  /** q269's builder: the LEFT-OUTER form of [[clickPurchaseJoin]] — the
    * attribution query that must also report UNCONVERTED clicks. The
    * outer stream-stream join is the subtle primitive: a null-padded
    * row for an unmatched click can only be emitted once both
    * watermarks prove no matching purchase can still arrive (the
    * click has left the join-state window), so outer results trail
    * the inner join's by up to watermark + interval — the price of a
    * provably-FINAL null, which is exactly what an attribution
    * pipeline needs before it writes "unconverted" anywhere. Batch
    * run = a plain left outer interval join (watermarks are no-ops),
    * which equals the stream's post-watermark final table. */
  def clickPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoin(clicks, purchases, "left_outer")

  /** Stream-static enrichment: an unbounded event stream joined against a
    * bounded dimension, then windowed per enriched key. The static side
    * is re-read per micro-batch (Spark's stream-static contract) and
    * broadcast — the join is STATELESS, unlike stream-stream: no
    * watermark-bounded join state at all, which is why enrich-then-
    * aggregate is the preferred shape whenever one side is a dimension.
    * At 100 TB of stream: the only stateful operator is the windowed agg
    * (state = open windows x segments), and the broadcast is bounded by
    * the dimension table, never the stream. */
  def enrich(events: DataFrame, dims: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .join(broadcast(dims), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "6 hours"), col("segment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The shared 16-bin value-histogram geometry (q186 quantiles, q242
    * KS drift, and the q242 static baseline): bin = clamp(floor(value
    * / [[BinWidth]]), 0, [[NumBins]]-1), nulls dropped. The LOWER
    * clamp mirrors the upper one — without it a negative value fell
    * out of the engine's conditional bin counts entirely while the
    * oracle bucketed it at a negative bin (r14 review; latent on the
    * harness data, whose values are all ≥ 0). One definition for the
    * three engine derivation sites; the oracles carry the mirrored
    * LEAST/GREATEST form. */
  private[streaming] val NumBins = 16
  private[streaming] val BinWidth = 40
  private def withValueBin(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .withColumn("vb", least(lit(NumBins - 1),
        greatest(lit(0), floor(col("value") / BinWidth))).cast("int"))

  /** Streaming distribution-drift monitor (q172): per 6-hour event-time
    * window, the total-variation distance between the window's
    * event_type mix and a static baseline distribution — the
    * serving-vs-training distribution check of ML data validation
    * (Breck et al., "Data Validation for Machine Learning", TFX) run
    * where it belongs: on the ingestion stream, so a drifting feed
    * alerts within one window instead of at the next batch audit.
    * Streaming shape: the ONLY stateful operator is one windowed
    * aggregation (conditional per-type counts — a FIXED alphabet, so
    * one state row per open window, no per-type key explosion); the
    * baseline joins in stateless and broadcast, and the TV math is
    * row-local arithmetic after the window closes. Determinism: TV =
    * Σ|c_t·nb − cb_t·nw| / (2·nw·nb) is computed over exact
    * DECIMAL(38,0) cross products and lands on the half-up 1e-6
    * integer grid — no per-term float division exists to drift.
    * `baseline` must be one row of (cb_<type>..., nb). */
  def driftVsBaseline(events: DataFrame, baseline: DataFrame): DataFrame = {
    val aggs = eventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t"))
    // explicit alphabet guard (r14 review): the fixed per-type columns
    // only cover eventTypes, so rows OUTSIDE the alphabet must leave
    // the stream before nw/nb are formed — without this filter an
    // unknown type inflated the baseline's nb (count(*)) while
    // contributing to no c_t/cb_t column, skewing every TV term.
    // Mirrored by the oracle's WHERE event_type IN (...) clauses.
    val w = events.filter(col("event_type").isin(eventTypes: _*))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +:
        eventTypes.map(t => col(s"c_$t")): _*)
    val nwExpr = eventTypes.map(t => s"c_$t").mkString(" + ")
    val numExpr = eventTypes.map(t =>
      s"abs(CAST(c_$t AS DECIMAL(38,0)) * nb - CAST(cb_$t AS DECIMAL(38,0)) * nw)")
      .mkString(" + ")
    w.join(broadcast(baseline))
      .withColumn("nw", expr(nwExpr))
      .withColumn("tvm", expr(
        s"(2 * ($numExpr) * 1000000 + 2 * CAST(nw AS DECIMAL(38,0)) * nb) DIV " +
          "(4 * CAST(nw AS DECIMAL(38,0)) * nb)").cast("long"))
      .select(col("window_start"), col("nw").as("n_events"),
        (col("tvm").cast("double") / lit(1000000.0)).as("tv_drift"))
  }

  /** Hour-of-week seasonal baseline for [[seasonalAlerts]]: per
    * (how = epoch-hour mod 168, event_type) total count `t` and
    * observed-slot count `nh`, grid-restored (an absent (slot, type)
    * cell counts 0 toward the mean — q209's lesson) from a STATIC
    * history table. Always batch — a production monitor recomputes it
    * periodically and broadcasts it to the stream. */
  def seasonalBaseline(events: DataFrame): DataFrame = {
    val obs = events
      .select((unix_timestamp(col("ts")) / 3600L).cast("long").as("slot"),
        col("event_type"))
      .groupBy(col("slot"), col("event_type"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    obs.select(col("slot")).distinct()
      .crossJoin(broadcast(obs.select(col("event_type")).distinct()))
      .join(obs, Seq("slot", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("how", pmod(col("slot"), lit(168L)))
      .groupBy(col("how"), col("event_type"))
      .agg(sum(col("c")).cast("long").as("t"), count(lit(1)).as("nh"))
  }

  /** Streaming seasonal anomaly alerts (q218): hourly windowed counts
    * per type on the ingestion stream, each window scored LIVE against
    * the broadcast hour-of-week baseline — q209's audit moved onto the
    * q172 monitoring path. ONE stateful operator (the windowed
    * conditional-count agg: one constant-width state row per open
    * (window, type)); the baseline join, grid deviation and the x3
    * exceedance flag (integer cross-multiplications, both directions)
    * are all stateless after it. Absent windows cannot fire here — a
    * stream only sees rows that arrive; q209 remains the batch
    * absence-complete audit (alerting on silence needs a timer
    * source, not an aggregation). */
  def seasonalAlerts(events: DataFrame, baseline: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("obs"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("obs"))
      .withColumn("how",
        pmod((unix_timestamp(col("window_start")) / 3600L).cast("long"),
          lit(168L)))
      .join(broadcast(baseline), Seq("how", "event_type"))
      .withColumn("expected",
        expr("CAST((2 * CAST(t AS DECIMAL(38,0)) * 1000000 + nh) " +
          "DIV (2 * CAST(nh AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / lit(1000000.0))
      .withColumn("deviation",
        expr("CAST((2 * abs(CAST(obs AS DECIMAL(38,0)) * nh - t) * 1000000 " +
          "+ nh) DIV (2 * CAST(nh AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / lit(1000000.0))
      .withColumn("alert",
        col("obs") * col("nh") > col("t") * 3 ||
          col("obs") * col("nh") * 3 < col("t"))
      .select(col("window_start"), col("event_type"), col("obs"),
        col("expected"), col("deviation"), col("alert"))

  /** The one-row (cb_<type>…, nb) baseline frame for [[driftVsBaseline]]. */
  def typeBaseline(events: DataFrame): DataFrame = {
    val aggs = eventTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"cb_$t")) :+
      count(lit(1)).as("nb")
    events.filter(col("event_type").isin(eventTypes: _*))
      .groupBy().agg(aggs.head, aggs.tail: _*)
  }

  /** In-session funnel conversion (q185): per (user, session window),
    * whether a purchase happened AFTER the session's first click — the
    * q69 funnel question asked at session granularity, answered ON the
    * ingestion stream (a conversion alert fires when the session
    * closes, not at the next batch audit). Streaming shape: ONE
    * stateful operator — Spark's built-in session merge; the funnel is
    * two conditional aggregates inside that agg plus a row-local
    * compare after close, so state per (user, open session) is a
    * constant-width row regardless of session length. Null totality:
    * a session with no click (or no purchase) compares through
    * IS NOT NULL guards, never through three-valued null logic. */
  def sessionFunnel(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        max(when(col("event_type") === "purchase", col("ts"))).as("last_purchase"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"),
        (col("first_click").isNotNull && col("last_purchase").isNotNull &&
          col("last_purchase") > col("first_click")).as("converted"))

  /** Windowed histogram quantiles (q186): p50/p95/p99 lower bin edges
    * of `value` per 6-hour event-time window — the latency-SLO monitor
    * shape (alert when p99 crosses a threshold), built the only way a
    * quantile can be BOTH streaming-mergeable and engine-exact: a
    * fixed 16-bin histogram (bin width 40) as conditional-count
    * columns in one windowed aggregate — one constant-width state row
    * per open window, the q172 discipline — then the quantile is a
    * row-local fold over the closed histogram (the q133 lower-edge
    * rule: first bin where the running count reaches ceil(q·n)). No
    * sort, no percentile sketch with opaque state, no float division:
    * the estimate is a bin EDGE, exact on both engines by
    * construction. */
  def windowValueQuantiles(events: DataFrame): DataFrame = {
    val bins = 0 until 16
    val aggs = bins.map(b =>
      sum(when(col("vb") === b, 1L).otherwise(0L)).as(s"c_$b"))
    val w = withValueBin(events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(aggs.head, aggs.tail: _*)
    val arr = bins.map(b => s"named_struct('b', $b, 'cnt', c_$b)")
      .mkString("array(", ", ", ")")
    def loAt(q: String) = expr(
      s"""aggregate($arr, named_struct('c', CAST(0 AS BIGINT), 'b', -1),
         |  (acc, x) -> IF(acc.b >= 0, acc,
         |    named_struct('c', acc.c + x.cnt,
         |      'b', IF(acc.c + x.cnt >= ceil($q * n_events), x.b, -1))),
         |  acc -> acc.b * 40)""".stripMargin)
    w.withColumn("n_events", expr(bins.map(b => s"c_$b").mkString(" + ")))
      .select(col("window.start").as("window_start"), col("n_events"),
        loAt("0.5").as("p50_lo"), loAt("0.95").as("p95_lo"),
        loAt("0.99").as("p99_lo"))
  }

  /** Streaming windowed KMV distinct (q196): approximate distinct
    * users per 6-hour event-time window ON the ingestion stream — the
    * cardinality monitor (bot surges, dedup-rate cliffs) built the
    * only way distinct counting can stream: exact distinct is
    * unsupported (and state-unbounded) inside a streaming aggregate,
    * while the q178 KMV bottom-k buffer is a CONSTANT 64 longs per
    * open window and its `merge` is exactly the cross-micro-batch
    * state update — one stateful operator, constant-width state, the
    * q172 discipline. The estimate ((k−1)·2^64 / h_(k), m<k exact
    * fallback) is row-local integer arithmetic after the window
    * closes, and unlike HLL++ the closed-window sketch state is
    * re-derivable by an external engine, so the streaming op keeps a
    * full row-level oracle. */
  def windowKmvDistinct(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession) // fnv64
    val kmv = udaf(new graft.functions.KmvAggregator.KMinLongs(64),
      org.apache.spark.sql.Encoders.scalaLong)
    events.withColumn("h", expr("fnv64(CAST(user_id AS STRING))"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"), kmv(col("h")).as("vs"))
      .withColumn("m", size(col("vs")))
      .withColumn("uk", expr(
        "CAST(try_element_at(vs, 64) AS DECIMAL(38,0)) + " +
          "IF(try_element_at(vs, 64) < 0, " +
          "CAST('18446744073709551616' AS DECIMAL(38,0)), " +
          "CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("kmv_users", expr(
        "CASE WHEN m < 64 THEN CAST(m AS BIGINT) " +
          "ELSE CAST('1162144876643701751808' AS DECIMAL(38,0)) DIV uk END"))
      .select(col("window.start").as("window_start"), col("n_events"),
        col("m").cast("long").as("k_used"), col("kmv_users"))
  }

  /** Per-user token-bucket rate limiting (q201), batch arm: the
    * admission-control primitive of an ingestion pipeline (throttle a
    * runaway producer BEFORE it floods the corpus), with genuinely
    * SEQUENTIAL per-key semantics — each event's verdict depends on
    * every prior event's — expressed the two ways Spark can: here as a
    * per-user ordered fold (sort_array + one aggregate() pass, all
    * integer-seconds arithmetic), and on the stream as
    * [[RateLimitProcessor]] (transformWithState, constant-width
    * ValueState per user; StreamingSpec pins stream == batch across
    * micro-batch splits). State shape: the fold carries (credit, last
    * ts, allowed) — the collect_list is bounded by a user's events in
    * the audited horizon (a production run audits per day/window; the
    * STREAMING arm never materializes the list at all). Ties on ts
    * break by event_id, so the fold is total. */
  def rateLimitCounts(events: DataFrame): DataFrame = {
    val (cap, cost) = (RateCapSec, RateCostSec)
    // c1 = refilled credit at event time (cap-clamped); repeated
    // inline because a SQL lambda cannot bind a local
    val c1 = s"LEAST($cap, a.credit + IF(a.last < 0, CAST(0 AS BIGINT), " +
      "x.s - a.last))"
    events
      .select(col("user_id"), col("ts").cast("long").as("s"),
        col("event_id").as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("evs"))
      .withColumn("res", expr(
        s"""aggregate(evs,
           |  struct(CAST($cap AS BIGINT) AS credit,
           |         CAST(-1 AS BIGINT) AS last, CAST(0 AS BIGINT) AS allowed),
           |  (a, x) -> struct(
           |    IF($c1 >= $cost, $c1 - $cost, $c1) AS credit,
           |    x.s AS last,
           |    a.allowed + IF($c1 >= $cost, CAST(1 AS BIGINT),
           |      CAST(0 AS BIGINT)) AS allowed),
           |  a -> a.allowed)""".stripMargin))
      .select(col("user_id"), size(col("evs")).cast("long").as("n_events"),
        col("res").as("n_allowed"),
        (size(col("evs")).cast("long") - col("res")).as("n_dropped"))
  }

  /** Per-user session windows with a 6-hour inactivity gap. */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_stream_tumbling" -> ((s, dir) =>
      tumbling(Tables.events(s, dir)).orderBy(col("window_start"))),
    "q51_stream_sliding" -> ((s, dir) =>
      sliding(Tables.events(s, dir)).orderBy(col("window_start"))),
    "q52_stream_session" -> ((s, dir) =>
      sessions(Tables.events(s, dir)).orderBy(col("user_id"), col("session_start"))),

    // --- streaming dedup in the correctness gate (batch parity; the
    // cross-micro-batch state run is in StreamingSpec). The corpus is
    // doubled so the dedup provably drops rows.
    "q64_stream_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"), col("text"))
      dedupCounts(d.unionByName(d)).orderBy(col("lang"))
    }),

    // --- stream-stream interval join in the correctness gate (batch
    // parity; the two-MemoryStream watermarked run is in StreamingSpec):
    // click -> purchase attribution within 1 hour, aggregated to exact
    // per-user pair counts and min/max lead times in integral micros.
    "q147_stream_interval_join" -> ((s, dir) => {
      val (clicks, purchases) = clickPurchaseFrames(s, dir)
      clickPurchaseJoin(clicks, purchases)
        .select(col("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lead_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("lead_us")).as("min_lead_us"),
          max(col("lead_us")).as("max_lead_us"))
        .orderBy(col("user_id"))
    }),

    // --- flatMapGroupsWithState in the correctness gate: one alert row
    // per 100-unit threshold the user's value total crosses (zero or more
    // rows per group — the iterator-output stateful API). Values sum as
    // DECIMAL(38,6) (each value rounded to 6 dp first, matching DuckDB's
    // SUM(CAST ... AS DECIMAL(38,6))) so the threshold count is exact and
    // order-independent on both engines. Batch run = single "micro-batch"
    // with empty initial state; StreamingSpec exercises the same API
    // across real incremental batches.
    "q58_stateful_alerts" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      // null guard (r14 review): the tuple Encoder's primitive fields
      // throw on a null user_id/value; drop such rows instead, which
      // is also what the oracle's SUM/GROUP BY semantics do after its
      // mirrored WHERE.
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
          (uid: Long, it: Iterator[(Long, Double)], state: GroupState[Long]) => {
            var total = java.math.BigDecimal.ZERO
            it.foreach { case (_, v) =>
              total = total.add(new java.math.BigDecimal(v)
                .setScale(6, java.math.RoundingMode.HALF_UP))
            }
            val n = total
              .divideToIntegralValue(new java.math.BigDecimal(100)).longValueExact()
            (1L to n).map(k => (uid, k * 100L)).iterator
          })
        .toDF("user_id", "crossed")
        .orderBy(col("user_id"), col("crossed"))
    }),

    // --- stream-static enrichment in the correctness gate (batch parity;
    // the MemoryStream-against-static run is in StreamingSpec): events
    // enriched with the customer market segment, aggregated into 6-hour
    // tumbling windows per segment. Window starts align to the unix
    // epoch (Spark's window() default), which the oracle replicates with
    // integer micros arithmetic rather than date_trunc.
    "q154_stream_enrich" -> ((s, dir) => {
      val dims = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      enrich(Tables.events(s, dir), dims)
        .orderBy(col("window_start"), col("segment"))
    }),

    // --- watermark-bounded dedup in the correctness gate (batch parity;
    // the eviction/re-admit state machine is pinned in StreamingSpec):
    // the stream is doubled with a +10min-jittered copy of every event,
    // dedup keeps one row per event_id, and the downstream aggregate
    // reads only dup-invariant columns (user_id, value) so WHICH copy
    // survived — arbitrary in batch dropDuplicates — cannot reach the
    // output. Oracle = plain aggregates over the original events.
    "q162_stream_dedup_watermark" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val doubled = ev.unionAll(
        ev.withColumn("ts", col("ts") + expr("INTERVAL 10 MINUTES")))
      dedupWithinWatermark(doubled)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"))
    }),

    // --- streaming prefix-filtered ingestion dedup (q168): q161's
    // flagship set-similarity join on the q162 ingestion path. The
    // delta batch is every 10th document trimmed of its last 5 tokens
    // (a near-dup of its original) arriving as a stream; each arrival
    // is probed against the STATIC corpus prefix index via the
    // one-sided prefix filter (see [[LlmQueries.prefixProbePairs]]:
    // probe explodes its full key set — per-row map work, legal on an
    // unbounded stream — completeness carried entirely by the indexed
    // side). Batch parity: the same builder runs here over a batch
    // delta; the MemoryStream run with per-batch arrival and
    // watermark-bounded output dedup is in StreamingSpec. The oracle is
    // the BRUTE-FORCE delta x corpus Jaccard truth — legitimate as a
    // full-strength gate because the one-sided filter is complete and
    // the verify exact, so the operator's output IS the brute-force
    // answer.
    "q168_stream_prefix_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 10 === 7)
        .withColumn("tk", expr(graft.operators.LlmQueries.toksSql))
        .select((col("doc_id") + 20000).as("doc_id"),
          expr("array_join(slice(tk, 1, greatest(size(tk) - 5, 1)), ' ')")
            .as("text"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      prefixProbeDedup(s, delta, d)
        .orderBy(col("new_id"), col("doc_id"))
        .select(col("new_id"), col("doc_id"), col("n_shared"), col("jac"))
    }),

    // --- streaming drift monitor in the correctness gate (batch
    // parity; the MemoryStream watermarked run is in StreamingSpec).
    // Baseline = the static table's own global event_type mix, the
    // bootstrap a production monitor starts from; each window's TV
    // distance against it is then a pure measure of that window's mix
    // skew.
    "q172_stream_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      driftVsBaseline(ev, typeBaseline(ev))
        .orderBy(col("window_start"))
    }),

    "q185_stream_session_funnel" -> ((s, dir) =>
      sessionFunnel(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start"))),

    "q186_stream_value_quantiles" -> ((s, dir) =>
      windowValueQuantiles(Tables.events(s, dir))
        .orderBy(col("window_start"))),

    "q196_stream_kmv_users" -> ((s, dir) =>
      windowKmvDistinct(Tables.events(s, dir))
        .orderBy(col("window_start"))),

    "q201_rate_limit" -> ((s, dir) =>
      rateLimitCounts(Tables.events(s, dir))
        .orderBy(col("user_id"))),

    // --- seasonal alerting in the correctness gate (batch parity; the
    // MemoryStream watermarked run is in StreamingSpec). Baseline = the
    // static table's own hour-of-week profile, as a production monitor
    // bootstraps from history.
    "q218_stream_seasonal_alert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      seasonalAlerts(ev, seasonalBaseline(ev))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // --- streaming KS drift monitor (q242): the q241 statistic ON the
    // stream — per 6h window, the two-sample Kolmogorov-Smirnov max
    // between the window's VALUE distribution and a broadcast static
    // baseline CDF, over q186's fixed 16-bin histogram. Shape-sensitive
    // where q172's TVD-on-categories is not: a value-distribution
    // SHIFT concentrates in one cumulative gap KS sees at full
    // strength. State per open window = 16 conditional-count columns
    // (the q186 discipline — constant width, mergeable across
    // micro-batches); the CDF fold, cross-multiplied max, and half-up
    // ppm all run row-locally AFTER the window closes. Batch parity
    // here; the MemoryStream run is in StreamingSpec.
    "q242_stream_ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      windowKsDrift(ev, valueBaseline(ev))
        .orderBy(col("window_start"))
    }),

    // --- streaming vector admission (q247): q245's frozen-index
    // SemDeDup admission ON the ingestion stream — the vector-space
    // analogue of q168. Each arriving embedding is assigned to its
    // frozen cell by a per-row fold (stateless — see [[vectorAdmission]])
    // and verified against indexed members via one stream-static join;
    // the output is the match list a sink folds into keep/prune
    // decisions. Batch-internal near-dups are deliberately OUT of the
    // streaming contract (they'd need unbounded cross-stream state);
    // a production pipeline folds admitted vectors into the index on
    // the rebuild schedule, exactly like q168's corpus index era.
    // Batch parity here (same builder over the q245 delta); the
    // MemoryStream run with two arrival waves is in StreamingSpec. The
    // oracle replays training + assignment + pair scoring (the shared
    // q245 CTE chain).
    "q247_stream_vector_admission" -> ((s, dir) => {
      val (cells, members) = graft.operators.LlmQueries.semIndex(s, dir)
      val delta = graft.operators.LlmQueries.admissionDelta(s, dir)
        .withColumn("ts",
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      vectorAdmission(s, delta, cells, members)
        .select(col("vec_id"), col("cell"), col("mbr"), col("score"))
        .orderBy(col("vec_id"), col("mbr"))
    }),

    // --- streaming BPE drift monitor (q255): q252's frozen-merge-table
    // drift audit moved to WHERE it alerts first — the ingestion
    // stream. Per 1-hour event-time window of arriving docs: word
    // count, BPE token count under the FROZEN q243 merges, fertility
    // (half-up micro grid), and drift = fertility − the frozen
    // training-corpus baseline — a domain shift in the feed reads as a
    // sustained positive drift within one window (q242's discipline
    // over the q244 encode). Arrival time is doc_id minutes past a
    // fixed epoch (deterministic stand-in for ingestion time). Batch
    // parity here; the MemoryStream run (two waves + a vocabulary-miss
    // word driving the cold path) is in StreamingSpec.
    "q255_stream_bpe_drift" -> ((s, dir) => {
      import graft.operators.CorpusQueries
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          expr("timestampadd(MINUTE, CAST(doc_id AS INT), " +
            "TIMESTAMP'2024-01-01 00:00:00')").as("ts"))
      // the encoded vocabulary is the memoized "bpe_vocab" stage; the
      // lookup cache and the corpus-fertility baseline both derive
      // from the one materialized frame
      val enc0 = CorpusQueries.bpeEncodedVocab(s, dir)
      val enc = enc0.select(col("word"), col("n_sym"))
      val baseline = enc0
        .agg(sum(col("freq")).cast("long").as("bw"),
          sum(col("n_sym") * col("freq")).cast("long").as("bb"))
        .select(expr(graft.operators.GovernanceQueries.gridDiv("bb", "bw")).as("base_micro"))
      bpeDriftWindows(docs, enc,
          CorpusQueries.bpeWideMerges(s, dir), baseline)
        .orderBy(col("window_start"))
    }),

    // --- streaming tombstone ledger (q263): the ERASURE side's
    // streaming column, completing the lifecycle × streaming matrix
    // (admission streams via q247/q168/q255; deletion feeds — RTBF
    // requests — are just as much a stream in production). Each
    // arriving tombstone is joined against the STORED index artifacts
    // to emit its per-doc maintenance record: the doc's stored length
    // (the dl/tot un-fold the q256 algebra applies), the number of
    // posting rows it must be erased from, and the block its entries
    // live in (segment routing for the q257 compactor). Stateless by
    // construction — two stream-static equi-joins on doc_id against
    // artifact-derived frames, no stream-side aggregation; the only
    // stateful operator in streaming mode is the watermark-bounded
    // output dedup keyed by doc_id (exactly-once across micro-batch
    // replays, the q162/q168 discipline). Batch parity here (the q256
    // deletion set with a fixed ts); the MemoryStream two-wave run is
    // in StreamingSpec. The oracle re-derives each doc's length, term
    // count, and block from the corpus directly.
    "q263_stream_tombstone_ledger" -> ((s, dir) => {
      import graft.operators.CorpusQueries
      val dels = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 9)
        .select(col("doc_id"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      tombstoneLedger(s, dels, CorpusQueries.bm25Postings(s, dir),
          CorpusQueries.bm25DocLens(s, dir))
        .select(col("doc_id"), col("dl_removed"), col("n_posting_rows"),
          col("blk"))
        .orderBy(col("doc_id"))
    }),

    // --- streaming SEMANTIC-index tombstone router (q267): q263's
    // vector analogue, completing the lifecycle × streaming matrix for
    // BOTH index families (r13 verdict item 5) — vector RTBF requests
    // are a stream too, and each arriving tombstone must resolve to a
    // touched-cell routing record for the q259 compactor (which cell
    // to rewrite, and how many members that rewrite touches). Same
    // shape as q263 by construction: stream-static equi-joins against
    // the stored members artifact and its index-era cell census (both
    // localCheckpointed static sides), zero stream-side aggregation;
    // the only stateful operator is the watermark-bounded output dedup
    // on vec_id (exactly-once across micro-batch replays — the
    // StreamingSpec two-wave run proves it). A tombstone for a vector
    // the index never held emits nothing. Batch parity here (the q259
    // erasure cohort with a fixed ts); the oracle re-derives residency
    // and cell census from its own assignment chain.
    "q267_stream_sem_tombstone" -> ((s, dir) => {
      import graft.operators.LlmQueries
      val dels = LlmQueries.vecTable(s, dir)
        .filter(col("vec_id") % 5 === 2)
        .select(col("vec_id"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      semTombstoneLedger(dels, LlmQueries.semIndex(s, dir)._2)
        .select(col("vec_id"), col("cell"), col("n_cell_members"))
        .orderBy(col("vec_id"))
    }),

    // --- stream-stream LEFT OUTER interval join (q269): q147's
    // attribution join with the unconverted side reported — per user,
    // how many click→purchase pairs attribute within the hour AND how
    // many clicks provably never convert. In streaming the null
    // padding is watermark-gated (see [[clickPurchaseOuter]]); the
    // batch gate compares the final table. An unmatched click
    // contributes exactly one null-purchase row, so n_unconverted is
    // a plain conditional count over the join output.
    "q269_stream_outer_attribution" -> ((s, dir) => {
      val (clicks, purchases) = clickPurchaseFrames(s, dir)
      clickPurchaseOuter(clicks, purchases)
        .groupBy(col("user_id"))
        .agg(count(col("p_ts")).as("n_attr_pairs"),
          sum(when(col("p_ts").isNull, 1L).otherwise(0L))
            .as("n_unconverted"))
        .orderBy(col("user_id"))
    }),

    // --- INTERLEAVED admission + erasure in ONE stream (q274; r14
    // verdict item 5): q168/q247 admit and q263/q267 erase on separate
    // feeds, but a real ingestion stream carries BOTH event kinds, and
    // the contract only a unified operator can state is cross-kind
    // ordering: within the quarantine horizon ERASE DOMINATES
    // regardless of arrival order — in particular, a tombstone
    // arriving BEFORE its doc's admission must not let the later
    // admission resurrect the doc. See [[interleavedIngest]]. The gate
    // runs the batch arm over a deterministic interleave (the ≡3 mod 7
    // admission cohort × the ≡9 mod 10 RTBF cohort — the overlap ids
    // are genuine suppressions); StreamingSpec drives the
    // flatMapGroupsWithState arm through a two-wave MemoryStream whose
    // second wave carries both kinds, and pins stream ≡ batch.
    "q274_stream_interleaved_lifecycle" -> ((s, dir) => {
      val t0 = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      val docs = Tables.documents(s, dir)
      val admits = docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), lit("admit").as("kind"),
          size(expr(graft.operators.LlmQueries.toksSql)).cast("long")
            .as("dl"),
          t0.as("ts"))
      val erases = docs.filter(col("doc_id") % 10 === 9)
        .select(col("doc_id"), lit("erase").as("kind"), lit(0L).as("dl"),
          t0.as("ts"))
      interleavedIngest(admits.unionByName(erases))
        .orderBy(col("doc_id"), col("action"))
    }),

    // --- streaming URL frontier (q280): the crawl-side twin of the
    // q277 batch dedup — a "URL already seen?" admission filter over a
    // live fetch stream, keyed by the SAME canonicalizer. Winner per
    // canonical URL is the earliest (event-time, doc_id), decided only
    // when the watermark proves no earlier fetch can still arrive —
    // out-of-order arrival order can never flip the verdict. The gate
    // runs the batch arm over the synthesized corpus with a
    // deterministic fetch-time skew ((doc_id*7) mod 11 seconds, so the
    // event-time winner routinely differs from the min-doc_id winner
    // q277 keeps); StreamingSpec drives the flatMapGroupsWithState arm
    // and pins stream ≡ batch plus the documented horizon trade.
    "q280_stream_url_frontier" -> ((s, dir) => {
      val raw = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr(graft.operators.IngestQueries.RawUrlSql).as("url"),
          expr("timestampadd(SECOND, CAST((doc_id * 7) % 11 AS INT), " +
            "timestamp'2024-01-01 00:00:00')").as("ts"))
      // spread before the canonicalizer (r16, the q281/q282 shape):
      // the regexp chain ran in the single-file scan task, and the batch
      // arm consumes the canonical frame twice (winner agg + scoring
      // join) — spread it once; scan-split-gated (r17).
      urlFrontier(graft.operators.IngestQueries.canonicalized(
        graft.operators.Gates.spreadScan(raw))
        .select(col("canon_url"), col("doc_id"), col("ts")))
        .orderBy(col("doc_id"))
    })
  )

  /** q280's builder over a (canon_url, doc_id, ts) event frame — batch
    * OR streaming.
    *
    * Contract: per canonical URL the single 'admit' goes to the
    * earliest (event-time, doc_id) arrival; every other fetch of the
    * same canonical URL is 'dup'. In the streaming arm the verdict is
    * emitted only once the event-time watermark passes the key's
    * newest event + the 1-hour horizon — until then every arrival is
    * quarantined, so a LATER-arriving fetch with an EARLIER event time
    * still wins (StreamingSpec pins exactly that geometry). State per
    * key is the winner plus displaced arrivals since the last
    * decision, bounded by arrival-rate × horizon, and the event-time
    * timeout evicts it. Documented horizon trade (the q274 /
    * dropDuplicatesWithinWatermark precedent): a re-fetch more than a
    * horizon after the key went quiet re-enters fresh — the DURABLE
    * seen-set is the q277 batch artifact this stream feeds.
    *
    * Batch arm: the same verdict relationally — a skew-safe
    * min-of-struct aggregate picks each URL's winner (partial-agged
    * map-side, so a hot URL never funnels one task: the q120
    * first-occurrence shape), then one equi-join scores every row.
    * No window: row_number over a hot canonical URL would sort that
    * URL's full fetch history inside one partition. A finite input is
    * one horizon's fixpoint, which is exactly the streaming result. */
  def urlFrontier(ev: DataFrame): DataFrame = {
    val sess = ev.sparkSession
    import sess.implicits._
    if (ev.isStreaming) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      ev.withWatermark("ts", "1 hour")
        .as[UrlEv]
        .groupByKey(_.canon_url)
        .flatMapGroupsWithState[UrlState, UrlOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (url, evs, state) =>
            if (state.hasTimedOut) {
              // no event within a horizon of the newest seen, so the
              // watermark proves no EARLIER event can still arrive:
              // the quarantined winner is final
              val st = state.get
              state.remove()
              (UrlOut(st.bestId, "admit", url) ::
                st.others.map(UrlOut(_, "dup", url))).iterator
            } else {
              var st = state.getOption.orNull
              var maxTs = Long.MinValue
              evs.foreach { e =>
                val t = e.ts.getTime
                maxTs = math.max(maxTs, t)
                st =
                  if (st == null) UrlState(t, e.doc_id, Nil)
                  else if (t < st.bestTs ||
                    (t == st.bestTs && e.doc_id < st.bestId))
                    UrlState(t, e.doc_id, st.bestId :: st.others)
                  else UrlState(st.bestTs, st.bestId, e.doc_id :: st.others)
              }
              state.update(st)
              state.setTimeoutTimestamp(maxTs + 3600L * 1000L)
              Iterator.empty
            }
        }.toDF()
    } else {
      val win = ev.groupBy(col("canon_url"))
        .agg(min(struct(col("ts"), col("doc_id"))).as("w"))
        .select(col("canon_url"), col("w.doc_id").as("win_doc"))
      ev.join(win, Seq("canon_url"))
        .select(col("doc_id"),
          when(col("doc_id") === col("win_doc"), lit("admit"))
            .otherwise(lit("dup")).as("action"),
          col("canon_url"))
    }
  }

  /** q274's builder over a unified (doc_id, kind ∈ admit|erase, dl, ts)
    * event frame — batch OR streaming.
    *
    * Contract: within the 1-hour quarantine horizon, erase dominates
    * admission REGARDLESS of arrival order. Output rows are
    * (doc_id, action, dl) with action ∈ {admit, suppressed, erase}:
    * one 'erase' per tombstoned id, 'suppressed' for every admission
    * killed by a tombstone, 'admit' only for admissions the horizon
    * proves clean.
    *
    * Streaming arm: flatMapGroupsWithState keyed by doc_id with an
    * EVENT-TIME timeout — tombstones emit their 'erase' immediately
    * (once; the erased flag dedups replays of the logical kind),
    * admissions QUARANTINE in state and emit 'admit' only when the
    * watermark passes their event time + horizon, proving no
    * in-horizon tombstone can still arrive; a tombstone reaching a
    * quarantined admission (either order) flips it to 'suppressed' at
    * once. State per key is O(pending admissions) and the timeout
    * evicts it, so state is bounded by arrival-rate × horizon — never
    * stream length. Documented horizon trade (the
    * dropDuplicatesWithinWatermark precedent): a tombstone more than
    * one horizon AFTER an admission no longer suppresses it — by then
    * the admission is admitted and the erasure flows through the q263
    * ledger/compactor path like any post-admission RTBF.
    *
    * Batch arm: the same final table relationally — admissions
    * anti-join tombstones ('admit'), semi-join ('suppressed'),
    * distinct tombstones ('erase'); all events of a finite input are
    * within one horizon, which is exactly the streaming fixpoint.
    * StreamingSpec pins stream ≡ batch on an interleaved two-wave
    * geometry including the tombstone-before-admit resurrection case. */
  def interleavedIngest(ev: DataFrame): DataFrame = {
    val sess = ev.sparkSession
    import sess.implicits._
    if (ev.isStreaming) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      ev.withWatermark("ts", "1 hour")
        .select(col("doc_id"), col("kind"), col("dl"), col("ts"))
        .as[IngestEv]
        .groupByKey(_.doc_id)
        .flatMapGroupsWithState[IngestState, IngestOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (id, evs, state) =>
            if (state.hasTimedOut) {
              // watermark passed every pending admission's ts + horizon
              // with no tombstone seen: they are provably clean
              val pend = state.get.pending
              state.remove()
              pend.map(dl => IngestOut(id, "admit", dl)).iterator
            } else {
              val st = state.getOption.getOrElse(IngestState(false, Nil))
              var erased = st.erased
              var pending = st.pending
              var maxTs = Long.MinValue
              val out = List.newBuilder[IngestOut]
              evs.foreach { e =>
                maxTs = math.max(maxTs, e.ts.getTime)
                if (e.kind == "erase") {
                  if (!erased) { erased = true; out += IngestOut(id, "erase", 0L) }
                  pending.foreach(dl => out += IngestOut(id, "suppressed", dl))
                  pending = Nil
                } else {
                  if (erased) out += IngestOut(id, "suppressed", e.dl)
                  else pending = pending :+ e.dl
                }
              }
              state.update(IngestState(erased, pending))
              // hold the key (pending admissions OR the erased flag)
              // for one horizon past its newest event
              state.setTimeoutTimestamp(maxTs + 3600L * 1000L)
              out.result().iterator
            }
        }.toDF()
    } else {
      val er = ev.filter(col("kind") === "erase")
        .select(col("doc_id")).distinct()
        .localCheckpoint() // three consumers below + the gate probe
      // size-gated ([[graft.operators.Gates.batchHint]]): the
      // gate corpus's tombstone arm is the cohort-scale RTBF slice,
      // which grows with the corpus — the exact ungated-broadcast
      // class the r15 ×100 probe flagged
      val erH = graft.operators.Gates.batchHint(er)
      val ad = ev.filter(col("kind") === "admit")
      ad.join(erH, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("admit").as("action"), col("dl"))
        .unionByName(ad.join(erH, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), lit("suppressed").as("action"), col("dl")))
        .unionByName(er.select(col("doc_id"), lit("erase").as("action"),
          lit(0L).as("dl")))
    }
  }

  /** q263's builder: join a (doc_id, ts) tombstone frame — batch OR
    * streaming — against the stored BM25 artifacts to emit per-doc
    * erase records. The per-doc touch census (how many posting rows
    * hold the doc, and in which block) derives from the MEMOIZED
    * postings artifact and is localCheckpointed per builder call so a
    * streaming run's micro-batches never re-derive it (per index era
    * a production job would persist it durably; here the derivation
    * is one explode + partial-agg over the already-materialized
    * postings frame); the stream side is pure join work. A tombstone for a doc the
    * index never held emits nothing (inner joins) — the sink's signal
    * that the request needs no index maintenance. */
  def tombstoneLedger(s: SparkSession, dels: DataFrame,
      postings: DataFrame, doclen: DataFrame): DataFrame = {
    val touch = postings
      .select(col("blk"), explode(col("posting")).as("e"))
      .select(col("blk"), col("e.d").as("doc_id"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(count(lit(1)).as("n_posting_rows"))
      .localCheckpoint() // the index era's static census
    val recs = dels
      .join(touch, Seq("doc_id"))
      .join(doclen.withColumnRenamed("dl", "dl_removed"), Seq("doc_id"))
      .select(col("doc_id"), col("dl_removed"), col("n_posting_rows"),
        col("blk"), col("ts"))
    if (dels.isStreaming)
      recs.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("doc_id")
    else recs
  }

  /** q267's builder: join a (vec_id, ts) tombstone frame — batch OR
    * streaming — against the stored sem-index members artifact to emit
    * per-vector touched-cell routing records for the q259 compactor:
    * the vector's stored cell residency and that cell's member count
    * (the rewrite cost the compactor pays). Both static sides are
    * cheap projections/aggs of the MEMOIZED members artifact,
    * localCheckpointed per builder call so streaming micro-batches
    * reuse them; the stream side is pure join work, dedup'd on vec_id
    * within the watermark. */
  def semTombstoneLedger(dels: DataFrame, members: DataFrame): DataFrame = {
    val res = members.select(col("vec_id"), col("cell"))
      .localCheckpoint() // the index era's residency lookup
    val census = res.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cell_members"))
      .localCheckpoint() // the index era's cell census
    val recs = dels
      .join(res, Seq("vec_id"))
      .join(broadcast(census), Seq("cell")) // cells ~ √n rows
      .select(col("vec_id"), col("cell"), col("n_cell_members"), col("ts"))
    if (dels.isStreaming)
      recs.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("vec_id")
    else recs
  }

  /** q242's static baseline: the 16-bin value histogram of the full
    * table as ONE row of cumulative counts (grid restored — absent
    * bins hold their running value, the q209 lesson) + the total. */
  def valueBaseline(events: DataFrame): DataFrame =
    withValueBin(events)
      .groupBy(col("vb")).agg(count(lit(1)).as("c"))
      .agg(expr("map_from_entries(collect_list(struct(vb, c)))").as("m"))
      .withColumn("bvals", expr(
        "transform(sequence(0, 15), b -> coalesce(element_at(m, b), 0L))"))
      .withColumn("bcum", expr(
        "transform(sequence(0, 15), i -> " +
          "aggregate(slice(bvals, 1, i + 1), 0L, (a, x) -> a + x))"))
      .withColumn("nb", expr("element_at(bcum, 16)"))
      .select(col("bcum"), col("nb"))

  /** q242's engine: windowed 16-bin conditional counts (constant-width
    * state, q186's shape), then a row-local fold computing
    * D = max_b |cumW(b)·nb − bcum(b)·nW| — the aggregate()'s struct
    * accumulator carries the running window CDF so the 16-step fold
    * binds each cumulative once; ks on the half-up ppm grid. */
  def windowKsDrift(events: DataFrame, baseline: DataFrame): DataFrame = {
    val bins = 0 until 16
    val aggs = bins.map(b =>
      sum(when(col("vb") === b, 1L).otherwise(0L)).as(s"c_$b"))
    val w = withValueBin(events)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(aggs.head, aggs.tail: _*)
    val wc = bins.map(b => s"c_$b").mkString("array(", ", ", ")")
    w.crossJoin(broadcast(baseline))
      .withColumn("n_events", expr(bins.map(b => s"c_$b").mkString(" + ")))
      .withColumn("dmax", expr(
        s"""aggregate(sequence(0, 15),
           |  named_struct('cw', CAST(0 AS BIGINT), 'mx', CAST(0 AS DECIMAL(38,0))),
           |  (acc, i) -> named_struct(
           |    'cw', acc.cw + element_at($wc, i + 1),
           |    'mx', greatest(acc.mx, abs(
           |      CAST(acc.cw + element_at($wc, i + 1) AS DECIMAL(38,0)) * nb -
           |      CAST(element_at(bcum, i + 1) AS DECIMAL(38,0)) * n_events))),
           |  acc -> acc.mx)""".stripMargin))
      .withColumn("ks_ppm", expr(
        "CAST((2 * dmax * 1000000 + CAST(n_events AS DECIMAL(38,0)) * nb) " +
          "DIV (2 * CAST(n_events AS DECIMAL(38,0)) * nb) AS BIGINT)"))
      .select(col("window.start").as("window_start"), col("n_events"),
        (col("ks_ppm").cast("double") / 1e6).as("ks"))
  }

  /** q255's builder over a (text, ts, …) doc frame — batch OR
    * streaming. Per-word subword counts come from a stream-static LEFT
    * join against the frozen ENCODED VOCABULARY (the deployed
    * tokenizer's lookup table — broadcast, stateless), and words the
    * vocabulary has never seen fall through to a COLD-PATH encode: the
    * full chained-replace replay against the broadcast 1-row merge
    * frame, per-row map work (this is what makes it a DRIFT monitor —
    * novel-domain words are exactly the ones that miss the cache, and
    * they are encoded, not dropped). The only stateful operator is the
    * windowed aggregation (two long counters per open window); the
    * baseline comparison joins AFTER the window closes against a
    * broadcast 1-row frame. At 100 TB/day of feed: vocab and merges
    * are index-era artifacts re-broadcast per micro-batch, window state
    * is open-windows-bounded, nothing corpus-sized ever shuffles. */
  def bpeDriftWindows(docs: DataFrame, enc: DataFrame, wide: DataFrame,
      baseline: DataFrame): DataFrame = {
    val rounds = graft.operators.CorpusQueries.BpeRounds
    // " a b c " — regexp_replace already leaves a trailing space, so
    // symbols = spaces − 1 (exactly bpeEncodeDict's convention)
    val seq0 = "concat(' ', regexp_replace(word, '(.)', '$1 '))"
    val seqN = (1 to rounds).foldLeft(seq0)((acc, r) =>
      s"replace($acc, concat(' ', l$r, ' ', r$r, ' '), concat(' ', l$r, r$r, ' '))")
    val cold = s"CAST(length($seqN) - length(replace($seqN, ' ', '')) - 1 AS BIGINT)"
    docs
      .select(col("ts"), explode(expr(graft.operators.LlmQueries.toksSql)).as("word"))
      .join(broadcast(enc), Seq("word"), "left")
      .crossJoin(broadcast(wide))
      .withColumn("sym", coalesce(col("n_sym"), expr(cold)))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_words"), sum(col("sym")).cast("long").as("n_bpe"))
      .crossJoin(broadcast(baseline))
      .withColumn("fm", expr(graft.operators.GovernanceQueries.gridDiv("n_bpe", "n_words")))
      .select(col("window.start").as("window_start"), col("n_words"),
        col("n_bpe"),
        (col("fm").cast("double") / lit(1000000.0)).as("fertility"),
        ((col("fm") - col("base_micro")).cast("double") / lit(1000000.0))
          .as("drift"))
  }

  /** q247's builder: admit a (vec_id, v, ts) delta frame — batch OR
    * streaming — against the FROZEN semantic index (see
    * [[graft.operators.LlmQueries.semIndex]]: cells (cid, cv), members
    * (vec_id→mbr, cell, av, anrm)). The cell assignment is STATELESS by
    * construction: instead of a groupBy argmin (a stateful aggregate on
    * an unbounded stream), each arriving row folds over the broadcast
    * SORTED cell array with `aggregate()` — strict `<` keeps the
    * earliest (lowest-cid) cell on d2 ties, exactly the batch argmin's
    * (d2 ASC, cid ASC) order — so admission is per-row map work plus
    * ONE stream-static equi-join on cell against the indexed members
    * (cosine >= 0.99 on the 4-dp grid). Output is the MATCH LIST
    * (vec_id, cell, mbr, score): a sink treats a vector with no rows as
    * admitted. The only stateful operator in streaming mode is the
    * watermark-bounded output dedup keyed by the (vec_id, mbr) pair —
    * exactly-once across micro-batch replays, the q162/q168 discipline.
    * Scale: C ~ √n centroids ride one broadcast row; per-row assignment
    * is O(C·d) compute with ZERO exchange; the verify join touches only
    * cells the stream hits. */
  def vectorAdmission(s: SparkSession, newVecs: DataFrame,
      cells: DataFrame, members: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s) // vec_dot
    val cellsRow = cells
      .agg(expr("sort_array(collect_list(struct(cid, cv)))").as("cs"))
    val d2 = "vec_dot(nv, nv) - 2.0D * vec_dot(nv, c.cv) + vec_dot(c.cv, c.cv)"
    val assigned = newVecs
      .withColumn("nv", expr("transform(v, x -> x / sqrt(vec_dot(v, v)))"))
      .crossJoin(broadcast(cellsRow))
      .withColumn("m", expr(
        s"""aggregate(cs,
           |  named_struct('d2', CAST('Infinity' AS DOUBLE), 'cid', -1),
           |  (acc, c) -> IF($d2 < acc.d2,
           |    named_struct('d2', $d2, 'cid', c.cid), acc))""".stripMargin))
      .select(col("vec_id"), col("m.cid").as("cell"), col("nv"), col("ts"),
        expr("sqrt(vec_dot(nv, nv))").as("bnrm"))
    val pairs = assigned
      .join(members.select(col("cell"), col("vec_id").as("mbr"),
        col("av"), col("anrm")), Seq("cell"))
      .withColumn("score",
        round(expr("vec_dot(av, nv)") / (col("anrm") * col("bnrm")), 4))
      .filter(col("score") >= 0.99)
      .select(col("vec_id"), col("cell"), col("mbr"), col("score"), col("ts"))
    if (newVecs.isStreaming)
      pairs.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("vec_id", "mbr")
    else pairs
  }

  /** q168's builder: probe a (doc_id, text, ts) delta frame — batch OR
    * streaming — against a static corpus for near-duplicates at bigram
    * Jaccard >= 0.8. The corpus side tokenizes + prefix-indexes ONCE
    * (localCheckpoint = this micro-batch era's index build; a
    * production pipeline rebuilds it on a schedule), the probe side is
    * stateless per-row work + two stream-static joins, and the only
    * stateful operator in streaming mode is the output dedup, bounded
    * by the watermark horizon exactly like q162 — candidate
    * multiplicity (one row per shared indexed key) is collapsed there,
    * keyed by the (new_id, doc_id) pair. */
  def prefixProbeDedup(s: SparkSession, newDocs: DataFrame,
      corpus: DataFrame): DataFrame = {
    val corpusSets = graft.operators.LlmQueries
      .tokenSetsOf(s, graft.operators.Gates.spreadScan(corpus))
      .localCheckpoint()
    val probeSets = graft.operators.LlmQueries.tokenSetsOf(s, newDocs)
    val pairs = graft.operators.LlmQueries
      .prefixProbePairs(probeSets, corpusSets, 8)
      .withColumnRenamed("doc_a", "new_id")
      .withColumnRenamed("doc_b", "doc_id")
    if (newDocs.isStreaming)
      pairs.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("new_id", "doc_id")
    else pairs.dropDuplicates("new_id", "doc_id")
  }

  def oracles: Map[String, String] = Map(
    // the shared q245 train/assign chain, then the raw match list (the
    // per-pair form of q245's ex_hits path — scores included). The
    // fold-argmin engine assignment and the chain's ROW_NUMBER argmin
    // agree exactly: same d2 arithmetic, and strict-< over the
    // cid-sorted array IS (d2 ASC, cid ASC).
    "q247_stream_vector_admission" ->
      s"""WITH ${graft.operators.LlmQueries.semAdmissionOracleCtes}
        |SELECT * FROM (
        |  SELECT b.vec_id, b.cell, a.vec_id AS mbr,
        |    round(list_dot_product(a.nv, b.nv) /
        |      (sqrt(list_dot_product(a.nv, a.nv)) *
        |       sqrt(list_dot_product(b.nv, b.nv))), 4) AS score
        |  FROM nwa b JOIN exa a ON a.cell = b.cell)
        |WHERE score >= 0.99
        |ORDER BY vec_id, mbr""".stripMargin,

    // q263: each tombstoned doc's stored length, distinct-term touch
    // count, and block re-derived from the corpus directly — matching
    // the engine's artifact-joined ledger proves the stored census
    // agrees with a rebuild.
    "q263_stream_tombstone_ledger" ->
      s"""WITH t AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        |  FROM documents),
        |per AS (SELECT doc_id, COUNT(*) AS dl, COUNT(DISTINCT w) AS nt
        |        FROM t GROUP BY 1)
        |SELECT doc_id, CAST(dl AS BIGINT) AS dl_removed,
        |  CAST(nt AS BIGINT) AS n_posting_rows,
        |  CAST(doc_id // ${graft.operators.CorpusQueries.Bm25BlockStride}
        |       AS BIGINT) AS blk
        |FROM per WHERE doc_id % 10 = 9 ORDER BY doc_id""".stripMargin,

    // q267: residency and cell census re-derived from the oracle's own
    // assignment chain (the q166 train CTEs) — matching the engine's
    // artifact-joined routing records proves the stored residencies
    // agree with a from-scratch reassignment.
    "q267_stream_sem_tombstone" ->
      s"""WITH ${graft.operators.LlmQueries.semAdmissionOracleCtes},
        |census AS (SELECT cell, COUNT(*) AS n FROM exa GROUP BY 1)
        |SELECT e.vec_id, e.cell, CAST(c.n AS BIGINT) AS n_cell_members
        |FROM exa e JOIN census c ON c.cell = e.cell
        |WHERE e.vec_id % 5 = 2 ORDER BY e.vec_id""".stripMargin,

    "q50_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin,
    // A 2h-long window sliding by 1h holds events whose hour-truncation is
    // its start or start+1h: emit each event into both window starts.
    "q51_stream_sliding" ->
      """WITH assigned AS (
        |  SELECT date_trunc('hour', ts) AS window_start, value FROM events
        |  UNION ALL
        |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value FROM events)
        |SELECT window_start, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY 1 ORDER BY window_start""".stripMargin,
    // Gaps-and-islands: a new session starts when the gap from the previous
    // event of the same user is >= 6h (Spark merges only OVERLAPPING
    // [ts, ts+gap) intervals); session end = last ts + gap.
    "q58_stateful_alerts" ->
      """WITH t AS (
        |  SELECT user_id, SUM(CAST(value AS DECIMAL(38,6))) AS total
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id)
        |SELECT user_id,
        |  100 * unnest(generate_series(1, CAST(floor(total / 100) AS BIGINT))) AS crossed
        |FROM t ORDER BY user_id, crossed""".stripMargin,
    "q147_stream_interval_join" ->
      """WITH c AS (SELECT user_id, ts AS c_ts FROM events
        |           WHERE event_type = 'click'),
        |     p AS (SELECT user_id, ts AS p_ts FROM events
        |           WHERE event_type = 'purchase')
        |SELECT c.user_id, COUNT(*) AS n_pairs,
        |  MIN(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS min_lead_us,
        |  MAX(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS max_lead_us
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // q269: the left-outer form — unmatched clicks count once via
    // their single null-purchase row, matching the engine's
    // conditional count over the outer join output.
    "q269_stream_outer_attribution" ->
      """WITH c AS (SELECT user_id, ts AS c_ts FROM events
        |           WHERE event_type = 'click'),
        |     p AS (SELECT user_id AS p_user, ts AS p_ts FROM events
        |           WHERE event_type = 'purchase')
        |SELECT c.user_id,
        |  CAST(COUNT(p.p_ts) AS BIGINT) AS n_attr_pairs,
        |  CAST(SUM(CASE WHEN p.p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unconverted
        |FROM c LEFT JOIN p ON p.p_user = c.user_id
        |  AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // q274: erase dominates within the (finite-input) horizon — admits
    // anti/semi-joined against the tombstone cohort, one erase row per
    // tombstoned id, dl re-derived from the text directly.
    "q274_stream_interleaved_lifecycle" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
        |  FROM documents WHERE doc_id % 7 = 3),
        |e AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 9)
        |SELECT * FROM (
        |SELECT doc_id, 'admit' AS action, dl FROM a ANTI JOIN e USING (doc_id)
        |UNION ALL
        |SELECT doc_id, 'suppressed', dl FROM a SEMI JOIN e USING (doc_id)
        |UNION ALL
        |SELECT doc_id, 'erase', CAST(0 AS BIGINT) FROM e
        |) ORDER BY doc_id, action""".stripMargin,

    // q280: the q277 canonicalizer chain verbatim (shared constant),
    // winner per canonical URL by (event time, doc_id) — event time is
    // the synthesized t0 + (doc_id*7) mod 11 seconds, so ordering by
    // the integer offset is ordering by ts.
    "q280_stream_url_frontier" ->
      s"""WITH ${graft.operators.IngestQueries.DuckCanonChain},
         |w AS (SELECT doc_id, canon_url, row_number() OVER (
         |    PARTITION BY canon_url
         |    ORDER BY (doc_id * 7) % 11, doc_id) AS rn
         |  FROM c)
         |SELECT doc_id,
         |  CASE WHEN rn = 1 THEN 'admit' ELSE 'dup' END AS action,
         |  canon_url
         |FROM w ORDER BY doc_id""".stripMargin,

    "q64_stream_dedup" ->
      """WITH corpus AS (
        |  SELECT lang, text FROM documents
        |  UNION ALL SELECT lang, text FROM documents)
        |SELECT lang,
        |  COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |    AS n_unique
        |FROM corpus GROUP BY lang ORDER BY lang""".stripMargin,
    "q52_stream_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 6 HOUR OR
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 6 HOUR AS session_end, COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // 6h tumbling buckets via integer micros (21600000000 us), NOT
    // time_bucket: DuckDB's sub-month time_bucket origin is 2000-01-03
    // (a Monday), which happens to align for 6h but not for every
    // width — epoch arithmetic is alignment-exact by construction.
    "q154_stream_enrich" ->
      """SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |    AS window_start,
        |  c.c_mktsegment AS segment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY window_start, segment""".stripMargin,
    // dedup of the doubled stream == the original events, and the gate
    // aggregate reads only dup-invariant columns, so the oracle is the
    // plain per-user aggregate over the source table
    "q162_stream_dedup_watermark" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The BRUTE-FORCE delta x corpus bigram-Jaccard truth: legitimate
    // as q168's full gate because the one-sided prefix filter is
    // provably complete and the verify exact, so the streaming
    // operator's output must equal this set row-for-row. Bigram
    // equality on strings == equality on the engine's fnv64 keys
    // (collision-free at this scale, the q34 oracle's argument).
    "q168_stream_prefix_dedup" ->
      """WITH delta AS (
        |  SELECT doc_id + 20000 AS new_id,
        |    array_to_string(string_split_regex(trim(text), '\s+')[1:greatest(
        |      len(string_split_regex(trim(text), '\s+')) - 5, 1)], ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 7),
        |db AS (SELECT new_id, list_distinct(CASE WHEN len(tk) >= 2 THEN
        |         list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
        |         ELSE [] END) AS bg
        |       FROM (SELECT new_id, string_split_regex(trim(text), '\s+') AS tk
        |             FROM delta)),
        |cb AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 2 THEN
        |         list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
        |         ELSE [] END) AS bg
        |       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |             FROM documents)),
        |dx AS (SELECT new_id, len(bg) AS sz_a, unnest(bg) AS g FROM db
        |       WHERE len(bg) > 0),
        |cx AS (SELECT doc_id, len(bg) AS sz_b, unnest(bg) AS g FROM cb
        |       WHERE len(bg) > 0),
        |p AS (SELECT new_id, doc_id, sz_a, sz_b, count(*) AS i
        |      FROM dx JOIN cx USING (g)
        |      GROUP BY new_id, doc_id, sz_a, sz_b
        |      HAVING count(*) * 10 >= (sz_a + sz_b - count(*)) * 8)
        |SELECT new_id, doc_id, CAST(i AS BIGINT) AS n_shared,
        |  CAST(i AS DOUBLE) / (sz_a + sz_b - i) AS jac
        |FROM p ORDER BY new_id, doc_id""".stripMargin,

    // Epoch-aligned 6h buckets (the q154 convention), per-type FILTER
    // counts, and the same exact cross-product TV on the half-up 1e-6
    // grid (all terms non-negative, so // == DIV).
    "q172_stream_drift" ->
      """WITH wc AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |      AS window_start,
        |    COUNT(*) FILTER (WHERE event_type = 'click') AS c_click,
        |    COUNT(*) FILTER (WHERE event_type = 'error') AS c_error,
        |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS c_purchase,
        |    COUNT(*) FILTER (WHERE event_type = 'signup') AS c_signup,
        |    COUNT(*) FILTER (WHERE event_type = 'view') AS c_view,
        |    COUNT(*) AS nw
        |  FROM events
        |  WHERE event_type IN ('click','error','purchase','signup','view')
        |  GROUP BY 1),
        |b AS (
        |  SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS cb_click,
        |    COUNT(*) FILTER (WHERE event_type = 'error') AS cb_error,
        |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS cb_purchase,
        |    COUNT(*) FILTER (WHERE event_type = 'signup') AS cb_signup,
        |    COUNT(*) FILTER (WHERE event_type = 'view') AS cb_view,
        |    COUNT(*) AS nb
        |  FROM events
        |  WHERE event_type IN ('click','error','purchase','signup','view'))
        |SELECT window_start, nw AS n_events,
        |  CAST(CAST((2 * (abs(c_click::HUGEINT * nb - cb_click::HUGEINT * nw)
        |      + abs(c_error::HUGEINT * nb - cb_error::HUGEINT * nw)
        |      + abs(c_purchase::HUGEINT * nb - cb_purchase::HUGEINT * nw)
        |      + abs(c_signup::HUGEINT * nb - cb_signup::HUGEINT * nw)
        |      + abs(c_view::HUGEINT * nb - cb_view::HUGEINT * nw)) * 1000000
        |      + 2 * nw::HUGEINT * nb) // (4 * nw::HUGEINT * nb) AS BIGINT)
        |    AS DOUBLE) / 1000000.0 AS tv_drift
        |FROM wc, b ORDER BY window_start""".stripMargin,

    // q52's gaps-and-islands sessions, extended with the conditional
    // click/purchase extremes and the null-guarded converted flag.
    "q185_stream_session_funnel" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 6 HOUR OR
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts, event_type,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |  (MIN(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL AND
        |   MAX(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL AND
        |   MAX(CASE WHEN event_type = 'purchase' THEN ts END) >
        |     MIN(CASE WHEN event_type = 'click' THEN ts END)) AS converted
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // Same fixed 16-bin histogram per 6h epoch bucket; the quantile is
    // the first bin whose running count reaches ceil(q*n) — a bin EDGE,
    // no interpolation to drift.
    "q186_stream_value_quantiles" ->
      """WITH b AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |      AS window_start,
        |    LEAST(15, GREATEST(0, CAST(floor(value / 40) AS INT))) AS vb
        |  FROM events WHERE value IS NOT NULL),
        |h AS (SELECT window_start, vb, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |t AS (SELECT window_start, CAST(SUM(cnt) AS BIGINT) AS n_events
        |      FROM h GROUP BY 1),
        |cum AS (
        |  SELECT h.window_start, h.vb,
        |    SUM(h.cnt) OVER (PARTITION BY h.window_start ORDER BY h.vb) AS cm,
        |    t.n_events
        |  FROM h JOIN t USING (window_start))
        |SELECT window_start, n_events,
        |  MIN(CASE WHEN cm >= ceil(0.5 * n_events) THEN vb * 40 END) AS p50_lo,
        |  MIN(CASE WHEN cm >= ceil(0.95 * n_events) THEN vb * 40 END) AS p95_lo,
        |  MIN(CASE WHEN cm >= ceil(0.99 * n_events) THEN vb * 40 END) AS p99_lo
        |FROM cum GROUP BY window_start, n_events
        |ORDER BY window_start""".stripMargin,

    // The closed-window sketch state re-derived exactly: bottom-64
    // distinct unsigned fnv64(user_id-as-string) per 6h epoch bucket
    // in natural HUGEINT order, then the same m<k / estimator arms.
    "q196_stream_kmv_users" ->
      s"""WITH hv AS (
         |  SELECT make_timestamp((epoch_us(ts) // 21600000000)
         |      * 21600000000) AS window_start,
         |    ${graft.operators.LlmQueries.fnvSqlOf("CAST(user_id AS VARCHAR)")} AS u
         |  FROM events),
         |dh AS (SELECT DISTINCT window_start, u FROM hv),
         |rk AS (SELECT window_start, u, row_number() OVER (
         |    PARTITION BY window_start ORDER BY u) AS rk FROM dh),
         |sk AS (SELECT window_start, COUNT(*) AS m,
         |    MAX(CASE WHEN rk = 64 THEN u END) AS uk
         |  FROM rk WHERE rk <= 64 GROUP BY 1),
         |ne AS (SELECT make_timestamp((epoch_us(ts) // 21600000000)
         |      * 21600000000) AS window_start, COUNT(*) AS n_events
         |  FROM events GROUP BY 1)
         |SELECT n.window_start, n.n_events, CAST(s.m AS BIGINT) AS k_used,
         |  CAST(CASE WHEN s.m < 64 THEN s.m
         |    ELSE CAST('1162144876643701751808' AS HUGEINT) // s.uk END
         |    AS BIGINT) AS kmv_users
         |FROM ne n JOIN sk s USING (window_start)
         |ORDER BY n.window_start""".stripMargin,

    // The same ordered fold via list_reduce over a PACKED HUGEINT
    // accumulator: credit + 2^20·allowed + 2^44·last (credit < 2^17,
    // last ts < 2^31, allowed < 2^24 at oracle scales; last = 0 is the
    // no-previous sentinel since epochs are positive). Packed because
    // this DuckDB's multi-field struct_pack lambdas miscompile the
    // SHARED subexpression across fields (the allowed counter read a
    // different branch than the credit field — verified against a
    // by-hand fold); one scalar expression evaluates consistently.
    // Events sort as (ts, event_id) structs first, then project ts —
    // Spark's sort_array tie-break exactly.
    "q201_rate_limit" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s, event_id AS e
        |  FROM events),
        |g AS (SELECT user_id, list_transform(
        |    list_sort(list(struct_pack(a := s, b := e))),
        |    z -> CAST(z.a AS HUGEINT)) AS evs
        |  FROM ev GROUP BY 1),
        |f AS (SELECT user_id, len(evs) AS n_events,
        |    list_reduce(list_prepend(CAST(57600 AS HUGEINT), evs),
        |      (acc, x) ->
        |        LEAST(57600, (acc % 1048576) + CASE WHEN
        |            acc // 17592186044416 = 0 THEN 0
        |            ELSE x - acc // 17592186044416 END)
        |        - CASE WHEN LEAST(57600, (acc % 1048576) + CASE WHEN
        |            acc // 17592186044416 = 0 THEN 0
        |            ELSE x - acc // 17592186044416 END) >= 28800
        |          THEN 28800 ELSE 0 END
        |        + 1048576 * (((acc // 1048576) % 16777216) +
        |          CASE WHEN LEAST(57600, (acc % 1048576) + CASE WHEN
        |              acc // 17592186044416 = 0 THEN 0
        |              ELSE x - acc // 17592186044416 END) >= 28800
        |            THEN 1 ELSE 0 END)
        |        + 17592186044416 * x) AS r
        |  FROM g)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST((r // 1048576) % 16777216 AS BIGINT) AS n_allowed,
        |  CAST(n_events - (r // 1048576) % 16777216 AS BIGINT)
        |    AS n_dropped
        |FROM f ORDER BY user_id""".stripMargin,

    "q218_stream_seasonal_alert" ->
      """WITH ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS slot,
        |    event_type
        |  FROM events),
        |obs AS (SELECT slot, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |slots AS (SELECT DISTINCT slot FROM obs),
        |types AS (SELECT DISTINCT event_type FROM obs),
        |grid AS (
        |  SELECT s.slot, t.event_type, COALESCE(o.c, 0) AS c,
        |    ((s.slot % 168) + 168) % 168 AS how
        |  FROM slots s CROSS JOIN types t
        |  LEFT JOIN obs o ON o.slot = s.slot AND o.event_type = t.event_type),
        |base AS (
        |  SELECT how, event_type, CAST(SUM(c) AS BIGINT) AS t,
        |    COUNT(*) AS nh
        |  FROM grid GROUP BY 1, 2),
        |win AS (
        |  SELECT date_trunc('hour', ts) AS window_start,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS slot,
        |    event_type, COUNT(*) AS obs
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT w.window_start, w.event_type, w.obs,
        |  CAST(CAST((2 * b.t::HUGEINT * 1000000 + b.nh) //
        |    (2 * b.nh::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS expected,
        |  CAST(CAST((2 * abs(w.obs::HUGEINT * b.nh - b.t) * 1000000 + b.nh) //
        |    (2 * b.nh::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS deviation,
        |  (w.obs * b.nh > b.t * 3 OR w.obs * b.nh * 3 < b.t) AS alert
        |FROM win w JOIN base b
        |  ON b.how = ((w.slot % 168) + 168) % 168
        | AND b.event_type = w.event_type
        |ORDER BY w.window_start, w.event_type""".stripMargin,

    // Epoch-aligned 6h windows, 16-bin cumulative CDFs window-side and
    // baseline-side (grids restored), cross-multiplied KS max, half-up
    // ppm — the q241 statistic re-derived per window.
    "q242_stream_ks_drift" ->
      """WITH b AS (
        |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
        |      AS window_start,
        |    LEAST(15, GREATEST(0, CAST(floor(value / 40) AS INT))) AS vb
        |  FROM events WHERE value IS NOT NULL),
        |base AS (SELECT vb, COUNT(*) AS c FROM b GROUP BY 1),
        |bg AS (SELECT g.b AS vb, COALESCE(base.c, 0) AS c
        |  FROM range(0, 16) g(b) LEFT JOIN base ON base.vb = g.b),
        |bc AS (SELECT vb, SUM(c) OVER (ORDER BY vb) AS bcum,
        |    SUM(c) OVER () AS nb FROM bg),
        |wc0 AS (SELECT window_start, vb, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |wins AS (SELECT DISTINCT window_start FROM b),
        |grid AS (SELECT w.window_start, g.b AS vb, COALESCE(wc0.c, 0) AS c
        |  FROM wins w CROSS JOIN range(0, 16) g(b)
        |  LEFT JOIN wc0 ON wc0.window_start = w.window_start
        |    AND wc0.vb = g.b),
        |wcum AS (SELECT window_start, vb,
        |    SUM(c) OVER (PARTITION BY window_start ORDER BY vb) AS cw,
        |    SUM(c) OVER (PARTITION BY window_start) AS n_events FROM grid),
        |j AS (SELECT w.window_start, w.n_events, bc.nb,
        |    abs(w.cw::HUGEINT * bc.nb - bc.bcum::HUGEINT * w.n_events)
        |      AS dev
        |  FROM wcum w JOIN bc ON bc.vb = w.vb)
        |SELECT window_start, CAST(MAX(n_events) AS BIGINT) AS n_events,
        |  CAST(CAST((2 * MAX(dev) * 1000000 +
        |      MAX(n_events)::HUGEINT * MAX(nb)) //
        |    (2 * MAX(n_events)::HUGEINT * MAX(nb)) AS BIGINT) AS DOUBLE)
        |    / 1000000.0 AS ks
        |FROM j GROUP BY window_start ORDER BY window_start""".stripMargin,

    // replays BPE training (the shared CTE chain), encodes the corpus
    // dictionary once (s8 per-word states), then re-derives the
    // per-window word/token counts, the micro-grid fertility, and the
    // drift against the corpus-wide baseline
    "q255_stream_bpe_drift" -> {
      import graft.operators.CorpusQueries.{bpeOracleCtes, BpeRounds}
      s"""WITH $bpeOracleCtes,
        |nsym AS MATERIALIZED (
        |  SELECT word,
        |    CAST(length(seq) - length(replace(seq, ' ', '')) - 1 AS BIGINT)
        |      AS n_sym
        |  FROM s$BpeRounds),
        |basef AS (
        |  SELECT CAST((2 * SUM(freq * n_sym)::HUGEINT * 1000000 + SUM(freq))
        |    // (2 * SUM(freq)::HUGEINT) AS BIGINT) AS base_micro
        |  FROM w JOIN nsym USING (word)),
        |docw AS (
        |  SELECT date_trunc('hour',
        |      TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id))
        |      AS window_start,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS word
        |  FROM documents),
        |wstat AS (
        |  SELECT window_start, COUNT(*) AS n_words,
        |    CAST(SUM(n_sym) AS BIGINT) AS n_bpe
        |  FROM docw JOIN nsym USING (word) GROUP BY 1),
        |fm AS (
        |  SELECT window_start, n_words, n_bpe,
        |    CAST((2 * n_bpe::HUGEINT * 1000000 + n_words)
        |      // (2 * n_words::HUGEINT) AS BIGINT) AS fm
        |  FROM wstat)
        |SELECT window_start, n_words, n_bpe,
        |  CAST(fm AS DOUBLE) / 1000000.0 AS fertility,
        |  CAST(fm - base_micro AS DOUBLE) / 1000000.0 AS drift
        |FROM fm CROSS JOIN basef
        |ORDER BY window_start""".stripMargin
    }
  )
}

/** q201 streaming-arm rows: (user, epoch-second, tie-break id) in,
  * running admission counts out. */
case class RateEv(user_id: Long, s: Long, e: Long)
case class RateCount(user_id: Long, n_events: Long, n_allowed: Long,
  n_dropped: Long)
/** q201 bucket state: constant-width per user regardless of history. */
case class RateState(credit: Long, last: Long, allowed: Long, total: Long)

/** q201 streaming arm: the token bucket as Spark-4 typed state
  * (`transformWithState`) — per-user `ValueState` holding exactly
  * (credit, last ts, allowed, total), updated with the SAME integer
  * arithmetic as the batch fold in
  * [[StreamingQueries.rateLimitCounts]]; rows within a micro-batch are
  * sorted by (s, e) before folding so batch boundaries cannot reorder
  * the verdict sequence (StreamingSpec splits a burst across batches
  * to pin that). Emits the running counts per key per batch — the
  * Update-mode admission dashboard. */
class RateLimitProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, RateEv, RateCount] {
  import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
  import org.apache.spark.sql.streaming.OutputMode
  @transient private var st: ValueState[RateState] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[RateState]("bucket",
      org.apache.spark.sql.Encoders.product[RateState], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[RateEv],
      timers: TimerValues): Iterator[RateCount] = {
    val s0 = if (st.exists()) st.get()
             else RateState(StreamingQueries.RateCapSec, -1L, 0L, 0L)
    var (credit, last, allowed, total) = (s0.credit, s0.last, s0.allowed, s0.total)
    rows.toSeq.sortBy(r => (r.s, r.e)).foreach { r =>
      val c1 = math.min(StreamingQueries.RateCapSec,
        credit + (if (last < 0) 0L else r.s - last))
      if (c1 >= StreamingQueries.RateCostSec) {
        credit = c1 - StreamingQueries.RateCostSec; allowed += 1
      } else credit = c1
      last = r.s
      total += 1
    }
    st.update(RateState(credit, last, allowed, total))
    Iterator.single(RateCount(key, total, allowed, total - allowed))
  }
}
