package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-governance and pipeline-maintenance operators: the audits a
  * 100 TB corpus runs BEFORE shipping data — privacy risk (k-anonymity
  * equivalence classes), incremental-maintenance verification (the
  * algebraic merge = recompute property that makes delta processing
  * sound), exact distributed quantiles without a global sort, seasonal
  * anomaly detection against an hour-of-week baseline, vocabulary
  * concentration (Gini), and content-checksum reconciliation across a
  * re-sharding stage. The reference (`/root/reference/pq2json`, a file
  * converter) has none of these; each is the Spark-first shape of an
  * operation whose naive form (global sorts, driver loops, floating
  * aggregation) breaks at cluster scale. All final ratios live on the
  * repo's half-up 1e-6 integer grid (SURVEY §6): `(2a + n) DIV (2n)`
  * in DECIMAL(38,0), never `round(a/n, 6)`.
  */
object GovernanceQueries extends QueryModule {

  private val Micro = 1000000L

  /** Exact order-insensitive double sum: route through DECIMAL(38,6)
    * then back to double — ONE definition (r14 review: it existed as
    * module-private copies in Relational/Streaming/Extended). See the
    * RelationalQueries scaladoc for why raw double SUM hash-drifts. */
  private[graft] def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(38, 6))).cast("double")

  /** Half-up a/b onto the 1e-6 grid, nonnegative operands, as a SQL
    * fragment over DECIMAL(38,0) columns: (2a*1e6 + b) DIV (2b).
    * private[graft]: the one definition of the overflow-safe micro
    * grid — the BPE fertility family (CorpusQueries, StreamingQueries
    * q255) shares it, so a rounding-rule change can never fork the
    * engine sites (the oracles' HUGEINT arithmetic is the other
    * half of the contract). */
  private[graft] def gridDiv(num: String, den: String): String =
    s"(2 * CAST($num AS DECIMAL(38,0)) * $Micro + $den) DIV (2 * CAST($den AS DECIMAL(38,0)))"

  /** Bucket the event stream to a (bucket, event_type) count grid with
    * ABSENT cells restored as 0 (the q209 lesson: a silent hour counts
    * toward the baseline mean) — the shared shape of q209/q214/q220,
    * one definition so the restore semantics (checkpoint policy, the
    * broadcast alphabet cross, the coalesce) can never fork between
    * them (r14 review: this ~10-line pipeline existed three times).
    * Returns (bucket, event_type, c), localCheckpointed (bounded by
    * time-span × alphabet). */
  private def restoredGrid(s: SparkSession, dir: String,
      bucketSeconds: Long, bucketName: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select((unix_timestamp(col("ts")) / bucketSeconds).cast("long")
        .as(bucketName), col("event_type"))
      .groupBy(col(bucketName), col("event_type"))
      .agg(count(lit(1)).as("c")).localCheckpoint()
    obs.select(col(bucketName)).distinct()
      .crossJoin(broadcast(obs.select(col("event_type")).distinct()))
      .join(obs, Seq(bucketName, "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .localCheckpoint()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- k-anonymity audit (q204): equivalence-class sizes over a
    // quasi-identifier tuple (Sweeney's k-anonymity: a row is
    // k-anonymous iff at least k rows share its QI values). QI here =
    // (market segment, nation, account-balance band of width 1000).
    // Shape: ONE partial-agged pass corpus -> (QI, k) classes (exchange
    // bounded by distinct QI combinations — segments x nations x ~11
    // bands, never rows), then a classes-bounded rollup to the per-
    // segment risk report: singleton classes ARE re-identifiable rows,
    // so reident_risk = singletons / rows on the 1e-6 grid. At 100 TB
    // the class frame stays the same size — the audit's cost is one
    // scan. The operator a release pipeline runs before publishing any
    // quasi-identifying slice.
    "q204_k_anonymity" -> ((s, dir) => {
      val classes = Tables(s, dir, "customer")
        .groupBy(col("c_mktsegment"),
          col("c_nationkey"),
          floor(col("c_acctbal") / lit(1000.0)).as("bal_band"))
        .agg(count(lit(1)).as("k"))
      classes.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k")).cast("long").as("n_rows"),
          sum(when(col("k") === 1, 1L).otherwise(0L)).as("singleton_classes"),
          sum(when(col("k") < 5, col("k")).otherwise(lit(0L)))
            .cast("long").as("rows_below_k5"),
          min(col("k")).as("min_k"))
        .withColumn("reident_risk",
          (expr(gridDiv("singleton_classes", "n_rows")).cast("long")
            .cast("double") / lit(Micro.toDouble)))
        .orderBy(col("c_mktsegment"))
    }),

    // --- incremental aggregate maintenance (q206): the soundness check
    // behind every delta-processed materialized view. Events split at a
    // fixed cutoff into base|delta; per-user states (n, sum, max) are
    // computed INDEPENDENTLY per side and merged by the aggregates' own
    // combine algebra (count: +, sum: +, max: max) — the exact partial-
    // agg merge Spark runs map-side, lifted to the view level. The
    // operator then PROVES merge == full recompute per user and reports
    // per user-bucket. Sums ride DECIMAL(38,6) (exact, order- and
    // partitioning-independent — a double sum would make the equality
    // check itself flaky). Scale: at 100 TB the base state is a stored
    // table and only the delta is scanned; the merge exchange is
    // users-bounded. Here both sides are recomputed (no stored state in
    // a stateless gate query) but the merge path is the one under test.
    "q206_incremental_agg" -> ((s, dir) => {
      val cutoff = lit("2024-01-24 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          col("value").cast(DecimalType(38, 6)).as("v"))
      def state(df: DataFrame): DataFrame =
        df.groupBy(col("user_id")).agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"), max(col("ts")).as("mx"))
      val merged = state(ev.filter(col("ts") < cutoff))
        .unionAll(state(ev.filter(col("ts") >= cutoff)))
        .groupBy(col("user_id")).agg(
          sum(col("n")).cast("long").as("n"),
          sum(col("sv")).as("sv"), max(col("mx")).as("mx"))
      val direct = state(ev)
        .select(col("user_id"), col("n").as("dn"),
          col("sv").as("dsv"), col("mx").as("dmx"))
      merged.join(direct, Seq("user_id"))
        .groupBy(pmod(col("user_id"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n")).cast("long").as("n_events"),
          round(sum(col("sv")).cast("double"), 2).as("sum_value"),
          bool_and(col("n") === col("dn") && col("sv") === col("dsv") &&
            col("mx") === col("dmx")).as("all_match"))
        .orderBy(col("bucket"))
    }),

    // --- exact distributed quantiles (q207): p25/p50/p75/p99 of
    // l_extendedprice WITHOUT a global sort — the two-phase histogram
    // refinement that replaces ORDER BY at cluster scale. Phase 1: one
    // partial-agged pass onto fixed 4096-cent bins (exchange bounded by
    // the VALUE DOMAIN / 4096, never rows); a cumulative window over the
    // bins-bounded histogram locates, for each target rank ceil(q*n),
    // the bin holding it and the count preceding it. Phase 2: only the
    // target bins' rows (n/bins each) are re-read via a broadcast join
    // and ranked within the bin — the within-bin exchange is the
    // refinement, a global sort never happens. Quantile = the rank-th
    // smallest (lower quantile, interpolation-free, exact in both
    // engines). Cents = floor(price*100 + 0.5): identical IEEE double
    // ops both sides, then integer arithmetic only.
    "q207_exact_quantiles" -> ((s, dir) => {
      import s.implicits._
      val cents = Tables(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).as("cents"))
      // materialized (localCheckpoint): cum AND tot both read it — the
      // unmaterialized form re-ran the full cents scan for each,
      // making phase 1 two corpus passes instead of the one the design
      // comment promises (r14 review); the frame is ~domain/4096 rows
      val hist = cents.groupBy((col("cents") / 4096).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      // bins-bounded frame: the single-partition cumulative window runs
      // over ~domain/4096 rows regardless of corpus size
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.agg(sum(col("cnt")).cast("long").as("n"))
      val spine = Seq(("p25", 25L), ("p50", 50L), ("p75", 75L), ("p99", 99L))
        .toDF("quantile", "qn")
      val targets = spine.crossJoin(broadcast(tot))
        .withColumn("rk", expr("(n * qn + 99) DIV 100"))
        .join(broadcast(cum),
          col("cum") >= col("rk") && col("cum") - col("cnt") < col("rk"))
        .select(col("quantile"), col("rk"), col("n"),
          col("bin"), (col("cum") - col("cnt")).as("offset"))
      cents.join(broadcast(targets),
          (col("cents") / 4096).cast("long") === col("bin"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("quantile")).orderBy(col("cents"))))
        .filter(col("offset") + col("rn") === col("rk"))
        .select(col("quantile"), col("rk").as("rank"), col("n"),
          (col("cents").cast("double") / 100.0).as("value"))
        .orderBy(col("quantile"))
    }),

    // --- seasonal anomaly detection (q209): hourly event counts vs the
    // hour-of-week baseline (how = epoch-hour mod 168, anchored at the
    // epoch — no engine dow/tz conventions in the key). The grid is
    // RESTORED before scoring: a type absent from an observed hour slot
    // deviates by its full expectation, and dropping absent cells is
    // the classic monitoring bug (same lesson as q187's split grid).
    // Shape: corpus -> (slot, type) counts in one partial-agged pass
    // (exchange bounded by observed hours x alphabet, linear in time
    // span not event count); the baseline, grid restore, and scoring
    // all live on that bounded frame; top-20 by deviation with a total
    // (dev, type, slot) tie order. Deviation = |obs - T/nh| half-up on
    // the 1e-6 grid via integer cross-multiplication.
    "q209_seasonal_anomaly" -> ((s, dir) => {
      val grid = restoredGrid(s, dir, 3600L, "slot")
        .withColumn("how", pmod(col("slot"), lit(168L)))
      val base = grid.groupBy(col("how"), col("event_type"))
        .agg(sum(col("c")).cast("long").as("t"), count(lit(1)).as("nh"))
      grid.join(broadcast(base), Seq("how", "event_type"))
        .withColumn("dev_micro", expr(
          s"(2 * abs(CAST(c AS DECIMAL(38,0)) * nh - t) * $Micro + nh) " +
            "DIV (2 * CAST(nh AS DECIMAL(38,0)))").cast("long"))
        .orderBy(col("dev_micro").desc, col("event_type").asc, col("slot").asc)
        .limit(20)
        .select((col("slot") * 3600L).as("slot_epoch"), col("event_type"),
          col("c").as("obs"),
          (expr(gridDiv("t", "nh")).cast("long")
            .cast("double") / lit(Micro.toDouble)).as("expected"),
          (col("dev_micro").cast("double") / lit(Micro.toDouble)).as("deviation"))
    }),

    // --- vocabulary concentration (q210): per-source token Gini
    // coefficient + top-token share — the "is this source 1000 pages or
    // one page repeated 1000 times" diagnostic that complements q192's
    // per-document repetition rules at source granularity. Shape:
    // corpus -> (source, token) counts in one partial-agged pass
    // (vocab-bounded exchange); the rank window and moment sums then
    // run on that vocab-bounded frame, tokens never shuffle twice. Gini
    // over the freq-ascending ranking i: (2*Σ i·f_i − (V+1)·Σf) /
    // (V·Σf) — tie-order-invariant (equal f values contribute f·Σi over
    // any permutation of their rank run), exact integers until the one
    // half-up grid division.
    "q210_token_gini" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("source"), explode(expr(LlmQueries.toksSql)).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
      val ranked = tf.withColumn("i", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("f").asc, col("tok").asc)))
      ranked.groupBy(col("source"))
        .agg(count(lit(1)).as("vocab"),
          sum(col("f")).cast("long").as("tokens"),
          max(col("f")).cast("long").as("top_f"),
          sum(col("i").cast(DecimalType(38, 0)) * col("f")).as("w"))
        .withColumn("gini", expr(
          s"CAST((2 * (2 * w - (vocab + 1) * CAST(tokens AS DECIMAL(38,0))) * $Micro " +
            "+ CAST(vocab AS DECIMAL(38,0)) * tokens) " +
            "DIV (2 * CAST(vocab AS DECIMAL(38,0)) * tokens) AS BIGINT)")
          .cast("double") / lit(Micro.toDouble))
        .withColumn("top_share",
          expr(gridDiv("top_f", "tokens")).cast("long")
            .cast("double") / lit(Micro.toDouble))
        .select(col("source"), col("vocab"), col("tokens"),
          col("top_share"), col("gini"))
        .orderBy(col("source"))
    }),

    // --- content-checksum reconciliation (q211): proves a re-sharding
    // stage (q126's content-hash shard assignment) preserved every row
    // — the "did the migration lose data" audit run after any 100 TB
    // re-layout, where row-by-row diffing is impossible but an ORDER-
    // INDEPENDENT checksum is one aggregate: per-doc fingerprint
    // fnv64(doc_id:md5(text)), summed exactly in DECIMAL(38,0), reduced
    // mod 2^61-1. Computed twice — directly per source, and through the
    // sharded layout (per (shard, source) partials re-merged to source,
    // exercising the same combine algebra as q206) — and compared. Both
    // paths are one partial-agged exchange each, bounded by
    // shards x sources.
    "q211_conservation_check" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val P = 2305843009213693951L // 2^61 - 1
      // materialized: both checksum paths read the same per-doc
      // fingerprints — the audit's independence lives in the two
      // AGGREGATION paths (direct vs via-shard merge), not in
      // re-hashing the corpus twice (r14 review); one row per doc
      val d = Tables.documents(s, dir)
        .select(col("source"),
          pmod(expr("fnv64(CAST(doc_id AS STRING))"), lit(32L)).as("shard"),
          expr("fnv64(concat(CAST(doc_id AS STRING), ':', md5(text)))").as("fp"))
        .localCheckpoint()
      def checksum(df: DataFrame, keys: Seq[String]): DataFrame =
        df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col("fp").cast(DecimalType(38, 0))).as("cs"))
      val direct = checksum(d, Seq("source"))
        .select(col("source"), col("n").as("n_docs"),
          expr(s"CAST(((cs % $P) + $P) % $P AS BIGINT)").as("checksum"))
      val viaShard = checksum(d, Seq("shard", "source"))
        .groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n2"), sum(col("cs")).as("cs2"))
        .select(col("source"), col("n2"),
          expr(s"CAST(((cs2 % $P) + $P) % $P AS BIGINT)").as("checksum2"))
      direct.join(viaShard, Seq("source"))
        .select(col("source"), col("n_docs"), col("checksum"),
          (col("n_docs") === col("n2") &&
            col("checksum") === col("checksum2")).as("matches"))
        .orderBy(col("source"))
    }),

    // --- schema/statistics drift between snapshots (q212): the TFX
    // data-validation "skew detector" — per-column profiles of the base
    // vs delta halves of the stream (the q206 cutoff), diffed and
    // flagged. ONE scan computes both sides' row counts, null counts
    // and exact distincts as conditional aggregates (the
    // multi-countDistinct expand is the documented exact-profile cost,
    // as in q179); the per-column rows are then unpivoted from the
    // single aggregate row with stack(). Drift flags compare RATES on
    // the integer grid (a distinct-vs-n rate, not raw distincts —
    // continuous columns legitimately grow raw distincts with row
    // count): flagged iff the distinct rate shifts by >2x either way
    // or the null rate moves >1%. At 100 TB this is one pass over the
    // delta plus one over the (already profiled) base.
    "q212_profile_diff" -> ((s, dir) => {
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      val ev = Tables.events(s, dir)
      val b = col("ts") < cut
      def side(p: org.apache.spark.sql.Column, tag: String) = Seq(
        count(when(p, 1)).as(s"n_$tag"),
        count(when(p && col("event_type").isNull, 1)).as(s"et_null_$tag"),
        countDistinct(when(p, col("event_type"))).as(s"et_d_$tag"),
        count(when(p && col("user_id").isNull, 1)).as(s"u_null_$tag"),
        countDistinct(when(p, col("user_id"))).as(s"u_d_$tag"),
        count(when(p && col("value").isNull, 1)).as(s"v_null_$tag"),
        countDistinct(when(p, col("value"))).as(s"v_d_$tag"),
        count(when(p && col("props").isNull, 1)).as(s"p_null_$tag"),
        countDistinct(when(p, col("props"))).as(s"p_d_$tag"))
      val aggs = side(b, "b") ++ side(!b, "d")
      ev.agg(aggs.head, aggs.tail: _*)
        .selectExpr(
          """stack(4,
            |'event_type', et_null_b, et_d_b, et_null_d, et_d_d,
            |'props',      p_null_b,  p_d_b,  p_null_d,  p_d_d,
            |'user_id',    u_null_b,  u_d_b,  u_null_d,  u_d_d,
            |'value',      v_null_b,  v_d_b,  v_null_d,  v_d_d)
            |AS (column_name, base_nulls, base_distinct,
            |    delta_nulls, delta_distinct)""".stripMargin,
          "n_b AS base_n", "n_d AS delta_n")
        .withColumn("base_null_rate",
          expr(gridDiv("base_nulls", "base_n")).cast("long"))
        .withColumn("delta_null_rate",
          expr(gridDiv("delta_nulls", "delta_n")).cast("long"))
        .withColumn("base_distinct_rate",
          expr(gridDiv("base_distinct", "base_n")).cast("long"))
        .withColumn("delta_distinct_rate",
          expr(gridDiv("delta_distinct", "delta_n")).cast("long"))
        .withColumn("drift",
          col("delta_distinct_rate") * 2 < col("base_distinct_rate") ||
            col("delta_distinct_rate") > col("base_distinct_rate") * 2 ||
            abs(col("base_null_rate") - col("delta_null_rate")) > 10000)
        .select(col("column_name"), col("base_n"), col("delta_n"),
          col("base_distinct"), col("delta_distinct"),
          (col("base_null_rate").cast("double") / 1e6).as("base_null_rate"),
          (col("delta_null_rate").cast("double") / 1e6).as("delta_null_rate"),
          col("drift"))
        .orderBy(col("column_name"))
    }),

    // --- A/B experiment read-out (q213): deterministic hash
    // randomization (arm = fnv64(user) mod 2 — reproducible, no rand()
    // partitioning dependence), per-user conversion (any purchase), and
    // the 2x2 chi-square statistic — which, unlike the z-test, is a
    // PURE RATIONAL in the contingency counts: chi2 = N(ad-bc)^2 /
    // (r1 r2 c1 c2), so the whole read-out lands exactly on the 1e-6
    // grid with no sqrt. Shape: one users-keyed partial-agg pass, then
    // a single-row aggregate; nothing beyond the user exchange.
    // Envelope (corrected r14 review): det ≤ N²/4 and den ≤ N⁴/16, so
    // det²·2N·1e6 ≤ N⁵·1e6/8 must stay under 10³⁸ — exact up to
    // ~2·10⁶ users per experiment cell; past that, scale counts to
    // rates first (Spark's non-ANSI decimal returns NULL on overflow
    // where DuckDB HUGEINT errors, so the failure modes differ too).
    // The det factors cast BEFORE multiplying — the int64 product
    // would wrap silently at ~9.2e18 ahead of any decimal bound.
    "q213_ab_test" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val users = Tables.events(s, dir)
        // an experiment unit REQUIRES an identity: a NULL user_id row
        // cannot be assigned an arm (its hash is NULL in the engine and
        // engine-dependent in SQL dialects) — excluded on both sides
        // (r15 hostile-corpus finding: the null-user group silently
        // shifted one oracle arm census)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("arm",
          pmod(expr("fnv64(CAST(user_id AS STRING))"), lit(2L)))
      users.agg(
          count(when(col("arm") === 0, 1)).as("arm0_users"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0L))
            .cast("long").as("arm0_conv"),
          count(when(col("arm") === 1, 1)).as("arm1_users"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0L))
            .cast("long").as("arm1_conv"))
        // greatest(..., 1) mirrors the oracle's zero guard (ADVICE r10):
        // an empty arm (degenerate but possible on tiny/filtered inputs)
        // must read 0, not NULL — the chi2 denominator below already
        // guards the same way.
        .withColumn("rate0",
          expr(gridDiv("arm0_conv", "greatest(arm0_users, 1)")).cast("long")
            .cast("double") / 1e6)
        .withColumn("rate1",
          expr(gridDiv("arm1_conv", "greatest(arm1_users, 1)")).cast("long")
            .cast("double") / 1e6)
        .withColumn("chi2", expr(
          """CAST((2 * (arm0_users + arm1_users) *
            |  (CAST(arm0_conv AS DECIMAL(38,0)) * (arm1_users - arm1_conv) -
            |       CAST(arm1_conv AS DECIMAL(38,0)) * (arm0_users - arm0_conv)) *
            |  (CAST(arm0_conv AS DECIMAL(38,0)) * (arm1_users - arm1_conv) -
            |       CAST(arm1_conv AS DECIMAL(38,0)) * (arm0_users - arm0_conv)) * 1000000
            |  + greatest(CAST(arm0_users AS DECIMAL(38,0)) * arm1_users *
            |      (arm0_conv + arm1_conv) *
            |      (arm0_users + arm1_users - arm0_conv - arm1_conv), 1))
            | DIV (2 * greatest(CAST(arm0_users AS DECIMAL(38,0)) * arm1_users *
            |      (arm0_conv + arm1_conv) *
            |      (arm0_users + arm1_users - arm0_conv - arm1_conv), 1))
            | AS BIGINT)""".stripMargin).cast("double") / 1e6)
        .select(col("arm0_users"), col("arm0_conv"), col("arm1_users"),
          col("arm1_conv"), col("rate0"), col("rate1"), col("chi2"))
    }),

    // --- CUSUM change-point summary (q214): Page's cumulative-sum
    // detector over daily per-type event counts, restructured so the
    // clamped recurrence C_t = max(0, C_{t-1} + dev_t) never iterates:
    // C_t == S_t - min(0, min_{i<=t} S_i) where S is the plain prefix
    // sum — two WINDOW functions over the days-bounded frame, exact in
    // both engines. Slack k = 0.1*mean and alarm bar h = 1*mean, both
    // as integer cross-multiplications (dev scaled by 10*D so no
    // division precedes the final grid landing). The (day, type) grid
    // is RESTORED first (q209's absence lesson: a silent day IS a
    // negative deviation). Exchange bounded by days x alphabet.
    "q214_cusum_changepoint" -> ((s, dir) => {
      val grid = restoredGrid(s, dir, 86400L, "day")
      val base = grid.groupBy(col("event_type"))
        .agg(sum(col("c")).cast("long").as("t"), count(lit(1)).as("d"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = grid.join(broadcast(base), Seq("event_type"))
        .withColumn("dev",
          lit(10L) * col("c") * col("d") - lit(11L) * col("t"))
        .withColumn("s", sum(col("dev")).over(w))
        .withColumn("cus", col("s") - least(lit(0L), min(col("s")).over(w)))
      val peaks = scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("cus").desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), (col("day") * 86400L).as("peak_day_epoch"),
          col("cus").as("peak_cus"))
      val summary = scored.groupBy(col("event_type"))
        .agg(max(col("d")).as("n_days"), max(col("t")).as("total"),
          sum(when(col("cus") > lit(10L) * col("t"), 1L).otherwise(0L))
            .as("n_alarms"))
      summary.join(peaks, Seq("event_type"))
        .withColumn("max_cusum", expr(
          "CAST((2 * CAST(peak_cus AS DECIMAL(38,0)) * 1000000 + 10 * n_days) " +
            "DIV (2 * CAST(10 * n_days AS DECIMAL(38,0))) AS BIGINT)")
          .cast("double") / 1e6)
        .select(col("event_type"), col("n_days"), col("total"),
          col("max_cusum"), col("peak_day_epoch"), col("n_alarms"))
        .orderBy(col("event_type"))
    }),

    // --- exactly-proportioned stratified split (q215): the OTHER point
    // on the split-design tradeoff from q29/q163/q187's hash-threshold
    // splits — those are shuffle-free but binomially noisy per stratum;
    // this one buys |n_split - floor(frac*n)| == 0 EXACTLY, at the
    // price of one within-stratum sort (rank over fnv64 order — hash
    // order so the rank carries no content bias, doc_id tiebreak for
    // totality). The audit emits the per-source proof that the
    // construction kept its promise. At 100 TB the sort is per-stratum
    // and AQE-parallel; use this split when eval sizes must be exact,
    // the hash split when they need only be unbiased.
    "q215_exact_stratified_split" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          expr("fnv64(CAST(doc_id AS STRING))").as("hk"))
      val n = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val pos = d.join(broadcast(n), Seq("source"))
        .withColumn("pos", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("hk").asc, col("doc_id").asc)))
        .withColumn("split",
          // pos is IntegerType (row_number): the long cast keeps a
          // >214M-doc stratum from wrapping pos*10 negative (r14
          // review) — the oracle's ROW_NUMBER is already BIGINT
          when(col("pos").cast("long") * 10 <= col("n") * 8, "train")
            .when(col("pos").cast("long") * 10 <= col("n") * 9, "valid")
            .otherwise("test"))
      pos.groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "valid", 1L).otherwise(0L)).as("n_valid"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .withColumn("exact_ok",
          col("n_train") === expr("(8 * n_docs) DIV 10") &&
            col("n_valid") === expr("(9 * n_docs) DIV 10 - (8 * n_docs) DIV 10") &&
            col("n_test") === col("n_docs") - expr("(9 * n_docs) DIV 10"))
        .orderBy(col("source"))
    }),

    // --- right-to-be-forgotten audit (q216): the deletion-propagation
    // check a privacy pipeline runs after a purge — the deletion set
    // (here: users whose id hashes to 0 mod 13, a stand-in for the
    // request table), the purge itself as a size-gated anti-join
    // (broadcast while the deletion list stays tiny relative to the
    // corpus — then the fact table never shuffles — with the hash/
    // sort-merge fallbacks above that), and the audit: residual rows matching the
    // deletion set after the purge (must be 0, re-derived by a second
    // independent semi-join, not assumed) plus per-type conservation
    // (purged + retained == total).
    "q216_deletion_audit" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, dir)
      val del = ev.select(col("user_id")).distinct()
        .filter(pmod(expr("fnv64(CAST(user_id AS STRING))"), lit(13L)) === 0)
        .localCheckpoint()
      // the deletion list is ~1/13 of the USER UNIVERSE — it grows
      // with the corpus, so the purge hints ride the size-gated
      // [[Gates.batchHint]] ladder (broadcast while genuinely
      // small, hash-join under the per-task budget, sort-merge above);
      // del is checkpointed so the gate probe is one cached-block read
      val nDel = Gates.probeCount(del)
      val marked = ev.join(
        Gates.batchHint(del.withColumn("todel", lit(1)), nDel),
        Seq("user_id"), "left")
      val retained = ev.join(Gates.batchHint(del, nDel),
        Seq("user_id"), "left_anti")
      val residual = retained.join(Gates.batchHint(del, nDel),
        Seq("user_id"), "left_semi")
        .groupBy(col("event_type")).agg(count(lit(1)).as("res"))
      marked.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(col("todel")).as("n_to_delete"),
          count(when(col("todel").isNull, 1)).as("n_retained"))
        .join(residual, Seq("event_type"), "left")
        .withColumn("residual_after_purge", coalesce(col("res"), lit(0L)))
        .withColumn("conservation_ok",
          col("n_total") === col("n_to_delete") + col("n_retained"))
        .select(col("event_type"), col("n_total"), col("n_to_delete"),
          col("n_retained"), col("residual_after_purge"),
          col("conservation_ok"))
        .orderBy(col("event_type"))
    }),

    // --- language-mix diversity (q225): per-source language
    // concentration WITHOUT entropy's logarithm — Simpson concentration
    // Σp² and its inverse ("effective number of languages"), both pure
    // rationals in the counts, so the whole diversity report lands
    // exactly on the 1e-6 grid (the repo rule: a score that must
    // hash-match never meets a log or sqrt). One partial-agged pass to
    // (source, lang) counts — a (sources x langs)-bounded exchange —
    // then two grid divisions: simpson = Σc²/N², effective = N²/Σc².
    // The curation read: effective ≈ 1 is a monolingual source,
    // effective ≈ n_langs is a uniform mix.
    "q225_lang_diversity" -> ((s, dir) => {
      val sl = Tables.documents(s, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      sl.groupBy(col("source"))
        .agg(sum(col("c")).cast("long").as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("c2"))
        .withColumn("simpson", expr(
          "CAST((2 * c2 * 1000000 + CAST(n_docs AS DECIMAL(38,0)) * n_docs) " +
            "DIV (2 * CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)")
          .cast("double") / 1e6)
        .withColumn("effective_langs", expr(
          "CAST((2 * CAST(n_docs AS DECIMAL(38,0)) * n_docs * 1000000 + c2) " +
            "DIV (2 * c2) AS BIGINT)")
          .cast("double") / 1e6)
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("simpson"), col("effective_langs"))
        .orderBy(col("source"))
    }),

    // --- LPT shard packing (q217): plan a balanced re-layout BEFORE
    // moving 100 TB — the longest-processing-time greedy (sort sources
    // by size desc, assign each to the currently-lightest shard; the
    // classic 4/3-approximation to makespan). The corpus collapses to
    // |sources| sizes in one partial-agged scan; the greedy itself is a
    // ROW-LOCAL fold over that sorted, bounded list (accumulator = 16
    // longs: 8 loads + 8 counts) — no window, no iteration, no driver
    // loop. Pairs with q183: that audits the skew of an EXISTING key,
    // this plans the assignment that avoids it.
    "q217_shard_packing" -> ((s, dir) => {
      val sizes = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).cast("long").as("sz"))
      sizes.agg(sort_array(collect_list(
          struct((-col("sz")).as("negsz"), col("source"), col("sz")))).as("xs"))
        .withColumn("acc", expr(
          """aggregate(xs, array_repeat(CAST(0 AS BIGINT), 16),
            |  (acc, x) -> transform(sequence(1, 16), i ->
            |    CASE WHEN i = array_position(slice(acc, 1, 8),
            |                                 array_min(slice(acc, 1, 8)))
            |         THEN element_at(acc, i) + x.sz
            |         WHEN i = array_position(slice(acc, 1, 8),
            |                                 array_min(slice(acc, 1, 8))) + 8
            |         THEN element_at(acc, i) + 1
            |         ELSE element_at(acc, i) END))""".stripMargin))
        .select(explode(expr(
          """transform(sequence(0, 7), j -> struct(
            |  CAST(j AS BIGINT) AS shard,
            |  element_at(acc, j + 1) AS load,
            |  element_at(acc, j + 9) AS n_sources))""".stripMargin)).as("r"))
        .select(col("r.shard"), col("r.load"), col("r.n_sources"))
        .orderBy(col("shard"))
    }),

    // --- bot/automation detection (q219): per-user inter-event timing
    // stats — exact median gap (sorted per-user gap array, lower
    // median), sub-minute share, and a deterministic bot rule. The lag
    // window and per-user collect are the established per-user-stream
    // shape (q177/q181): state bounded by a user's own activity, the
    // exchange keyed on user_id. Thresholds fire on integer cross-
    // multiplications only. The planted-bot proof lives in
    // GovernanceSpec via [[botStats]].
    "q219_bot_detection" -> ((s, dir) =>
      botStats(Tables.events(s, dir)).orderBy(col("user_id"))),

    // --- Theil-Sen robust trend (q220): the median of pairwise slopes
    // over each type's daily counts — the estimator that shrugs off the
    // outlier days that wreck q159's OLS. All day PAIRS are formed on
    // the days-bounded grid (never corpus rows), the median is selected
    // by rank over a DOUBLE ordering key (identical IEEE division in
    // both engines, used ONLY to order) with a (num, den, day) total
    // tie-break, and the selected slope lands on the SIGNED half-up
    // grid (half-up on |num|, sign reapplied — Spark DIV truncates
    // toward zero; DuckDB //'s negative behavior is version-dependent
    // — 1.0.0 truncates too, other releases floor (probed r14) — the
    // abs/sign form is correct under EITHER; see the verify-skill rule).
    "q220_theil_sen" -> ((s, dir) => {
      val grid = restoredGrid(s, dir, 86400L, "day")
      val a = grid.select(col("event_type"), col("day").as("di"), col("c").as("ci"))
      val b = grid.select(col("event_type"), col("day").as("dj"), col("c").as("cj"))
      val pairs = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .withColumn("num", col("cj") - col("ci"))
        .withColumn("den", col("dj") - col("di"))
        .withColumn("sd", col("num").cast("double") / col("den").cast("double"))
      val ranked = pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("sd").asc, col("num").asc, col("den").asc, col("di").asc)))
      val np = pairs.groupBy(col("event_type")).agg(count(lit(1)).as("n_pairs"))
      ranked.join(broadcast(np), Seq("event_type"))
        .filter(col("rn") === expr("(n_pairs + 1) DIV 2"))
        .withColumn("slope", expr(
          """CASE WHEN num >= 0
            |  THEN (2 * CAST(num AS DECIMAL(38,0)) * 1000000 + den)
            |       DIV (2 * CAST(den AS DECIMAL(38,0)))
            |  ELSE -((2 * CAST(-num AS DECIMAL(38,0)) * 1000000 + den)
            |       DIV (2 * CAST(den AS DECIMAL(38,0)))) END""".stripMargin)
          .cast("long").cast("double") / 1e6)
        .select(col("event_type"), col("n_pairs"), col("slope"))
        .orderBy(col("event_type"))
    }),

    // --- intra-shard near-dup co-location risk (q221): if near-dup
    // pairs land in the SAME training shard, in-batch contrastive
    // sampling sees false negatives and dedup-per-shard misses
    // cross-shard dups — this audit measures both. The near-dup pair
    // graph (q34's df-capped builder, unsorted) is scored map-side:
    // each endpoint's shard is a pure expression (fnv64 mod 32, q126's
    // content-hash scheme), so the audit adds ZERO exchanges beyond the
    // pair builder itself. Under uniform hashing the expected intra
    // share is 1/32; the risk flag fires on a 2x exceedance, integer
    // cross-multiplied.
    "q221_intra_shard_dup_risk" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      LlmQueries.ngramJaccardPairs(s, dir)
        .withColumn("sa",
          pmod(expr("fnv64(CAST(doc_a AS STRING))"), lit(32L)))
        .withColumn("sb",
          pmod(expr("fnv64(CAST(doc_b AS STRING))"), lit(32L)))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("sa") === col("sb"), 1L).otherwise(0L)).as("n_intra"))
        .withColumn("intra_share",
          expr(gridDiv("n_intra", "greatest(n_pairs, 1)")).cast("long")
            .cast("double") / 1e6)
        .withColumn("expected_share", lit(31250L).cast("double") / 1e6)
        .withColumn("colocated_risk",
          col("n_intra") * 32 > col("n_pairs") * 2)
        .select(col("n_pairs"), col("n_intra"), col("intra_share"),
          col("expected_share"), col("colocated_risk"))
    }),

    // --- l-diversity + t-closeness audit (q228): the two refinements of
    // q204's k-anonymity (Machanavajjhala's l-diversity, Li's
    // t-closeness). k-anonymity alone is defeated by a HOMOGENEOUS
    // class: every row shares the sensitive value, so linking a person
    // to the class discloses it even at k=50. Here QI = (nation,
    // balance band), sensitive = market segment. Per class: l = distinct
    // sensitive values, and the t-closeness distance = total-variation
    // between the class's segment mix and the corpus mix — computed by
    // exact integer CROSS-multiplication (|cnt·N − g·n| summed over the
    // RESTORED class×segment grid; absent segments deviate too — the
    // q187/q209 lesson), halved and half-up onto the 1e-6 grid. Shape:
    // one partial-agged scan to (nation, band, segment) counts — the
    // exchange is bounded by the QI×sensitive DOMAIN, never rows — then
    // every subsequent frame is classes-bounded with 1-row/5-row
    // broadcasts; the grid restore is a classes×segments broadcast
    // cross. Report per nation: class count, worst (min) l, homogeneous
    // classes and the rows they expose, worst t, and the disclosure
    // share on the grid. At 100 TB the audit's cost stays one scan.
    "q228_l_diversity" -> ((s, dir) =>
      lDiversityAudit(Tables(s, dir, "customer")
        .select(col("c_nationkey").as("nat"),
          floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"),
          col("c_mktsegment").as("seg")))
        .orderBy(col("nat"))),

    // --- declared-vs-detected language confusion (q236): the label-
    // quality audit every multilingual corpus runs before trusting its
    // `lang` column — cross-tabulate the declared language against the
    // q31 marker-stopword prediction (the SAME factored chain, so the
    // audit certifies the predictor actually shipped) and report each
    // (declared, guess) cell's share of the declared language's docs.
    // Scale: the per-doc scoring is map-side expressions; the only
    // exchanges are the (lang, guess)-bounded confusion agg and the
    // langs-bounded totals, joined broadcast. Share on the ppm grid.
    "q236_lang_confusion" -> ((s, dir) =>
      langConfusion(Tables.documents(s, dir))
        .orderBy(col("lang"), col("guess"))),

    // --- contribution-bounded noisy release (q279): the DP-SQL shape
    // of publishing usage statistics from a 100 TB event log — (1)
    // bound each user's contribution per output cell (≤ DpCellCap
    // events per user per (event_type, hour) cell — the per-partition
    // contribution bounding of differentially-private SQL engines),
    // (2) add bounded integer noise per cell, (3) suppress cells whose
    // noisy count falls below the release threshold. The shipped noise
    // source is DETERMINISTIC (a keyed md5 draw mapped onto
    // [-DpNoiseB, +DpNoiseB]) so the release is replayable and
    // oracle-able; a production deployment swaps in true randomness —
    // the mechanism (cap → noise → threshold) is the operator. NULL
    // users carry no identity to bound, so their rows are excluded
    // from a user-level release (mirrored in the oracle WHERE).
    // Scale: two hash aggregations — (user, type, hr) with map-side
    // partial agg, then the cell grid (≤ types × 24 rows). No join,
    // no window, no per-user sort; skew-immune because the first
    // key set is high-cardinality and the cap bounds any one user's
    // weight.
    "q279_dp_event_release" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"), col("event_type"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(least(col("c"), lit(DpCellCap))).as("c"))
        .withColumn("noise", expr(
          "CAST(conv(substr(md5('dpn1|' || event_type || '|' || " +
            s"CAST(hr AS STRING)), 1, 12), 16, 10) AS BIGINT) % ${2 * DpNoiseB + 1} - $DpNoiseB"))
        .filter(col("c") + col("noise") >= DpReleaseTau)
        .select(col("event_type"), col("hr"),
          (col("c") + col("noise")).as("released"))
        .orderBy(col("event_type"), col("hr")))
  )

  /** q279 mechanism constants — shared with the oracle text. Cap 2
    * binds on real sf0.01 cells (322 user-cells exceed it), B=10 keeps
    * noise within ±12.5% of typical cell counts, τ=80 suppresses ~half
    * the sf0.01 grid so both branches stay exercised at the gate
    * scale. */
  private[graft] val DpCellCap = 2L
  private[graft] val DpNoiseB = 10
  private[graft] val DpReleaseTau = 80

  /** q236's engine over a (lang, text) frame — factored so the spec
    * can plant mislabeled docs and pin the off-diagonal cell and the
    * per-language shares. */
  private[graft] def langConfusion(docs: DataFrame): DataFrame = {
    val cm = LlmQueries.langGuess(docs)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cm.groupBy(col("lang"))
      .agg(sum(col("n_docs")).cast("long").as("n_lang"))
    cm.join(broadcast(tot), Seq("lang"))
      // gridDiv, not a re-pasted plain-BIGINT division: the one
      // overflow-safe micro-grid definition (r14 review — this was
      // the single site the d0bd95e consolidation missed)
      .withColumn("share_ppm", expr(gridDiv("n_docs", "n_lang")))
      .select(col("lang"), col("guess"), col("n_docs"), col("n_lang"),
        (col("share_ppm").cast("double") / 1e6).as("share"))
  }

  /** q228's audit core over any (nat, band, seg) projection — factored
    * so the spec can certify closed-form plants: a homogeneous class is
    * counted and its rows exposed; a class whose sensitive mix equals
    * the corpus mix scores t = 0 exactly. See the q228 entry comment
    * for the shape argument. */
  private[graft] def lDiversityAudit(rows: DataFrame): DataFrame = {
    val cells = rows
      .groupBy(col("nat"), col("band"), col("seg"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // QI×segment-bounded; feeds three rollups
    val segMix = cells.groupBy(col("seg")).agg(sum(col("cnt")).as("g"))
    val total = segMix.agg(sum(col("g")).cast("long").as("n_tot"))
    val classes = cells.groupBy(col("nat"), col("band"))
      .agg(sum(col("cnt")).cast("long").as("n_class"),
        count(lit(1)).as("l"))
    val tvd = classes
      .crossJoin(broadcast(segMix)) // restore absent segments
      .join(cells.withColumnRenamed("cnt", "c_cnt"),
        Seq("nat", "band", "seg"), "left")
      .withColumn("c_cnt", coalesce(col("c_cnt"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("dev", expr(
        "abs(CAST(c_cnt AS DECIMAL(38,0)) * n_tot - CAST(g AS DECIMAL(38,0)) * n_class)"))
      .groupBy(col("nat"), col("band"), col("n_class"), col("l"),
        col("n_tot"))
      .agg(sum(col("dev")).as("sdev"))
      .withColumn("tvd_ppm", expr(
        "(2 * sdev * 1000000 + 2 * CAST(n_class AS DECIMAL(38,0)) * n_tot) " +
          "DIV (4 * CAST(n_class AS DECIMAL(38,0)) * n_tot)").cast("long"))
    tvd.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("n_class")).cast("long").as("n_rows"),
        min(col("l")).as("min_l"),
        sum(when(col("l") === 1, 1L).otherwise(0L)).as("homogeneous_classes"),
        sum(when(col("l") === 1, col("n_class")).otherwise(lit(0L)))
          .cast("long").as("rows_disclosed"),
        max(col("tvd_ppm")).as("max_tvd_ppm"))
      .withColumn("disclosure_risk",
        expr(gridDiv("rows_disclosed", "n_rows")).cast("long")
          .cast("double") / 1e6)
      .select(col("nat"), col("n_classes"), col("n_rows"), col("min_l"),
        col("homogeneous_classes"), col("rows_disclosed"),
        (col("max_tvd_ppm").cast("double") / 1e6).as("max_tvd"),
        col("disclosure_risk"))
  }

  /** q219's per-user timing stats over any (user_id, ts, event_id)
    * stream — factored so the spec can feed a PLANTED bot frame and
    * prove the rule fires. Gaps in whole seconds (identical floor in
    * both engines); median = lower median of the sorted gap array. */
  private[graft] def botStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("es"))
      .withColumn("gap", col("es") - lag(col("es"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(col("gap"))).as("gaps"))
      .withColumn("n_gaps", size(col("gaps")))
      .filter(col("n_gaps") >= 1)
      .withColumn("median_gap",
        expr("element_at(gaps, CAST((n_gaps + 1) DIV 2 AS INT))"))
      .withColumn("n_fast",
        expr("size(filter(gaps, g -> g < 60))").cast("long"))
      .withColumn("is_bot",
        col("median_gap") < 300 && col("n_fast") * 2 > col("n_gaps") &&
          col("n_events") >= 20)
      .select(col("user_id"), col("n_events"), col("median_gap"),
        col("n_fast"), col("is_bot"))
  }

  def oracles: Map[String, String] = Map(

    "q204_k_anonymity" ->
      """WITH classes AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    COUNT(*) AS k
        |  FROM customer GROUP BY 1, 2, 3),
        |seg AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_classes,
        |    CAST(SUM(k) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS singleton_classes,
        |    CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |      AS rows_below_k5,
        |    MIN(k) AS min_k
        |  FROM classes GROUP BY 1)
        |SELECT c_mktsegment, n_classes, n_rows, singleton_classes,
        |  rows_below_k5, min_k,
        |  CAST(CAST((2 * singleton_classes::HUGEINT * 1000000 + n_rows) //
        |    (2 * n_rows::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS reident_risk
        |FROM seg ORDER BY c_mktsegment""".stripMargin,

    "q206_incremental_agg" ->
      """WITH ev AS (
        |  SELECT user_id, ts, CAST(value AS DECIMAL(38,6)) AS v FROM events),
        |base AS (
        |  SELECT user_id, COUNT(*) AS n, SUM(v) AS sv, MAX(ts) AS mx
        |  FROM ev WHERE ts < TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1),
        |delta AS (
        |  SELECT user_id, COUNT(*) AS n, SUM(v) AS sv, MAX(ts) AS mx
        |  FROM ev WHERE ts >= TIMESTAMP '2024-01-24 00:00:00' GROUP BY 1),
        |merged AS (
        |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv,
        |    MAX(mx) AS mx
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |  GROUP BY 1),
        |direct AS (
        |  SELECT user_id, COUNT(*) AS dn, SUM(v) AS dsv, MAX(ts) AS dmx
        |  FROM ev GROUP BY 1)
        |SELECT ((m.user_id % 16) + 16) % 16 AS bucket,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(m.n) AS BIGINT) AS n_events,
        |  round(CAST(SUM(m.sv) AS DOUBLE), 2) AS sum_value,
        |  BOOL_AND(m.n = d.dn AND m.sv = d.dsv AND m.mx = d.dmx) AS all_match
        |FROM merged m JOIN direct d USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q207_exact_quantiles" ->
      """WITH c AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |tot AS (SELECT COUNT(*) AS n FROM c),
        |t(quantile, qn) AS (VALUES ('p25', 25), ('p50', 50),
        |                           ('p75', 75), ('p99', 99)),
        |r AS (SELECT quantile, (tot.n * qn + 99) // 100 AS rank, tot.n
        |      FROM t, tot),
        |ranked AS (
        |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c)
        |SELECT r.quantile, r.rank, r.n,
        |  CAST(ranked.cents AS DOUBLE) / 100.0 AS value
        |FROM r JOIN ranked ON ranked.rn = r.rank
        |ORDER BY r.quantile""".stripMargin,

    "q209_seasonal_anomaly" ->
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
        |scored AS (
        |  SELECT g.slot, g.event_type, g.c,
        |    CAST((2 * abs(g.c::HUGEINT * b.nh - b.t) * 1000000 + b.nh) //
        |      (2 * b.nh::HUGEINT) AS BIGINT) AS dev_micro,
        |    CAST((2 * b.t::HUGEINT * 1000000 + b.nh) //
        |      (2 * b.nh::HUGEINT) AS BIGINT) AS exp_micro
        |  FROM grid g JOIN base b
        |    ON b.how = g.how AND b.event_type = g.event_type
        |  ORDER BY dev_micro DESC, g.event_type ASC, g.slot ASC LIMIT 20)
        |SELECT slot * 3600 AS slot_epoch, event_type, c AS obs,
        |  CAST(exp_micro AS DOUBLE) / 1000000.0 AS expected,
        |  CAST(dev_micro AS DOUBLE) / 1000000.0 AS deviation
        |FROM scored""".stripMargin,

    "q210_token_gini" ->
      """WITH tf AS (
        |  SELECT source, tok, COUNT(*) AS f FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source, f,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY f ASC, tok ASC) AS i
        |  FROM tf),
        |agg AS (
        |  SELECT source, COUNT(*) AS vocab,
        |    CAST(SUM(f) AS BIGINT) AS tokens,
        |    CAST(MAX(f) AS BIGINT) AS top_f,
        |    SUM(i::HUGEINT * f) AS w
        |  FROM ranked GROUP BY 1)
        |SELECT source, vocab, tokens,
        |  CAST(CAST((2 * top_f::HUGEINT * 1000000 + tokens) //
        |    (2 * tokens::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS top_share,
        |  CAST(CAST((2 * (2 * w - (vocab + 1) * tokens::HUGEINT) * 1000000 +
        |    vocab::HUGEINT * tokens) //
        |    (2 * vocab::HUGEINT * tokens) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS gini
        |FROM agg ORDER BY source""".stripMargin,

    "q212_profile_diff" ->
      """WITH a AS (
        |  SELECT
        |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN 1 END) AS n_b,
        |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 END) AS n_d,
        |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' AND event_type IS NULL THEN 1 END) AS et_null_b,
        |    COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN event_type END) AS et_d_b,
        |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' AND event_type IS NULL THEN 1 END) AS et_null_d,
        |    COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN event_type END) AS et_d_d,
        |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' AND user_id IS NULL THEN 1 END) AS u_null_b,
        |    COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN user_id END) AS u_d_b,
        |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' AND user_id IS NULL THEN 1 END) AS u_null_d,
        |    COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN user_id END) AS u_d_d,
        |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' AND value IS NULL THEN 1 END) AS v_null_b,
        |    COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN value END) AS v_d_b,
        |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' AND value IS NULL THEN 1 END) AS v_null_d,
        |    COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN value END) AS v_d_d,
        |    COUNT(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' AND props IS NULL THEN 1 END) AS p_null_b,
        |    COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00' THEN props END) AS p_d_b,
        |    COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' AND props IS NULL THEN 1 END) AS p_null_d,
        |    COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN props END) AS p_d_d
        |  FROM events),
        |m AS (
        |  SELECT 'event_type' AS column_name, n_b, n_d, et_null_b AS nulls_b,
        |    et_d_b AS dist_b, et_null_d AS nulls_d, et_d_d AS dist_d FROM a
        |  UNION ALL SELECT 'props', n_b, n_d, p_null_b, p_d_b, p_null_d, p_d_d FROM a
        |  UNION ALL SELECT 'user_id', n_b, n_d, u_null_b, u_d_b, u_null_d, u_d_d FROM a
        |  UNION ALL SELECT 'value', n_b, n_d, v_null_b, v_d_b, v_null_d, v_d_d FROM a),
        |g AS (
        |  SELECT column_name, n_b, n_d, dist_b, dist_d,
        |    CAST((2 * nulls_b::HUGEINT * 1000000 + n_b) // (2 * n_b::HUGEINT) AS BIGINT) AS nr_b,
        |    CAST((2 * nulls_d::HUGEINT * 1000000 + n_d) // (2 * n_d::HUGEINT) AS BIGINT) AS nr_d,
        |    CAST((2 * dist_b::HUGEINT * 1000000 + n_b) // (2 * n_b::HUGEINT) AS BIGINT) AS dr_b,
        |    CAST((2 * dist_d::HUGEINT * 1000000 + n_d) // (2 * n_d::HUGEINT) AS BIGINT) AS dr_d
        |  FROM m)
        |SELECT column_name, CAST(n_b AS BIGINT) AS base_n,
        |  CAST(n_d AS BIGINT) AS delta_n,
        |  CAST(dist_b AS BIGINT) AS base_distinct,
        |  CAST(dist_d AS BIGINT) AS delta_distinct,
        |  CAST(nr_b AS DOUBLE) / 1000000.0 AS base_null_rate,
        |  CAST(nr_d AS DOUBLE) / 1000000.0 AS delta_null_rate,
        |  (dr_d * 2 < dr_b OR dr_d > dr_b * 2 OR abs(nr_b - nr_d) > 10000)
        |    AS drift
        |FROM g ORDER BY column_name""".stripMargin,

    "q213_ab_test" -> {
      val h = LlmQueries.wrapSigned(
        LlmQueries.fnvSqlOf("CAST(user_id AS VARCHAR)"))
      s"""WITH u AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         |arms AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm, conv FROM u),
         |t AS (
         |  SELECT
         |    COUNT(CASE WHEN arm = 0 THEN 1 END) AS arm0_users,
         |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS arm0_conv,
         |    COUNT(CASE WHEN arm = 1 THEN 1 END) AS arm1_users,
         |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS arm1_conv
         |  FROM arms),
         |c AS (
         |  SELECT *,
         |    (arm0_conv::HUGEINT * (arm1_users - arm1_conv) -
         |     arm1_conv::HUGEINT * (arm0_users - arm0_conv)) AS det,
         |    greatest(arm0_users::HUGEINT * arm1_users *
         |      (arm0_conv + arm1_conv) *
         |      (arm0_users + arm1_users - arm0_conv - arm1_conv), 1) AS den
         |  FROM t)
         |SELECT arm0_users, arm0_conv, arm1_users, arm1_conv,
         |  CAST(CAST((2 * arm0_conv::HUGEINT * 1000000 + greatest(arm0_users, 1)) //
         |    (2 * greatest(arm0_users, 1)::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0 AS rate0,
         |  CAST(CAST((2 * arm1_conv::HUGEINT * 1000000 + greatest(arm1_users, 1)) //
         |    (2 * greatest(arm1_users, 1)::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0 AS rate1,
         |  CAST(CAST((2 * (arm0_users + arm1_users) * det * det * 1000000 + den) //
         |    (2 * den) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
         |FROM c""".stripMargin
    },

    "q214_cusum_changepoint" ->
      """WITH ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |obs AS (SELECT day, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM obs),
        |types AS (SELECT DISTINCT event_type FROM obs),
        |grid AS (
        |  SELECT d.day, t.event_type, COALESCE(o.c, 0) AS c
        |  FROM days d CROSS JOIN types t
        |  LEFT JOIN obs o ON o.day = d.day AND o.event_type = t.event_type),
        |base AS (
        |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS d
        |  FROM grid GROUP BY 1),
        |scored AS (
        |  SELECT g.event_type, g.day, b.t, b.d,
        |    SUM(10 * g.c * b.d - 11 * b.t) OVER
        |      (PARTITION BY g.event_type ORDER BY g.day
        |       ROWS UNBOUNDED PRECEDING) AS s
        |  FROM grid g JOIN base b ON b.event_type = g.event_type),
        |cus AS (
        |  SELECT event_type, day, t, d,
        |    s - least(0, MIN(s) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING)) AS cus
        |  FROM scored),
        |peaks AS (
        |  SELECT event_type, day * 86400 AS peak_day_epoch, cus AS peak_cus
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY cus DESC, day ASC) AS rn FROM cus)
        |  WHERE rn = 1),
        |summary AS (
        |  SELECT event_type, MAX(d) AS n_days, MAX(t) AS total,
        |    CAST(SUM(CASE WHEN cus > 10 * t THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_alarms
        |  FROM cus GROUP BY 1)
        |SELECT s.event_type, s.n_days, s.total,
        |  CAST(CAST((2 * p.peak_cus::HUGEINT * 1000000 + 10 * s.n_days) //
        |    (2 * (10 * s.n_days)::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS max_cusum,
        |  p.peak_day_epoch, s.n_alarms
        |FROM summary s JOIN peaks p ON p.event_type = s.event_type
        |ORDER BY s.event_type""".stripMargin,

    "q215_exact_stratified_split" -> {
      val h = LlmQueries.wrapSigned(
        LlmQueries.fnvSqlOf("CAST(doc_id AS VARCHAR)"))
      s"""WITH d AS (
         |  SELECT source, doc_id, $h AS hk FROM documents),
         |n AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
         |p AS (
         |  SELECT d.source, n.n,
         |    ROW_NUMBER() OVER (PARTITION BY d.source
         |      ORDER BY d.hk ASC, d.doc_id ASC) AS pos
         |  FROM d JOIN n ON n.source = d.source),
         |sp AS (
         |  SELECT source, n,
         |    CASE WHEN pos * 10 <= n * 8 THEN 'train'
         |         WHEN pos * 10 <= n * 9 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM p),
         |agg AS (
         |  SELECT source, MAX(n) AS n_docs,
         |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |  FROM sp GROUP BY 1)
         |SELECT source, n_docs, n_train, n_valid, n_test,
         |  (n_train = (8 * n_docs) // 10 AND
         |   n_valid = (9 * n_docs) // 10 - (8 * n_docs) // 10 AND
         |   n_test = n_docs - (9 * n_docs) // 10) AS exact_ok
         |FROM agg ORDER BY source""".stripMargin
    },

    "q216_deletion_audit" -> {
      val h = LlmQueries.wrapSigned(
        LlmQueries.fnvSqlOf("CAST(user_id AS VARCHAR)"))
      s"""WITH del AS (
         |  SELECT DISTINCT user_id FROM events
         |  WHERE (($h % 13) + 13) % 13 = 0),
         |marked AS (
         |  SELECT e.event_type,
         |    CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS todel
         |  FROM events e LEFT JOIN del d ON d.user_id = e.user_id),
         |retained AS (
         |  SELECT e.* FROM events e ANTI JOIN del d ON d.user_id = e.user_id),
         |residual AS (
         |  SELECT r.event_type, COUNT(*) AS res
         |  FROM retained r SEMI JOIN del d ON d.user_id = r.user_id
         |  GROUP BY 1)
         |SELECT m.event_type,
         |  COUNT(*) AS n_total,
         |  CAST(SUM(todel) AS BIGINT) AS n_to_delete,
         |  CAST(SUM(1 - todel) AS BIGINT) AS n_retained,
         |  COALESCE(MAX(res.res), 0) AS residual_after_purge,
         |  COUNT(*) = SUM(todel) + SUM(1 - todel) AS conservation_ok
         |FROM marked m LEFT JOIN residual res ON res.event_type = m.event_type
         |GROUP BY m.event_type ORDER BY m.event_type""".stripMargin
    },

    "q225_lang_diversity" ->
      """WITH sl AS (
        |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |a AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |    COUNT(*) AS n_langs, SUM(c::HUGEINT * c) AS c2
        |  FROM sl GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(CAST((2 * c2 * 1000000 + n_docs::HUGEINT * n_docs) //
        |    (2 * n_docs::HUGEINT * n_docs) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS simpson,
        |  CAST(CAST((2 * n_docs::HUGEINT * n_docs * 1000000 + c2) //
        |    (2 * c2) AS BIGINT) AS DOUBLE) / 1000000.0 AS effective_langs
        |FROM a ORDER BY source""".stripMargin,

    "q217_shard_packing" ->
      """WITH RECURSIVE sizes AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1),
        |ord AS (SELECT source, sz,
        |          ROW_NUMBER() OVER (ORDER BY sz DESC, source ASC) AS rn
        |        FROM sizes),
        |n AS (SELECT COUNT(*) AS c FROM ord),
        |fold AS (
        |  SELECT 0 AS i, [0,0,0,0,0,0,0,0]::HUGEINT[] AS loads,
        |    [0,0,0,0,0,0,0,0]::HUGEINT[] AS cnts
        |  UNION ALL
        |  SELECT i + 1,
        |    list_transform(range(1, 9), j -> CASE
        |      WHEN j = list_indexof(f.loads, list_min(f.loads))
        |      THEN f.loads[j] + o.sz ELSE f.loads[j] END),
        |    list_transform(range(1, 9), j -> CASE
        |      WHEN j = list_indexof(f.loads, list_min(f.loads))
        |      THEN f.cnts[j] + 1 ELSE f.cnts[j] END)
        |  FROM fold f JOIN ord o ON o.rn = f.i + 1),
        |fin AS (SELECT loads, cnts FROM fold, n WHERE i = n.c)
        |SELECT j - 1 AS shard, CAST(loads[j] AS BIGINT) AS load,
        |  CAST(cnts[j] AS BIGINT) AS n_sources
        |FROM fin, (SELECT unnest(range(1, 9)) AS j)
        |ORDER BY shard""".stripMargin,

    "q219_bot_detection" ->
      """WITH g AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events),
        |l AS (
        |  SELECT user_id,
        |    es - LAG(es) OVER (PARTITION BY user_id
        |      ORDER BY es ASC, event_id ASC) AS gap
        |  FROM g),
        |u AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list(gap ORDER BY gap ASC) FILTER (WHERE gap IS NOT NULL) AS gaps
        |  FROM l GROUP BY 1),
        |st AS (
        |  SELECT user_id, n_events, len(gaps) AS n_gaps,
        |    gaps[CAST((len(gaps) + 1) // 2 AS INT)] AS median_gap,
        |    CAST(len(list_filter(gaps, x -> x < 60)) AS BIGINT) AS n_fast
        |  FROM u WHERE len(gaps) >= 1)
        |SELECT user_id, n_events, median_gap, n_fast,
        |  (median_gap < 300 AND n_fast * 2 > n_gaps AND n_events >= 20)
        |    AS is_bot
        |FROM st ORDER BY user_id""".stripMargin,

    "q220_theil_sen" ->
      """WITH ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |obs AS (SELECT day, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM obs),
        |types AS (SELECT DISTINCT event_type FROM obs),
        |grid AS (
        |  SELECT d.day, t.event_type, COALESCE(o.c, 0) AS c
        |  FROM days d CROSS JOIN types t
        |  LEFT JOIN obs o ON o.day = d.day AND o.event_type = t.event_type),
        |pairs AS (
        |  SELECT a.event_type, a.day AS di,
        |    b.c - a.c AS num, b.day - a.day AS den,
        |    CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS sd
        |  FROM grid a JOIN grid b
        |    ON b.event_type = a.event_type AND a.day < b.day),
        |np AS (SELECT event_type, COUNT(*) AS n_pairs FROM pairs GROUP BY 1),
        |r AS (
        |  SELECT p.event_type, p.num, p.den, np.n_pairs,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_type
        |      ORDER BY p.sd ASC, p.num ASC, p.den ASC, p.di ASC) AS rn
        |  FROM pairs p JOIN np ON np.event_type = p.event_type)
        |SELECT event_type, n_pairs,
        |  CAST(CASE WHEN num >= 0
        |    THEN CAST((2 * num::HUGEINT * 1000000 + den) //
        |      (2 * den::HUGEINT) AS BIGINT)
        |    ELSE -CAST((2 * (-num)::HUGEINT * 1000000 + den) //
        |      (2 * den::HUGEINT) AS BIGINT) END AS DOUBLE) / 1000000.0
        |    AS slope
        |FROM r WHERE rn = (n_pairs + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "q221_intra_shard_dup_risk" -> {
      val sa = LlmQueries.wrapSigned(
        LlmQueries.fnvSqlOf("CAST(doc_a AS VARCHAR)"))
      val sb = LlmQueries.wrapSigned(
        LlmQueries.fnvSqlOf("CAST(doc_b AS VARCHAR)"))
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000,
         |    array_to_string(string_split_regex(trim(text), '\\s+')[1:greatest(
         |      len(string_split_regex(trim(text), '\\s+')) - 5, 1)], ' ')
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
         |    list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
         |    ELSE [] END) AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         |        FROM corpus)),
         |ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sh),
         |exd AS (SELECT doc_id, sz, s,
         |          COUNT(*) OVER (PARTITION BY s) AS df FROM ex),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING COUNT(*) / (a.sz + b.sz - COUNT(*)) >= 0.5
         |    AND MIN(a.df) <= 256),
         |sc AS (
         |  SELECT ((($sa) % 32) + 32) % 32 AS sa,
         |         ((($sb) % 32) + 32) % 32 AS sb
         |  FROM pairs),
         |agg AS (
         |  SELECT COUNT(*) AS n_pairs,
         |    CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_intra
         |  FROM sc)
         |SELECT n_pairs, n_intra,
         |  CAST(CAST((2 * n_intra::HUGEINT * 1000000 + greatest(n_pairs, 1)) //
         |    (2 * greatest(n_pairs, 1)::HUGEINT) AS BIGINT) AS DOUBLE)
         |    / 1000000.0 AS intra_share,
         |  CAST(0.03125 AS DOUBLE) AS expected_share,
         |  n_intra * 32 > n_pairs * 2 AS colocated_risk
         |FROM agg""".stripMargin
    },

    "q211_conservation_check" -> {
      val fpH = LlmQueries.fnvSqlOf(
        "CAST(doc_id AS VARCHAR) || ':' || md5(text)")
      val shardH = LlmQueries.fnvSqlOf("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT source,
         |    ((${LlmQueries.wrapSigned(shardH)} % 32) + 32) % 32 AS shard,
         |    ${LlmQueries.wrapSigned(fpH)} AS fp
         |  FROM documents),
         |direct AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    CAST(((SUM(fp::HUGEINT) % 2305843009213693951) +
         |      2305843009213693951) % 2305843009213693951 AS BIGINT)
         |      AS checksum
         |  FROM d GROUP BY 1),
         |parts AS (
         |  SELECT shard, source, COUNT(*) AS n, SUM(fp::HUGEINT) AS cs
         |  FROM d GROUP BY 1, 2),
         |via AS (
         |  SELECT source, CAST(SUM(n) AS BIGINT) AS n2,
         |    CAST(((SUM(cs) % 2305843009213693951) +
         |      2305843009213693951) % 2305843009213693951 AS BIGINT)
         |      AS checksum2
         |  FROM parts GROUP BY 1)
         |SELECT direct.source, n_docs, checksum,
         |  (n_docs = n2 AND checksum = checksum2) AS matches
         |FROM direct JOIN via ON via.source = direct.source
         |ORDER BY direct.source""".stripMargin
    },

    // QI×segment cells, restored grid, integer cross-multiplied TVD —
    // the q228 chain re-derived with HUGEINT products.
    "q228_l_diversity" ->
      """WITH cells AS (SELECT c_nationkey AS nat,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
        |    c_mktsegment AS seg, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2, 3),
        |segmix AS (SELECT seg, SUM(cnt) AS g FROM cells GROUP BY 1),
        |total AS (SELECT CAST(SUM(g) AS BIGINT) AS n_tot FROM segmix),
        |classes AS (SELECT nat, band, CAST(SUM(cnt) AS BIGINT) AS n_class,
        |    COUNT(*) AS l
        |  FROM cells GROUP BY 1, 2),
        |grid AS (SELECT c.nat, c.band, c.n_class, c.l, s.seg, s.g,
        |    t.n_tot, COALESCE(x.cnt, 0) AS c_cnt
        |  FROM classes c CROSS JOIN segmix s CROSS JOIN total t
        |  LEFT JOIN cells x
        |    ON x.nat = c.nat AND x.band = c.band AND x.seg = s.seg),
        |tvd AS (SELECT nat, band, n_class, l, n_tot,
        |    SUM(abs(c_cnt::HUGEINT * n_tot - g::HUGEINT * n_class))
        |      AS sdev
        |  FROM grid GROUP BY 1, 2, 3, 4, 5),
        |tv AS (SELECT nat, band, n_class, l,
        |    (2 * sdev * 1000000 + 2 * n_class::HUGEINT * n_tot) //
        |      (4 * n_class::HUGEINT * n_tot) AS tvd_ppm
        |  FROM tvd)
        |SELECT nat, COUNT(*) AS n_classes,
        |  CAST(SUM(n_class) AS BIGINT) AS n_rows, MIN(l) AS min_l,
        |  CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS homogeneous_classes,
        |  CAST(SUM(CASE WHEN l = 1 THEN n_class ELSE 0 END) AS BIGINT)
        |    AS rows_disclosed,
        |  CAST(CAST(MAX(tvd_ppm) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS max_tvd,
        |  CAST(CAST((2 * SUM(CASE WHEN l = 1 THEN n_class ELSE 0
        |      END)::HUGEINT * 1000000 + SUM(n_class)) //
        |    (2 * SUM(n_class)::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS disclosure_risk
        |FROM tv GROUP BY nat ORDER BY nat""".stripMargin,

    // q31's predictor chain re-derived, then the (declared, guess)
    // cross-tab with per-declared-language shares on the ppm grid.
    "q236_lang_confusion" ->
      """WITH t AS (SELECT lang, string_split_regex(trim(text), '\s+') AS tk
        |           FROM documents),
        |sc AS (SELECT lang,
        |  len(list_filter(tk, x -> x IN ('the', 'a', 'and', 'of', 'is'))) AS sc_en,
        |  len(list_filter(tk, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS sc_de,
        |  len(list_filter(tk, x -> x IN ('le', 'la', 'et', 'les', 'est'))) AS sc_fr,
        |  len(list_filter(tk, x -> x IN ('el', 'la', 'y', 'los', 'es'))) AS sc_es
        |  FROM t),
        |g AS (SELECT lang,
        |  CASE WHEN sc_de > sc_en THEN 'de' WHEN sc_fr > sc_en THEN 'fr'
        |       WHEN sc_es > sc_en THEN 'es' ELSE 'en' END AS guess
        |  FROM sc),
        |cm AS (SELECT lang, guess, COUNT(*) AS n_docs FROM g GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
        |  FROM cm GROUP BY 1)
        |SELECT cm.lang, cm.guess, CAST(cm.n_docs AS BIGINT) AS n_docs,
        |  tot.n_lang,
        |  CAST(CAST((2 * cm.n_docs::HUGEINT * 1000000 + tot.n_lang) //
        |    (2 * tot.n_lang::HUGEINT) AS BIGINT) AS DOUBLE) / 1000000.0 AS share
        |FROM cm JOIN tot USING (lang) ORDER BY lang, guess""".stripMargin,

    // q279: identical cap → deterministic noise → threshold chain; the
    // md5-prefix draw is the same 48-bit integer in both engines.
    "q279_dp_event_release" ->
      s"""WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
         |uc AS (SELECT user_id, event_type, CAST(hour(ts) AS BIGINT) AS hr,
         |  count(*) AS c FROM ev GROUP BY 1, 2, 3),
         |grid AS (SELECT event_type, hr,
         |  CAST(sum(least(c, $DpCellCap)) AS BIGINT) AS c
         |  FROM uc GROUP BY 1, 2),
         |noi AS (SELECT event_type, hr, c,
         |  CAST(CAST('0x' || substr(md5('dpn1|' || event_type || '|' ||
         |    CAST(hr AS STRING)), 1, 12) AS UBIGINT) AS BIGINT)
         |    % ${2 * DpNoiseB + 1} - $DpNoiseB AS noise
         |  FROM grid)
         |SELECT event_type, hr, c + noise AS released
         |FROM noi WHERE c + noise >= $DpReleaseTau
         |ORDER BY event_type, hr""".stripMargin
  )
}
