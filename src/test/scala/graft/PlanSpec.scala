package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties the 100 TB design depends on
  * must hold in the ACTUAL plans, not just in intent — predicate pushdown
  * reaching the parquet scan, column pruning in ReadSchema, broadcast
  * joins for dimension tables, and shuffle-free render pipelines. A
  * regression that silently turns a broadcast join into a sort-merge join
  * or re-reads dropped columns fails here, not in a cluster bill.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _
  val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("q02 filter+project: predicates pushed to parquet, schema pruned to 4 columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema must not include unused columns
    assert(!p.contains("l_extendedprice"), p)
    assert(!p.contains("l_tax"), p)
  }

  test("q03/q04 star joins broadcast every dimension (no shuffle join)") {
    for (q <- Seq("q03_join_broadcast", "q04_join_multiway")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("SortMergeJoin"), s"$q: $p")
    }
  }

  test("q05 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q05_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q01 aggregation has map-side partial aggregation") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("HashAggregate"), p)
    // partial + final pairs: at least two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("render pipeline (q19) is shuffle-free scan->project apart from the output sort") {
    val p = plan("q19_render_timestamp")
    // only the final orderBy may exchange; no join/agg shuffles
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
  }

  test("q37/q66/q89 knn family: anchors broadcast, top-k is a bounded-heap aggregate, no pair-stream window") {
    // The brute-force kNN family must never sort a corpus-sized pair
    // stream per anchor: anchors broadcast, and top-k is the TopK
    // bounded-heap aggregate (ObjectHashAggregate) whose exchange
    // carries O(anchors x k) — a Window keyed by query_id here would
    // funnel each anchor's whole pair stream through one sort task.
    for (qn <- Seq("q37_knn_cosine", "q66_int8_topk", "q89_matryoshka")) {
      val p = plan(qn)
      assert(p.contains("Broadcast"), s"$qn: $p")
      assert(!p.contains("SortMergeJoin"), s"$qn: $p")
      assert(!p.contains("Window"), s"$qn: $p")
      assert(p.contains("ObjectHashAggregate"), s"$qn: $p")
    }
  }

  test("q26 as-of join plans with NO join operator (union + single-key window)") {
    val p = plan("q26_asof_join")
    // the naive as-of (equi-join then prune) explodes pairs; the union+
    // running-last form must contain a Window and no join of any kind
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q34 df-capped dedup: memoized gate, one prefix join with the df predicate") {
    // Since round 11 the q34 GATE plan sits on the memoized pair stage
    // (StageMemo): a materialized RDD scan + presentation sort, nothing
    // recomputed — pin exactly that.
    val gate = plan("q34_ngram_jaccard")
    assert(gate.contains("Scan ExistingRDD"), gate)
    assert(!gate.contains("Join"), gate)
    // The stage BUILD itself (pre-memo plan shape): the prefix join at
    // t=0.5 under the df cap. The cap is one predicate on the prefix
    // index's df column, never a hot-key set anti-joined off the index.
    // Drive the builder on an inline corpus so the memo cannot mask the
    // shape.
    import org.apache.spark.sql.functions.{array, col, lit}
    val docsets = spark.range(0, 50)
      .select(col("id").as("doc_id"), lit(3).as("sz"),
        array(lit(7L), col("id") * 10 + 1000, col("id") * 10 + 1001).as("hk"))
    val idx = graft.operators.LlmQueries.prefixIndex(docsets, 5, Some(256))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""\(df#\d+L <= 256\)""".r.findFirstIn(idx).isDefined, idx)
    assert(!idx.contains("Anti"), idx)
    val p = graft.operators.LlmQueries.prefixFilterPairs(docsets, 5, Some(256))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Anti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q39 multi-table LSH: query side broadcast, bounded-heap top-k, no window") {
    val p = plan("q39_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // candidate ranking must be the TopK aggregate — a hot LSH bucket
    // would otherwise sort its whole candidate stream in one window task
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q29 content-hash split is map-side + one partial-agg shuffle") {
    val p = plan("q29_train_split")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
    assert(!p.contains("Join"), p)
  }

  test("q61 tf-idf: corpus count broadcast; vocabulary join unhinted (AQE decides)") {
    // The vocabulary join deliberately carries NO broadcast hint (a raw
    // 100 TB vocabulary is multi-GB): the initial plan may pick any
    // shuffle join on `term`, and AQE downgrades to broadcast at runtime
    // when the measured df side is small. Pin only what must hold at any
    // scale: the one-row corpus count broadcasts, and nothing goes
    // cartesian.
    val p = plan("q61_tfidf")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q62 bigrams: partial aggregation then global top-k, no full sort of the corpus") {
    val p = plan("q62_bigrams")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q63 zipf: rank/cumsum windows are partition-local (two-phase rank, no global window)") {
    val p = plan("q63_token_zipf")
    // every window must be partitioned by the range-bucket pid — a
    // regression back to an unpartitioned vocabulary window funnels
    // 10⁸–10⁹ terms through one task at 100 TB
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(pid"), p)
    assert(!p.contains("windowspecdefinition(n#") &&
      !p.contains("windowspecdefinition(term"), p)
  }

  test("q75 edit distance: candidate join keys include the length bucket") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
    val sp = graft.operators.CorpusQueries.editDistanceBlocked(d)
      .queryExecution.sparkPlan
    val keys = sp.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }
    // (lang, source) skew can only be defused if the bucket is IN the
    // equi-join key, not a residual filter
    assert(keys.exists(_.exists(_.toString.contains("lbkt"))), sp.toString)
  }

  test("q71 moving average: the window runs over aggregated days, not raw events") {
    val p = plan("q71_moving_avg")
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, p)
  }

  test("q72 gap-filled series: generated axis joins the daily counts broadcast") {
    val p = plan("q72_make_series")
    assert(p.contains("Generate"), p) // the sequence() explode axis
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("whole-row render encodes stay inside whole-stage codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((q, marker) <- Seq("q21_render_json" -> "kustojsonexpr",
                              "q22_render_csv" -> "kustocsvlineexpr")) {
        val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
        val renderLine = p.linesIterator.find(_.contains(marker))
        // the Project holding the render expression must be starred (fused
        // into a WholeStageCodegen subtree), not an interpreted island
        assert(renderLine.exists(l => l.replaceFirst("^[+\\-\\s:]*", "").startsWith("*")),
          s"$q render projection not codegen'd:\n${p.take(600)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q80 decontamination: eval grams broadcast, corpus side never sort-merged") {
    val p = plan("q80_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q83 sessionization: session groupBy partial-aggregates above the per-user window") {
    val p = plan("q83_sessionize")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    // exactly one shuffle of the event log: the user-id window exchange
    // plus the post-window session agg exchange and the output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
  }

  test("q85 source mixing: corpus scanned once, only broadcast exchanges touch it") {
    val p = plan("q85_source_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q86 grouping sets: single Expand, partial aggregation, one scan") {
    val p = plan("q86_grouping_sets")
    // count tree nodes ("+- Scan parquet"), not the repeated detail headers
    assert(p.occurrencesOf("Expand") >= 1 &&
      p.occurrencesOf("+- Scan parquet") == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q87 correlated subquery decorrelates to a join (no per-row re-execution)") {
    val p = plan("q87_correlated_subquery")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
    // the orders side is pre-aggregated before joining
    assert(p.contains("partial_count"), p)
  }

  test("q91 bloom semi-join: bloom pre-filter present, dim side broadcast-joined") {
    val p = plan("q91_bloom_semijoin")
    // the sketch probe survives into the physical plan (a scalar subquery
    // feeding BloomFilterMightContain), so the fact scan is pre-filtered
    // before the exact semi-join
    assert(p.toLowerCase.contains("might_contain"), p)
    assert(p.contains("Subquery"), p)
    // the exact IN semi-join broadcasts the dim keys at this scale
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q92 heavy hitters: candidate confirmation joins broadcast, not shuffle") {
    val p = plan("q92_heavy_hitters")
    // the ≤k sketch candidates broadcast to the token stream; the token
    // side is never sort-merge-exchanged against them
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the sketch pass partial-aggregates (map-side combine of MG buffers)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("q94 kmeans assignment: centroids broadcast, corpus never exchanged pre-assignment") {
    val p = plan("q94_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the nearest-centroid argmin is the q127 partial-agg shape: no
    // window over the n x k pair stream, and the only hash exchanges
    // are the two aggregates' (vec_id, then cid) — the pair rows
    // themselves die in the map-side partial min(struct)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2, p)
  }

  test("q46 IVF: cell argmax is a partial agg, probe top-k a bounded heap — no window anywhere") {
    // Both the cell-assignment argmax and the probe stage must keep the
    // corpus un-exchanged until rows are one-per-vector: centroids and
    // queries broadcast (BroadcastNestedLoopJoin / BroadcastHashJoin),
    // no CartesianProduct, no Window at all — cell assignment is the
    // q127 max(struct) partial agg and the probe ranking is the q107
    // bounded-heap TopK aggregate.
    val p = plan("q46_ann_ivf")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
  }

  test("q128 hard-example mining: anchors broadcast, pair stream dies in the conditional partial agg") {
    // Both argmaxes (hard negative, hard positive) are when()-gated
    // max/min(struct) inside ONE aggregate: the n x anchors pair stream
    // from the broadcast cross join must reduce map-side — no Window,
    // no CartesianProduct, the only hash exchange is the per-anchor
    // aggregate's.
    val p = plan("q128_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(query_id"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("q129 incremental dedup: delta-vs-index equi-joins only, best match is an aggregate") {
    // The delta probes the corpus index by equi-join (hash/AQE-chosen);
    // nothing may cartesian, and the best-near-match argmax is a
    // max(struct) aggregate, never a per-delta-doc window.
    val p = plan("q129_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q130 pagerank: edge-list equi-joins and partial-agg sums, no window, no cartesian") {
    // Each round is contrib (map-side integral div) -> one partial-agged
    // sum keyed by dst -> a rank-table equi-join; state stays an edge
    // list plus one row per node.
    val p = plan("q130_dupgraph_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q135 cluster keeper: argmax is a partial agg keyed by cluster, no member window") {
    // Keeper selection over a duplicate cluster must reduce map-side —
    // a row_number window over members would funnel a 10⁶-member
    // boilerplate cluster through one sort task. Pin: the max(struct)
    // aggregate's cluster-keyed exchange exists, and no Window / no
    // CartesianProduct anywhere after the (checkpointed) CC stage.
    val p = plan("q135_cluster_keeper")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(cluster"), p)
  }

  test("q136 source drift: one stats exchange, window only over aggregated rows") {
    // The corpus-sized stream dies in the (source, lang) partial agg;
    // the per-source totals window runs over those AGGREGATED rows
    // (langs-sized partitions), and the final per-source agg reuses the
    // window's source partitioning — two hash exchanges total.
    val p = plan("q136_source_drift")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(source"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2, p)
  }

  test("q137 quality classifier: pure linear pipeline — no joins, no windows") {
    // Model weights are a closed form of the bucket id, so inference is
    // explode -> (doc, bucket) map-side-combined agg -> doc agg: two
    // hash exchanges, nothing else.
    val p = plan("q137_quality_classifier")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2, p)
  }

  test("q138 Lloyd iteration: assignment argmin + CentroidFixed both partial aggs, no window") {
    // The full iteration must keep q94's assignment shape (broadcast
    // seeds, min(struct) partial agg) AND re-estimate centroids without
    // a new corpus exchange beyond the cid-keyed one: CentroidFixed is
    // an ObjectHashAggregate whose fixed-point buffers merge map-side.
    val p = plan("q138_kmeans_lloyd")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
    assert(p.contains("hashpartitioning(cid"), p)
  }

  test("q139 source cap: bounded-heap TopK, one source-keyed exchange, no window") {
    // A row_number window would sort a mega-domain's full doc set in one
    // task; the heap ships O(sources x K) buffer rows instead. Pin: the
    // TopK ObjectHashAggregate exists, the only hash exchange is the
    // source-keyed one, and no Window / no sort of the input.
    val p = plan("q139_source_cap")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("hashpartitioning(source"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("q140 contamination fraction: eval grams broadcast, one doc-keyed agg, no self-join") {
    // The corpus-sized gram stream must meet the eval set via broadcast
    // (bounded by the benchmark) and reduce in ONE doc-keyed aggregate —
    // no doc-level self-join, no window, no corpus-sized sort.
    val p = plan("q140_contamination_frac")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("q144 vocab coverage: q63's two-phase cumsum, threshold probe is a partial agg") {
    // The coverage thresholds must not re-exchange the vocab: the 3-row
    // percentile table broadcasts into the ranked stream and the
    // first-rank-past-threshold pick is a pct-keyed min(struct) partial
    // agg — no global window (the cumsum is the pinned q63 local-window
    // shape), no CartesianProduct beyond the broadcast ones.
    val p = plan("q144_vocab_coverage")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(pid"), p)
    assert(!"windowspecdefinition\\((?!pid)".r.findAllIn(p).hasNext, p)
    assert(p.contains("hashpartitioning(pct"), p)
  }

  test("q143 centroid confusion: one corpus scan into partial aggs, pairwise on the tiny table") {
    // The corpus must die in the label-keyed CentroidFixed aggregate
    // (ObjectHashAggregate, map-side partials); the k x k cosine join
    // runs broadcast over the k-row centroid table — no SortMergeJoin,
    // no Window, one label-keyed exchange.
    // r14: the centroid stage is materialized (both join sides read
    // it), so the gate plan is broadcast-pairwise over a checkpoint
    // scan; the aggregate shape is pinned on the stage builder itself
    val p = plan("q143_centroid_confusion")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Scan ExistingRDD"), p) // the materialized stage
    import org.apache.spark.sql.functions.{col, expr, udaf}
    val centroid =
      udaf(new graft.functions.VectorAggregators.CentroidFixed(64))
    val cents = Tables(spark, dir, "embeddings")
      .select(col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .groupBy(col("label"))
      .agg(centroid(col("v")).as("c"))
    val pb = cents.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(pb.contains("ObjectHashAggregate"), pb)
    assert(pb.contains("hashpartitioning(label"), pb)
  }

  test("q142 normalized dedup: map-side normalize, fingerprint aggs only — no joins, no windows") {
    // Normalization must stay in the scan-side project; the only
    // exchanges are the distinct-agg pair (nh+raw partial, then nh),
    // exactly the exact-dedup scale profile.
    val p = plan("q142_normalized_dedup")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 2, p)
  }

  test("q141 farthest-first seeding: per-round argmax partial aggs, no corpus sort") {
    // Each round's pick must be the max(struct) partial agg over the
    // checkpointed state (a sort/limit would range-exchange the corpus
    // every round) and the final plan is just the 4 one-row picks
    // unioned — no Window, no CartesianProduct, no SortMergeJoin
    // anywhere (the seed re-entry is a broadcast 1-row cross join that
    // happens before each round's checkpoint cut).
    val p = plan("q141_kmeans_seed")
    assert(p.contains("Union"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q131 multi-probe IVF: same window-free shapes as q46 at nprobe=2") {
    val p = plan("q131_ann_ivf_multiprobe")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
  }

  test("q145 IVF-PQ: assignment/encode argmins partial-agged, probe by cell equi-key, no window") {
    // The composed index must not regress either half's shape: coarse
    // assignment and PQ encode are max/min(struct) partial aggs over
    // broadcast tables (no Window anywhere), candidates meet the
    // 2-rows-per-query probe table by broadcast cell equi-join, and no
    // CartesianProduct materializes. Built with checkpoint = false —
    // the shipped query's localCheckpoint cuts would hide these shapes
    // behind LogicalRDDs (values are identical either way).
    val p = graft.operators.LlmQueries.ivfpq(spark, dir, checkpoint = false)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
  }

  test("q150 hybrid retrieval: both arms map-side + bounded heap, no window, no explode join") {
    // The lexical arm computes per-term tf as map-side array-filter
    // columns over ONE corpus scan (no token explode, no inverted-index
    // join for a 3-term query) and the dense arm is the broadcast-query
    // scan — both rank through the bounded-heap TopK, so the only
    // exchanges carry O(k) rows and nothing windows or cartesians
    // (fusion's full-outer join of two 20-row lists is free).
    val p = plan("q150_hybrid_retrieval")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only Generates are the two posexplodes of 20-element top-k
    // arrays — no token explode touches the corpus
    assert("Generate".r.findAllIn(p).size <= 4, p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q147 interval join: user equi-key carries the join, range as predicate, no cartesian") {
    // The stream-stream attribution join's batch form must plan as an
    // equi-join on the user key with the time interval as a join-side
    // filter — a cartesian with a post-filter would be |clicks| x
    // |purchases| at 100 TB. No window anywhere; the per-user rollup is
    // an ordinary partial-agged aggregate.
    val p = plan("q147_stream_interval_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q146 kNN graph: probe side bytes-gated broadcast, corpus side unshuffled, ranking partial-agged, no window") {
    // The all-nodes graph build must keep q46's discipline with a probe
    // table that is now corpus-sized: centroids broadcast via the only
    // nested-loop join; the candidate-probe join rides the Gates.batchHint
    // BYTES ladder at vector row width (r17) — at gate scale the exploded probe side fits
    // the 64 MB estimate and BROADCASTS, which leaves the corpus-side
    // cell assignment entirely un-shuffled (no (cell, salt) exchange of
    // vector payloads); past the byte cap the code's shuffle-hash tier
    // and sort-merge fallback re-engage, so a corpus-sized probe can
    // never broadcast-OOM. Both the cell argmax and the per-node top-5
    // stay partial aggregates — a window here would sort each cell's
    // full pair stream in one task.
    val p = plan("q146_knn_graph")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // centroid scoring only
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p) // TopK bounded heaps
    assert(p.contains("hashpartitioning(vec_id"), p) // argmax + probe aggs
    assert(p.contains("BroadcastHashJoin"), p) // candidate-probe join (gated)
    assert(!p.contains("hashpartitioning(cell"), p) // corpus side unshuffled
    assert(p.contains("hashpartitioning(src_id"), p) // per-node top-5
    // never sort-merge on vector payloads: SMJ sorts millions of
    // 2x64-double pair-precursor rows per side
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q245 incremental semdedup: admission joins hash-based on cell, no window, no sort-merge") {
    // The frozen-index training (E-steps, M-step) sits behind the
    // assignment frames' localCheckpoints; the visible incremental plan
    // is the admission itself — batch-vs-index and batch-vs-batch
    // verify joins meeting on uniform cell keys, then vec_id-keyed
    // hit-count left joins. All must hash: sort-merge would sort
    // 64-double member payloads per touched cell.
    val p = plan("q245_incremental_semdedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("hashpartitioning(cell"), p) // verify joins meet on cell
  }

  test("q246 incremental knn: frozen-cell probe keeps q146's discipline — broadcast centroids, bytes-gated probe broadcast, partial-agged ranking") {
    // Same invariants as q146 with the probe side now batch-sized: the
    // only nested-loop join is centroid scoring against the broadcast
    // cell table; the batch-sized probe side sits well under the
    // vector-width Gates.batchHint byte gate, so it broadcasts and the frozen index
    // side is never shuffled; both the index-side argmax and the
    // per-probe top-5 are partial aggregates — a window would sort
    // each touched cell's pair stream in one task.
    val p = plan("q246_incremental_knn")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // centroid scoring only
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p) // TopK bounded heaps
    assert(p.contains("BroadcastHashJoin"), p) // candidate-probe join (gated)
    assert(!p.contains("hashpartitioning(cell"), p) // index side unshuffled
    assert(p.contains("hashpartitioning(src_id"), p) // per-probe top-5
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q132 PQ: codebook joins broadcast, encode/probe window-free, no cartesian") {
    val p = plan("q132_ann_pq")
    // encode + reconstruct join the 80-row codebook by broadcast; the
    // probe is the broadcast-queries nested loop; argmin/top-k are
    // partial-agged aggregates, never windows over the pair stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q133 histogram quantiles: no window and no sort over the document stream") {
    val p = plan("q133_length_quantiles")
    // the only aggregation keys are (source, b) and source — the
    // histogram fold runs in a projection over the 16-element array
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("count"), p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q134 source minhash: per-perm mins partial-agg; pair join broadcasts signatures") {
    val p = plan("q134_source_minhash")
    assert(p.contains("partial_min") || p.contains("min"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("q101 inverted index: vocabulary joins back as broadcast, pairs never sort-merged") {
    val p = plan("q101_inverted_index")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q98/q102 series windows run above the daily aggregate, not the event log") {
    for (q <- Seq("q98_series_fill_linear", "q102_window_median")) {
      val p = plan(q)
      // the window consumes aggregated output: Window appears, and the
      // aggregation below it is partial (map-side combined) over events
      assert(p.contains("Window"), s"$q: $p")
      assert(p.contains("partial_count") || p.contains("partial_sum"), s"$q: $p")
    }
  }

  test("q107 top-k per group: bounded-heap aggregate, no window sort of the input") {
    val p = plan("q107_topk_per_group")
    // the heap UDAF partial-aggregates; the input is never window-sorted
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("RunningWindowFunction"), p)
  }

  test("q113 bloom decontamination: might_contain prunes the probe side BELOW the exact join") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val qe = SparkEntry.queries("q113_decontaminate_bloom")(spark, dir)
      .queryExecution
    val plan = qe.sparkPlan
    val joins = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, plan.toString)
    // The bloom pre-filter is the POINT of q113: the corpus gram stream
    // must shrink before it reaches the exact join's hash probe. A
    // regression that hoists might_contain above the join keeps the
    // query correct but silently deletes the benefit — so pin the filter
    // to the probe (non-build) subtree of the gram equi-join.
    val probeSides = joins.map { j =>
      if (j.buildSide == BuildLeft) j.right else j.left
    }
    assert(probeSides.exists(_.toString.toLowerCase.contains("might_contain")),
      plan.toString)
    // ...and never ABOVE the join (Catalyst may legitimately propagate a
    // copy to the tiny build side — also below): every might_contain in
    // the plan lives inside a join subtree.
    val total = plan.toString.toLowerCase.occurrencesOf("might_contain")
    val below = joins.map(_.toString.toLowerCase.occurrencesOf("might_contain")).sum
    assert(total == below, plan.toString)
  }

  test("q97 HLL rollup: sketches partial-aggregate map-side like any builtin agg") {
    val p = plan("q97_hll_rollup")
    assert(p.contains("hll_sketch_agg"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  private implicit class StrOps(s: String) {
    def occurrencesOf(sub: String): Int = s.sliding(sub.length).count(_ == sub)
  }

  test("q116/q117 corpus-statistics joins: no cartesian, no unhinted broadcast of vocab-sized sides") {
    // Both queries join corpus-sized statistic tables (hot 8-grams,
    // bigram/unigram counts) back onto exploded token streams. The
    // join must be an equi-join (shuffle or AQE-chosen) — a
    // CartesianProduct means a key was lost. The only sanctioned
    // broadcast is q117's 1-row vocabulary count (a
    // BroadcastNestedLoopJoin of a single row).
    for (q <- Seq("q116_dup_span_strip", "q117_bigram_lm_score")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      // no unbounded-partition window anywhere in the rebuild
      assert(!p.contains("WindowExec"), s"$q: $p")
    }
  }

  test("q118/q120: linear corpus shapes — no cartesian blowup, no window; q119 cumsum is partition-local") {
    // q118's only broadcasts are bounded by the 512-bucket feature space
    // (ratio table) or are 1-row totals; the corpus side must stay an
    // equi-join. q120 resolves first occurrences with a min-of-struct
    // AGGREGATE — a row_number window keyed by segment hash would funnel
    // every occurrence of a boilerplate segment through one task.
    // q68's keep-first dedup is likewise a min-of-struct aggregate: a
    // high-df boilerplate text must reduce map-side, not funnel through
    // one fingerprint window partition
    for (q <- Seq("q118_dsir_importance", "q120_segment_dedup",
        "q121_temperature_mix", "q122_ngram_diversity",
        "q123_image_ahash_dedup", "q124_image_neardup",
        "q125_audio_fp_dedup", "q68_curation_pipeline")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
    // q119's global token cumsum must stay two-phase: windows partitioned
    // by the range-bucket pid only (same invariant as q63)
    val p = plan("q119_token_budget_select")
    assert(p.contains("windowspecdefinition(pid"), p)
    assert(!p.contains("windowspecdefinition(ttr") &&
      !p.contains("windowspecdefinition(n_tok"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126 shard shuffle: the only hash exchange is the window's, keyed by shard") {
    // The training-order permutation must not global-sort the corpus: the
    // operative shuffle is ONE hash exchange on the shard key feeding the
    // per-shard window sort (the trailing range exchange is the
    // presentation orderBy every query carries for the oracle).
    val p = plan("q126_shard_shuffle")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(p.contains("windowspecdefinition(shard"), p)
    // formatted explain puts exchange args on their own line, so count
    // the partitioning expressions, not the "Exchange ..." node headers
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("q127 semantic decontam: eval side broadcast, pair stream reduced by partial agg") {
    // The n_corpus x n_eval pair stream must die in the map-side partial
    // aggregate: the eval benchmark broadcasts (bounded, corpus-
    // independent), the cross join is broadcast-nested-loop (never a
    // shuffled CartesianProduct), and the only hash exchange is the
    // final per-vector aggregate's, keyed by vec_id.
    val p = plan("q127_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(vec_id"), p)
    assert("hashpartitioning\\(".r.findAllIn(p).size == 1, p)
  }

  test("q153 PMI: vocab joins shuffle (never broadcast-hinted), global top-20 is TakeOrdered") {
    val p = plan("q153_pmi_collocations")
    // the bigram/unigram count tables are vocabulary-sized — a web-scale
    // vocab is GBs, so the joins must not be broadcast BY HINT (AQE may
    // still convert at runtime when measured-small, which is correct);
    // the only hinted broadcast is the 1-row total
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q155 sqrt-cells kNN graph: cells broadcast, probe side bytes-gated broadcast, no window") {
    val p = plan("q155_knn_graph_sqrtcells")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the probe/candidate join rides the vector-width Gates.batchHint ladder
    // (r17): at gate scale the probe side fits 64 MB and broadcasts —
    // the corpus-side assignment is never shuffled by (cell, salt) —
    // while past the gate the shuffle-hash tier re-engages; never
    // sort-merge (would sort 64-double payload rows)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the scored assignment/probe reductions are ObjectHashAggregate
    // partial aggs (TopK heap + max(struct)), not windows
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q156 centroid drift: bounded label-keyed exchanges only, no window, no cartesian") {
    val p = plan("q156_centroid_drift")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-dim sums partial-aggregate map-side before their exchange: the
    // shuffled relation carries (label, half, dim) rows — labels x 2 x 64
    // at any corpus size — so a partial_ aggregation mode must appear
    assert(p.toLowerCase.contains("partial"), p)
  }

  test("whole-stage codegen covers the relational hot paths") {
    // AQE wraps the plan in AdaptiveSparkPlanExec, which the codegen
    // explainer does not descend into before execution — check without it.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("q01_agg_pricing")(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      assert(p.contains("WholeStageCodegen subtrees"), p.take(500))
      assert(!p.startsWith("Found 0 WholeStageCodegen"), p.take(200))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q161 prefix-filter join: doc-bounded window only, no cartesian, no range exchange") {
    val p = plan("q161_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r16: the prefix index is localCheckpointed (its chain was built
    // twice across the self-join's sides — see prefixFilterPairs), so
    // the rank window now sits in the BUILD plan; pin it there. Still
    // the one Window, partitioned by doc_id (group size bounded by doc
    // length, never corpus-sized).
    val sets = graft.operators.LlmQueries.tokenSets(spark, dir)
    val b = graft.operators.LlmQueries.prefixIndex(sets, 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(b.contains("row_number()"), b)
    assert(b.toLowerCase.contains("windowspecdefinition(doc_id"), b.take(2000))
    assert(!p.contains("Window"), p) // the gate plan reads the checkpoint
  }

  test("q165 subword counting: one-pass tagged-gram census, per-k top-N window over the vocab frame only") {
    // The stage is memoized (round 11: subword_counts is a shared
    // artifact of q165/q167/q173), so the GATE plan only shows the
    // post-memo consumer; the vocab/encode invariants are pinned on the
    // BUILD plan directly.
    val p = graft.operators.CorpusQueries.subwordCountsBuild(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // r16: the vocab is ONE tagged gram pass — the per-k top-N runs as
    // a row_number window over the AGGREGATED distinct-gram census
    // (vocabulary-sized, never the raw gram stream), partitioned by the
    // gram length k
    assert(p.contains("row_number()"), p)
    assert(p.toLowerCase.contains("windowspecdefinition(k"), p.take(3000))
    // constant-size vocab rows reach the encode as broadcasts; the
    // corpus itself is never broadcast or cartesian-joined against
    // anything its own size
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // gram counts and the per-doc rollup partial-aggregate map-side
    assert(p.toLowerCase.contains("partial"), p)
    // and the gate consumer stays a windowless read of the stage
    val g = plan("q165_subword_tokens")
    assert(!g.contains("Window"), g)
    assert(!g.contains("CartesianProduct"), g)
  }

  test("q166 semdedup: pair + keep joins hash-based, no window, no sort-merge") {
    // The E-steps (centroids broadcast via an explicit broadcast() hint,
    // argmin as a min(struct) partial agg) execute at the assignment
    // frame's localCheckpoint and so sit upstream of the explained
    // plan; what remains visible is the intra-cell pair join and the
    // keep-join, both of which must stay hash-based on uniform keys —
    // sort-merge would sort 64-double payload rows (pair join) or the
    // full corpus assignment (keep join).
    val p = plan("q166_semdedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q169 NN-descent: expand + fetch joins hash-based, ranking is the bounded-heap agg") {
    // The blocked build runs at the edge list's localCheckpoint; the
    // visible refinement plan must be: HASH joins on uniform node keys
    // (2-hop expand + two vector fetches — sort-merge would sort
    // 64-double payloads), candidate ranking as the TopK partial agg
    // (ObjectHashAggregate), no window, nothing cartesian. r16: the
    // vector fetches ride the bytes-gated Gates.batchHint ladder, so at
    // gate scale they are BROADCAST hash joins (the candidate list is
    // never shuffled); above the byte cap the shuffle-hash tier
    // re-engages — either way never sort-merge.
    val p = plan("q169_knn_descent")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q168 prefix-probe dedup: probe side windowless, corpus-index window doc-bounded") {
    val p = plan("q168_stream_prefix_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the only Window is the CORPUS index's per-doc rarity rank (static
    // side, rebuilt per index era); the probe path is explode + joins +
    // the dedup aggregate — nothing rank-based touches the stream
    assert(p.toLowerCase.contains("windowspecdefinition(doc_id"), p.take(2000))
  }

  test("q170 ANN recall audit: both arms heap-ranked, no window, anchors broadcast") {
    val p = plan("q170_ann_recall")
    // exact + IVF top-k both ride the bounded-heap TopK aggregate
    // (ObjectHashAggregate), never a row_number window over the
    // anchors x corpus pair stream
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    // the anchor set (10 queries) broadcasts against the corpus side
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q172 drift monitor: one aggregation keyed by window, baseline broadcast") {
    val p = plan("q172_stream_drift")
    assert(!p.contains("Window"), p) // windowed AGG, not a window FUNCTION
    assert(!p.contains("CartesianProduct"), p)
    // per-window conditional counts partial-aggregate map-side
    assert(p.toLowerCase.contains("partial"), p)
    // the one-row baseline joins in broadcast, stateless
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q173 tokenizer fertility: per-lang agg partial over the memoized stage") {
    // vocab top-N invariants live in the q165 test (the shared BUILD
    // plan); here the consumer must stay one partial-agged lang rollup
    val p = plan("q173_tokenizer_fertility")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the lang-keyed fertility aggregate partial-aggregates map-side
    assert(p.toLowerCase.contains("partial"), p)
  }

  test("q195 CDC dedup: tokens never shuffle — chunker map-side, exchanges keyed on fingerprints") {
    // The whole chunker must live inside projections (array-local);
    // the only exchanges are the fingerprint count + join back — hash,
    // never sort-merge (64-bit keys), no window, nothing cartesian.
    val p = plan("q195_cdc_chunk_dedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("hashpartitioning(ch"), p.take(3000))
    assert(!p.contains("hashpartitioning(tk"), p.take(3000))
  }

  test("q197 DoReMi: one incidence exchange; the MW rounds add NO shuffle or iteration") {
    // The 10 multiplicative-weight rounds are a row-local aggregate()
    // fold — the plan may contain exactly the (source, token)
    // incidence aggregation, the rarity join, and |sources|-row
    // aggregates; no Window, no per-round exchanges.
    val p = plan("q197_doremi_mixture")
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000)) // broadcast 1-row crossJoins only
  }

  test("q201 rate limiter: ONE exchange on user_id; the fold is inside the aggregate") {
    // Sequential semantics must not leak into a Window or a second
    // shuffle: sort_array + aggregate() run inside the per-user
    // aggregation's project, so the plan is scan -> partial agg ->
    // exchange(user_id) -> final agg -> sort.
    val p = plan("q201_rate_limit")
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(user_id"), p.take(3000))
    val exchanges = "Exchange".r.findAllIn(p).size
    // one hash exchange for the agg + the final rangepartitioning sort
    assert(exchanges <= 4, s"$exchanges exchanges:\n${p.take(3000)}")
  }

  test("q207 exact quantiles: NO global sort of the fact table — refinement is broadcast + bin-local") {
    // The whole point of the operator: the corpus is never range-
    // partitioned. The only Sort under an Exchange(range) would be a
    // global ORDER BY of lineitem — forbidden; the within-bin
    // row_number window sorts only the 4 target bins' rows, reached
    // through a BroadcastHashJoin on bin.
    val p = plan("q207_exact_quantiles")
    assert(!p.contains("Exchange rangepartitioning(cents"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    // the scan is pruned to the single priced column
    assert(p.contains("l_extendedprice") && !p.contains("l_quantity"), p)
  }

  test("q204/q210/q211: audits are one partial-agged pass each — no window over rows, no joins beyond bounded frames") {
    for (name <- Seq("q204_k_anonymity", "q211_conservation_check")) {
      val p = plan(name)
      assert(!p.contains("Window"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.toLowerCase.contains("partial"), s"$name: map-side combine\n$p")
    }
    // q210's rank window runs on the (source, token) counts — partitioned
    // by source, never a single global partition
    val p210 = plan("q210_token_gini")
    assert(p210.contains("Window"), p210)
    assert(!p210.contains("Window [row_number() windowspecdefinition()"),
      "the window must be partitioned")
  }

  test("q209 seasonal anomaly: grid restore joins stay broadcast; top-20 never global-sorts the grid") {
    val p = plan("q209_seasonal_anomaly")
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q229 skyline: frontier rejoin is broadcast-hash, never sort-merge or cartesian") {
    // The whole design: the corpus joins the DOMAIN-bounded frontier
    // (per-score min-toks after the run-min filter), so the frontier
    // side must arrive as a BroadcastExchange — a SortMergeJoin here
    // would range-shuffle the scored corpus for a <=|score domain| row
    // build side.
    val p = plan("q229_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q232 keywords: top-5 runs as WindowGroupLimit, tf-df join broadcast") {
    // row_number <= 5 must trigger Spark's rank-limit pushdown
    // (WindowGroupLimit keeps 5 rows per source BEFORE the final window
    // sort — without it the window sorts the full vocab x sources
    // frame), and the per-term df side arrives broadcast.
    val p = plan("q232_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q233 source distance: pair universe is a broadcast cross of tiny sides; totals broadcast") {
    // The only cross product allowed is the sources x sources pair
    // universe — both sides |sources|-row aggregates, so it must plan
    // as BroadcastNestedLoopJoin (never CartesianProduct, which would
    // mean a corpus-sized side slipped in). The per-pair FullOuter on
    // (src_a, src_b, term) is the pairs x vocab bounded frame — a
    // sort-merge THERE is fine and expected; the na/nb totals joins
    // stay broadcast.
    val p = plan("q233_source_distance")
    assert(p.contains("BroadcastNestedLoopJoin Cross"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("SortMergeJoin FullOuter"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("q253 substring spans: occurrence-keyed (no pair join), island window partitioned by doc") {
    val p = plan("q253_exact_substring_spans")
    // duplicate detection is a census + semi-join on the 64-bit gram
    // key — never a doc-pair join, never a cartesian
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // the gaps-and-islands window must be per-doc (bounded by doc
    // length), never a global sort of the cover stream
    assert(p.contains("hashpartitioning(doc_id"), p.take(4000))
    assert(p.contains("Window"), p.take(4000))
  }

  test("q254 incremental BM25: stored-artifact reads + broadcast folds, top-20 bounded") {
    val p = plan("q254_incremental_bm25")
    // merged ranking: query terms / folded df / folded totals all ride
    // broadcasts; the only exchanges are the batch tokenize and the
    // final per-doc agg — nothing sort-merges, top-20 never global-sorts
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q255 BPE drift: vocab lookup broadcast, one windowed agg, no sort-merge") {
    val p = plan("q255_stream_bpe_drift")
    // the streaming-safe shape: stream side is scan->explode->broadcast
    // left join (vocab cache)->map-side encode; the only stateful
    // operator is the windowed aggregation
    assert(p.contains("BroadcastHashJoin LeftOuter"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("hashpartitioning(window"), p.take(4000))
  }

  test("q257 index compaction: tombstone rewrite is broadcast anti-joins, no sort-merge, no lambda filter") {
    // inspect the BUILDER's plan — the gate query reads the memoized
    // post-swap artifact (r14), so its own plan is a checkpoint scan
    import graft.operators.CorpusQueries
    import org.apache.spark.sql.functions.col
    val del = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 9).select(col("doc_id"))
    val p = CorpusQueries
      .compactPostings(CorpusQueries.bm25Postings(spark, dir), del)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the erasure must be the codegen'd hash anti-join path, never an
    // in-array lambda (interpreted per element — measured 4.5x slower)
    // and never a corpus-side sort-merge
    assert(p.contains("BroadcastHashJoin LeftAnti"), p.take(4000))
    assert(p.contains("BroadcastHashJoin LeftSemi"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.toLowerCase.contains("arrayfilter"), p.take(4000))
  }

  test("q259 sem compaction: touched cells broadcast, members never sort-merge") {
    // the builder's plan, for the same reason as the q257 pin above
    import graft.operators.LlmQueries
    import org.apache.spark.sql.functions.col
    val delV = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    val p = LlmQueries
      .compactMembers(LlmQueries.semIndex(spark, dir)._2, delV)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the touched-cell split and the tombstone erase must both be
    // broadcast hash joins against batch-sized frames; the stored
    // members frame is corpus-sized and must never sort
    assert(p.contains("BroadcastHashJoin LeftAnti"), p.take(4000))
    assert(p.contains("BroadcastHashJoin LeftSemi"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q258 decremental semdedup: erase is one anti-join; admission joins stay hash-based") {
    val p = plan("q258_decremental_semdedup")
    assert(p.contains("LeftAnti"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q260 span rewrite / q261 audit: every join hash-based — ten audit joins never sort") {
    // q260's token-stream anti-join is a plain equi-join (AQE broadcasts
    // the covered side when it is measured small, shuffles otherwise);
    // q261's artifact-keyed refold/existence joins are shuffle_hash by
    // hint — uniform keys, one-pass checks, sorting both sides of ten
    // joins would be pure waste.
    for (q <- Seq("q260_span_rewrite", "q261_artifact_consistency",
        "q262_post_maintenance_audit")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(4000)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(4000)}")
    }
  }

  test("q264-q268 lifecycle maintenance: hash joins only, never a sort or cartesian") {
    // q264/q265: tombstone batches broadcast into the doc-keyed
    // lookups, index-keyed existence joins are shuffle_hash by hint
    // (uniform fnv64 keys; sorting grouped-posting frames for one-pass
    // checks would be waste); q266 computes its compaction cost by
    // semi-join (no window at all); q267 is two stream-static
    // equi-joins; q268 is one vocab-keyed join. The only cross joins
    // anywhere are 1-row-aggregate x 1-row-aggregate (q266's per-family
    // stat assembly), which plan as BroadcastNestedLoopJoin, never
    // CartesianProduct.
    for (q <- Seq("q264_decremental_shingle_index",
        "q265_cluster_map_maintenance", "q266_rebuild_trigger",
        "q267_stream_sem_tombstone", "q268_tokenizer_erasure_debt",
        // r15 growth: era composition (q270/q271) re-runs the same
        // compactors on memoized era-1 outputs; q272 is two anti-joins;
        // q273's only cross joins are broadcast 1-row merge frames;
        // q274's batch arm is broadcast anti/semi against the distinct
        // tombstone set
        "q270_postings_era_composition", "q271_shingle_era_composition",
        "q272_pair_graph_compaction", "q273_tokenizer_rebuild",
        "q274_stream_interleaved_lifecycle")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(4000)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(4000)}")
    }
  }

  test("q234 SQ8 / q235 unseen mass: stats broadcast, no window, map-side combine") {
    val p = plan("q234_sq8_audit")
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(!p.contains("Window"), p.take(4000))
    val p235 = plan("q235_unseen_mass")
    assert(!p235.contains("Join"), p235.take(4000))
    assert(!p235.contains("Window"), p235.take(4000))
    assert(p235.toLowerCase.contains("partial"), p235.take(4000))
  }

  test("q277/q278/q279: the URL/DP family is window-free with map-side partial aggregation") {
    // q277: canonicalization is pure projection; ONE hash aggregation
    // on canon_url with a partial phase, no join, no window
    val p277 = plan("q277_url_canonical_dedup")
    assert(!p277.contains("Join"), p277.take(4000))
    assert(!p277.contains("Window"), p277.take(4000))
    assert(p277.toLowerCase.contains("partial"), p277.take(4000))
    // q278: the bounded-heap TopK replaces the window form — a Window
    // here would mean every domain's full row set gets sorted
    val p278 = plan("q278_domain_caps")
    assert(!p278.contains("Window"), p278.take(4000))
    assert(!p278.contains("Join"), p278.take(4000))
    // q279: two hash aggregations, both with partial phases; no join,
    // no window, no sort before the output ordering
    val p279 = plan("q279_dp_event_release")
    assert(!p279.contains("Join"), p279.take(4000))
    assert(!p279.contains("Window"), p279.take(4000))
    assert(p279.toLowerCase.contains("partial"), p279.take(4000))
  }

  test("q280 batch arm: min-of-struct winner, no window") {
    val p = plan("q280_stream_url_frontier")
    // the whole point of the min-struct shape: no per-URL sort. The
    // winner-set rejoin is deliberately UN-hinted — the winner side
    // grows with the corpus, so strategy is left to size-based
    // planning (AQE may broadcast it at spec scale; at 100 TB it
    // exceeds the threshold and falls to a shuffle join — both
    // correct, neither forced).
    assert(!p.contains("Window"), p.take(4000))
    assert(p.toLowerCase.contains("partial"), p.take(4000))
  }
}
