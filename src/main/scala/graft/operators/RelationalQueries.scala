package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The relational operator surface (SURVEY.md §2.2) the reference engine
  * lacks entirely and the new engine gets from Spark built-ins: filters,
  * projections, joins (inner/outer/semi/anti/broadcast), hash aggregation,
  * rollup, windows, sort/limit/top-k, set ops, scalar functions.
  *
  * Every query is declarative DataFrame API — Catalyst does predicate
  * pushdown, column pruning and join planning; nothing here hand-schedules.
  * Small dimension tables (region/nation/customer at any SF where they fit
  * the 10 MB default, or explicitly here) are broadcast so the fact-table
  * side never shuffles for the join.
  *
  * Float-portability rule: DuckDB (the oracle) and Spark sum doubles in
  * different orders, so any SUM/AVG over a double column goes through an
  * exact DECIMAL(38,6) intermediate and is cast back to DOUBLE — identical
  * bits on both engines regardless of accumulation order. Precision 38 is
  * the max on both engines and leaves ~1e32 of headroom: sums stay exact
  * even at the 100 TB row counts the bench tables stand in for.
  */
object RelationalQueries extends QueryModule {

  /** Exact, order-insensitive sum of a double expression (see class doc). */
  private def dsum(c: Column): Column =
    graft.operators.GovernanceQueries.dsum(c) // the one shared definition
  private def dsumSql(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(38,6))) AS DOUBLE)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregation (TPC-H Q1 shaped): scan → filter → hash-agg; partial
    // aggregation (map-side combine) comes free from groupBy().agg().
    "q01_agg_pricing" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // --- filter + projection: both pushed into the parquet scan by Catalyst
    // (PushedFilters + pruned ReadSchema → only 4 of 11 columns read).
    "q02_filter_project" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
                col("l_shipdate") <  to_timestamp(lit("1995-04-01")) &&
                col("l_quantity") > lit(45.0))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // --- broadcast join: customer is the small build side; the orders scan
    // streams through a BroadcastHashJoin with zero shuffle.
    "q03_join_broadcast" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // --- multi-way join up the star: region ⋈ nation ⋈ customer ⋈ orders.
    // All dims broadcast; the single fact scan never shuffles.
    "q04_join_multiway" -> ((s, dir) => {
      val r = Tables(s, dir, "region")
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"))
    }),

    // --- top-k: orderBy+limit plans as TakeOrderedAndProject — each
    // partition keeps only k rows, the driver merges k*numPartitions.
    "q05_topk" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // --- window function: per-customer top-3 orders by price.
    "q06_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .orderBy(col("o_custkey"), col("rnk"))
    }),

    // --- distinct + count distinct (exact) + approx sanity is tested in
    // ScalaTest, not oracled (HLL++ is engine-specific).
    "q07_distinct" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))
    }),

    // --- set op: INTERSECT of rich customers with ordering customers.
    "q08_setops" -> ((s, dir) => {
      val rich = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
      val ordering = Tables(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      rich.intersect(ordering).orderBy(col("c_custkey"))
    }),

    // --- semi join (EXISTS): customers with at least one order, by nation.
    "q09_semijoin" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // --- anti join (NOT EXISTS): orders with no lineitems.
    "q10_antijoin" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // --- rollup: hierarchical subtotals (flag, status) → (flag) → ().
    "q11_rollup" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // --- scalar function surface: string/math functions, all codegen'd
    // builtins (upper/length/substring/floor/abs/modulo/concat).
    "q12_scalar_funcs" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          floor(col("p_retailprice")).as("price_floor"),
          abs(col("p_size") - lit(25)).as("size_dist"),
          (col("p_partkey") % 7).as("pk_mod"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
    }),

    // --- HAVING: group filter after aggregation.
    "q13_having" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .filter(col("n") > 10)
        .orderBy(col("o_orderpriority"))
    }),

    // --- date_trunc bucketing: monthly revenue time series.
    "q14_date_trunc" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("month"))
    }),

    // --- CASE WHEN bucketing.
    "q15_case_expr" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 3000, "low")
          .when(col("c_acctbal") < 7000, "mid")
          .otherwise("high").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // --- predicate surface: IN-list, BETWEEN, LIKE — all pushed to parquet.
    "q16_pred_surface" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
      p.filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
               col("p_size").between(5, 25) &&
               col("p_type").like("%O%"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // --- left outer join with null-handling (coalesce on the probe side).
    "q17_left_join" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      val c = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
                coalesce(col("cnt"), lit(0L)).as("n_customers"))
        .orderBy(col("n_nationkey"))
    }),

    // --- correlated-aggregate shape (TPC-H Q17 style): join against a
    // per-group average computed once, not a per-row subquery. The
    // average table has |part| rows — billions at 100 TB — so it is NOT
    // broadcast-hinted: the join shuffles on the part key (both sides
    // already keyed by it) and AQE converts to broadcast at runtime
    // whenever the measured aggregate actually is small.
    "q18_join_on_agg" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(avgQty, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") > col("avg_qty") * 1.5)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_above"))
        .orderBy(col("l_returnflag"))
    }),

    // --- FULL OUTER join with genuinely unmatched rows on BOTH sides:
    // customers capped at custkey <= 50 vs orders of custkeys > 25, so
    // nulls appear left and right and the null-handling of the join
    // itself (not just left-outer fill) is what gets hashed.
    "q73_full_outer" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_custkey") <= 50)
        .select(col("c_custkey"), col("c_acctbal"))
      val o = Tables(s, dir, "orders")
        .filter(col("o_custkey") > 25)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_custkey"), col("n_orders"))
        .orderBy(col("c_custkey").asc_nulls_last, col("o_custkey").asc_nulls_last)
    }),

    // --- explicit CROSS join of two small dimensions (the one join shape
    // that is NEVER acceptable on two large sides; here both are tiny and
    // the product is the point — e.g. building a dense grid).
    "q74_cross_grid" -> ((s, dir) => {
      val r = Tables(s, dir, "region").select(col("r_name"))
      val st = Tables(s, dir, "orders").select(col("o_orderstatus")).distinct()
      r.crossJoin(st)
        .select(col("r_name"), col("o_orderstatus"))
        .orderBy(col("r_name"), col("o_orderstatus"))
    }),

    // --- arg-max/arg-min aggregates (max_by/min_by): which row attains
    // the group's extreme, in ONE hash aggregation — no window, no
    // self-join. Deterministic here because the per-status price extremes
    // are untied in the harness data (verified at gate and bench sf);
    // with tied extremes, compose the tie-break into the ordering value.
    "q78_arg_extremes" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // --- table profiling (q179): the per-column statistics pass a data-
    // validation tier (TFX data validation, Deequ) computes before any
    // pipeline trusts an input — row count, null count, exact distinct
    // count, min/max — in ONE scan: a single global aggregate with all
    // measures (the multi-countDistinct expand is the documented cost of
    // an EXACT profile; map-side, linear), then stack() melts the one
    // row into one row per column. min/max render through CAST AS STRING
    // so heterogeneous column types share one schema; the three profiled
    // types (int64, double, timestamp) all have engine-identical casts.
    "q179_table_profile" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      // project-then-repartition before the profile aggregate: the four
      // exact countDistincts plan as an Expand (one duplicate of every
      // row per distinct column + one for the plain aggregates), and on
      // a single-file scan that 5x row multiplication plus the partial
      // hash agg all ran in ONE task (measured 5.9 s wall at cpu/run
      // 0.97 — pure single-thread compute). The narrow 4-column
      // exchange costs ~3 MB; the Expand and both aggregate passes then
      // spread across every core. Scan-split-gated (r17): at 100 TB the
      // natural splits spread the Expand and no exchange is planned.
      val l = graft.operators.Gates.spreadScan(
        Tables(s, dir, "lineitem").select(cols.map(col): _*))
      val measures = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c")))
      l.agg(measures.head, measures.tail: _*)
        .select(expr(s"stack(${cols.size}, " + cols.map(c =>
          s"'$c', n, nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ") +
          ") AS (col_name, n_rows, n_null, n_distinct, min_val, max_val)"))
        .orderBy(col("col_name"))
    }),

    // --- constraint validation (q180): Deequ-style data-quality checks
    // ("Automating large-scale data quality verification", Schelter et
    // al. VLDB 2018) as a first-class query — primary-key uniqueness,
    // referential integrity, domain ranges, and cross-table temporal
    // sanity, each one aggregate row. Scale shapes: the orphan check is
    // a left-anti hash join on the fact table's key (orders broadcast
    // at dimension scale, AQE picks shuffle when not); the dup check is
    // one partial-agged groupBy; the range checks are map-side
    // conditional sums; `passed` is computed arithmetic on both
    // engines, never a pinned literal.
    "q180_quality_checks" -> ((s, dir) => {
      val l = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val orphan = l.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(l.agg(count(lit(1)).as("n_checked")))
        .select(lit("orphan_lineitem").as("check_name"), col("n_violations"),
          col("n_checked"))
      val dup = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("dup_orderkey").as("check_name"), col("n_violations"),
          col("n_checked"))
      val ranges = l.agg(
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("bad_qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("bad_disc"),
        count(lit(1)).as("n_checked"))
      val qty = ranges.select(lit("nonpositive_quantity").as("check_name"),
        col("bad_qty").as("n_violations"), col("n_checked"))
      val disc = ranges.select(lit("discount_range").as("check_name"),
        col("bad_disc").as("n_violations"), col("n_checked"))
      val shipOrder = l.select(col("l_orderkey"), col("l_shipdate"))
        .join(o.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
          Seq("l_orderkey"))
        .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
        .select(lit("ship_before_order").as("check_name"), col("n_violations"),
          col("n_checked"))
      orphan.unionAll(dup).unionAll(qty).unionAll(disc).unionAll(shipOrder)
        .withColumn("passed", col("n_violations") === 0)
        .orderBy(col("check_name"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q01_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1995-04-01'
        |  AND l_quantity > 45.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_broadcast" ->
      s"""SELECT c_mktsegment, ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_join_multiway" ->
      s"""SELECT r_name, ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q05_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q06_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q07_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q08_setops" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,
    "q09_semijoin" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q10_antijoin" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q11_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
         |  COUNT(*) AS n
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q12_scalar_funcs" ->
      """SELECT p_partkey, UPPER(p_brand) AS brand_u, LENGTH(p_name) AS name_len,
        |  SUBSTRING(p_type, 1, 5) AS type5,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        |  ABS(p_size - 25) AS size_dist, p_partkey % 7 AS pk_mod,
        |  CONCAT_WS('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q13_having" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 10
         |ORDER BY o_orderpriority""".stripMargin,
    "q14_date_trunc" ->
      s"""SELECT DATE_TRUNC('month', o_orderdate) AS month, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q15_case_expr" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
        |            WHEN c_acctbal < 3000 THEN 'low'
        |            WHEN c_acctbal < 7000 THEN 'mid'
        |            ELSE 'high' END AS bucket, COUNT(*) AS n
        |FROM customer GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q16_pred_surface" ->
      """SELECT p_partkey, p_brand, p_size FROM part
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        |  AND p_size BETWEEN 5 AND 25 AND p_type LIKE '%O%'
        |ORDER BY p_partkey""".stripMargin,
    "q17_left_join" ->
      """SELECT n_nationkey, n_name, COALESCE(cnt, 0) AS n_customers
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
        |) c ON n_nationkey = c_nationkey
        |ORDER BY n_nationkey""".stripMargin,
    "q18_join_on_agg" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_above FROM lineitem
         |JOIN (SELECT l_partkey AS ap_partkey,
         |        ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty
         |      FROM lineitem GROUP BY 1) a ON l_partkey = ap_partkey
         |WHERE l_quantity > avg_qty * 1.5
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q73_full_outer" ->
      """SELECT c.c_custkey, o.o_custkey, o.n_orders
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 50) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |  WHERE o_custkey > 25 GROUP BY o_custkey
        |) o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey NULLS LAST, o.o_custkey NULLS LAST""".stripMargin,
    "q74_cross_grid" ->
      """SELECT r_name, o_orderstatus
        |FROM (SELECT r_name FROM region)
        |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "q78_arg_extremes" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey, o_totalprice) AS top_order,
        |  arg_min(o_orderkey, o_totalprice) AS bottom_order,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // One aggregate row melted to one row per profiled column; VARCHAR
    // casts for min/max match Spark's string rendering on int64/double/
    // timestamp (sweep-verified at all three scales).
    "q179_table_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
        |  COUNT(DISTINCT l_orderkey) AS nd1,
        |  CAST(MIN(l_orderkey) AS VARCHAR) AS mn1,
        |  CAST(MAX(l_orderkey) AS VARCHAR) AS mx1,
        |  SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn2,
        |  COUNT(DISTINCT l_quantity) AS nd2,
        |  CAST(MIN(l_quantity) AS VARCHAR) AS mn2,
        |  CAST(MAX(l_quantity) AS VARCHAR) AS mx2,
        |  SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn3,
        |  COUNT(DISTINCT l_returnflag) AS nd3,
        |  CAST(MIN(l_returnflag) AS VARCHAR) AS mn3,
        |  CAST(MAX(l_returnflag) AS VARCHAR) AS mx3,
        |  SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn4,
        |  COUNT(DISTINCT l_shipdate) AS nd4,
        |  CAST(MIN(l_shipdate) AS VARCHAR) AS mn4,
        |  CAST(MAX(l_shipdate) AS VARCHAR) AS mx4
        |  FROM lineitem)
        |SELECT col_name, n AS n_rows,
        |  CAST(n_null AS BIGINT) AS n_null,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
        |FROM (
        |  SELECT 'l_orderkey' AS col_name, n, nn1 AS n_null, nd1 AS n_distinct,
        |    mn1 AS min_val, mx1 AS max_val FROM a
        |  UNION ALL SELECT 'l_quantity', n, nn2, nd2, mn2, mx2 FROM a
        |  UNION ALL SELECT 'l_returnflag', n, nn3, nd3, mn3, mx3 FROM a
        |  UNION ALL SELECT 'l_shipdate', n, nn4, nd4, mn4, mx4 FROM a)
        |ORDER BY col_name""".stripMargin,

    "q180_quality_checks" ->
      """WITH checks AS (
        |  SELECT 'orphan_lineitem' AS check_name,
        |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
        |       ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL) AS n_violations,
        |    (SELECT COUNT(*) FROM lineitem) AS n_checked
        |  UNION ALL
        |  SELECT 'dup_orderkey',
        |    (SELECT COALESCE(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) FROM
        |      (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1)),
        |    (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL
        |  SELECT 'nonpositive_quantity',
        |    (SELECT COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0)
        |     FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'discount_range',
        |    (SELECT COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
        |       THEN 1 ELSE 0 END), 0) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'ship_before_order',
        |    (SELECT COALESCE(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
        |       THEN 1 ELSE 0 END), 0)
        |     FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |    (SELECT COUNT(*) FROM lineitem l JOIN orders o
        |       ON l.l_orderkey = o.o_orderkey))
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(n_checked AS BIGINT) AS n_checked,
        |  n_violations = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin
  )
}
