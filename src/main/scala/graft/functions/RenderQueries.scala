package graft.functions

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType}

/** Oracled queries over the Kusto render layer — the reference's actual
  * core competency (`/root/reference/pq2json/src/converter.rs`): timestamp
  * ticks/isostr/unixms rendering, date rendering, JSONL encode, CSV encode.
  * Each runs the Spark-side render against a DuckDB reformulation of the
  * same semantics, so the rendering rules themselves are hash-verified
  * per round (not just unit-tested).
  *
  * All of these are narrow scan->project pipelines: no shuffle, fully
  * parallel per file split, column-pruned at the parquet scan. They cost
  * O(rows read) at any scale.
  */
object RenderQueries extends QueryModule {

  import KustoRender._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- timestamp rendering, all three modes, on a TIMESTAMP(MILLIS)
    // column (converter.rs:307-332).
    "q19_render_timestamp" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          timestampIso(col("l_shipdate")).as("iso_ts"),
          timestampTicks(col("l_shipdate")).as("ticks"),
          timestampUnixMs(col("l_shipdate")).as("unix_ms"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // --- TIMESTAMP(NANOS) ingestion (events): nanos -> micros -> millis
    // truncation chain + ISO/date render (converter.rs:114-120,334-343).
    "q20_render_events" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          timestampIso(col("ts")).as("iso_ts"),
          timestampUnixMs(col("ts")).as("unix_ms"),
          dateIso(col("ts").cast("date")).as("day"))
        .orderBy(col("event_id"))
    }),

    // --- JSONL encode (entry point 1, converter.rs:128-143): whole-row
    // Kusto JSON with serde_json's sorted object keys.
    "q21_render_json" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      n.select(col("n_nationkey"),
          org.apache.spark.sql.GraftShims.column(
            KustoJsonExpr(
              org.apache.spark.sql.GraftShims.expression(
                struct(col("n_name"), col("n_nationkey"), col("n_regionkey"))),
              KustoRenderOptions())).as("json"))
        .orderBy(col("n_nationkey"))
    }),

    // --- NESTED JSONL encode: struct-in-struct, list and map columns
    // through the recursive render (converter.rs:214-281), oracled against
    // DuckDB's to_json of the same construction. Field names are chosen
    // already-sorted so serde_json's BTreeMap order == construction order.
    "q25_render_nested" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      n.select(col("n_nationkey"),
          org.apache.spark.sql.GraftShims.column(
            KustoJsonExpr(
              org.apache.spark.sql.GraftShims.expression(
                struct(
                  struct(col("n_name").as("name"), col("n_regionkey").as("rk")).as("info"),
                  array(col("n_nationkey"), col("n_regionkey")).as("keys"),
                  map(lit("n"), col("n_nationkey")).as("m"))),
              KustoRenderOptions())).as("json"))
        .orderBy(col("n_nationkey"))
    }),

    // --- pruning semantics through the gate (--prune, converter.rs
    // :220,225-229,240-244,271-280): omit-nulls drops null fields, an
    // empty-list value becomes null (then dropped), and a bag whose fields
    // all pruned away renders {} -> null (then dropped) — the CASCADE is
    // the behavior under test. Nulls/empties are planted per region so
    // the DuckDB oracle can state the expected JSON literally.
    "q65_render_prune" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      val rk = col("n_regionkey")
      n.select(col("n_nationkey"),
          org.apache.spark.sql.GraftShims.column(
            KustoJsonExpr(
              org.apache.spark.sql.GraftShims.expression(
                struct(
                  struct(when(rk === 1, lit(null).cast("long"))
                    .otherwise(rk).as("rk")).as("bag"),
                  when(rk === 2, array().cast("array<bigint>"))
                    .otherwise(array(rk)).as("ks"),
                  when(rk === 3, lit(null).cast("string"))
                    .otherwise(col("n_name")).as("nm"))),
              KustoRenderOptions(omitNulls = true, omitEmptyBags = true,
                omitEmptyLists = true))).as("json"))
        .orderBy(col("n_nationkey"))
    }),

    // --- CSV encode (entry point 2, converter.rs:145-188): ryu float text
    // with trailing-zero strip, raw strings, trailing \r terminator.
    "q22_render_csv" -> ((s, dir) => {
      // spread before the render: the per-row CSV encode (ryu float
      // render + escaping) ran inside the single-file scan task
      // (measured 3.1 s wall, cpu/run 0.86). Scan-split-gated (r17):
      // the narrow 3-column exchange only exists while the scan is a
      // single split — at 100 TB the natural splits spread the render
      // and no exchange is planned.
      val o = graft.operators.Gates.spreadScan(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      toKustoCsv(o).withColumn("o_orderkey",
          split(col("line"), ",").getItem(0).cast("long"))
        .select(col("o_orderkey"), col("line"))
        .orderBy(col("o_orderkey"))
    }),

    // --- CSV projection with a requested-but-missing column: the missing
    // name keeps its position as an EMPTY slot (converter.rs:160-169),
    // unlike the JSON path which silently drops it (converter.rs:81-84).
    "q67_csv_missing_col" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      toKustoCsv(n, Some(Seq("n_nationkey", "missing_col", "n_name")))
        .withColumn("k", split(col("line"), ",").getItem(0).cast("long"))
        .select(col("k"), col("line"))
        .orderBy(col("k"))
    }),

    // --- decimal plain-string render (converter.rs:345-371): the harness
    // has no decimal column, so cast one into existence — the render path
    // (DecimalPlainString expression) is what's under test.
    "q55_render_decimal" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      // double -> DECIMAL(18,4) rounds identically on both engines (the
      // double's representation error is far below the scale); widening
      // (18,4) -> (38,10) is then exact, avoiding engine-specific
      // double->wide-decimal rounding at digits the double can't hold.
      val d184 = col("o_totalprice").cast(DecimalType(18, 4))
      o.select(col("o_orderkey"),
          decimalPlain(d184).as("dec_str"),
          decimalPlain((-d184).cast(DecimalType(38, 10))).as("neg_wide"))
        .orderBy(col("o_orderkey"))
    }),

    // --- binary -> unsigned-byte-array render (converter.rs:283-289) over
    // real bytes (UTF-8 of ASCII names, so DuckDB can recompute per char).
    // The array is serialized to its JSON form for the compare: the gate
    // sorts result columns in pandas, which cannot sort raw array cells.
    "q56_render_binary" -> ((s, dir) => {
      val n = Tables(s, dir, "nation")
      n.select(col("n_nationkey"),
          to_json(bytesAsIntArray(col("n_name").cast(BinaryType))).as("bytes"))
        .orderBy(col("n_nationkey"))
    }),

    // --- u64 -> i64 two's-complement reinterpret (converter.rs:297-303)
    // with values pushed above i64::MAX so the wrap actually happens.
    "q57_convert_u64" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val big = (col("o_orderkey").cast(DecimalType(20, 0)) +
        lit(new java.math.BigDecimal("9223372036854775807")))
      o.select(col("o_orderkey"), u64ToLong(big).as("reinterpreted"))
        .orderBy(col("o_orderkey"))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q19_render_timestamp" ->
      """SELECT l_orderkey, l_linenumber,
        |  strftime(date_trunc('millisecond', l_shipdate), '%Y-%m-%dT%H:%M:%S.%fZ') AS iso_ts,
        |  epoch_ms(l_shipdate) * 10000 + 621355968000000000 AS ticks,
        |  epoch_ms(l_shipdate) AS unix_ms
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q20_render_events" ->
      """SELECT event_id,
        |  strftime(date_trunc('millisecond', ts), '%Y-%m-%dT%H:%M:%S.%fZ') AS iso_ts,
        |  epoch_ms(date_trunc('millisecond', ts)) AS unix_ms,
        |  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events ORDER BY event_id""".stripMargin,
    "q21_render_json" ->
      """SELECT n_nationkey,
        |  CAST(to_json(struct_pack(n_name := n_name, n_nationkey := n_nationkey,
        |                           n_regionkey := n_regionkey)) AS VARCHAR) AS json
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q25_render_nested" ->
      """SELECT n_nationkey,
        |  CAST(to_json(struct_pack(
        |    info := struct_pack(name := n_name, rk := n_regionkey),
        |    keys := [n_nationkey, n_regionkey],
        |    m := MAP {'n': n_nationkey})) AS VARCHAR) AS json
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q65_render_prune" ->
      """SELECT n_nationkey,
        |  CASE
        |    WHEN n_regionkey = 1 THEN '{"ks":[1],"nm":"' || n_name || '"}'
        |    WHEN n_regionkey = 2 THEN '{"bag":{"rk":2},"nm":"' || n_name || '"}'
        |    WHEN n_regionkey = 3 THEN '{"bag":{"rk":3},"ks":[3]}'
        |    ELSE '{"bag":{"rk":' || n_regionkey || '},"ks":[' || n_regionkey
        |      || '],"nm":"' || n_name || '"}'
        |  END AS json
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q22_render_csv" ->
      """SELECT o_orderkey,
        |  o_orderkey || ',' || o_orderstatus || ','
        |    || rtrim(rtrim(CAST(o_totalprice AS VARCHAR), '0'), '.')
        |    || chr(13) AS line
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q67_csv_missing_col" ->
      """SELECT n_nationkey AS k,
        |  n_nationkey || ',,' || n_name || chr(13) AS line
        |FROM nation ORDER BY k""".stripMargin,
    "q55_render_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) AS dec_str,
        |  CAST(CAST(-CAST(o_totalprice AS DECIMAL(18,4)) AS DECIMAL(38,10)) AS VARCHAR) AS neg_wide
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q56_render_binary" ->
      """SELECT n_nationkey,
        |  '[' || array_to_string(list_transform(range(1, length(n_name) + 1),
        |    i -> ascii(substr(n_name, CAST(i AS INT), 1))), ',') || ']' AS bytes
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q57_convert_u64" ->
      """SELECT o_orderkey,
        |  CASE WHEN x > 9223372036854775807
        |       THEN CAST(x - 18446744073709551616 AS BIGINT)
        |       ELSE CAST(x AS BIGINT) END AS reinterpreted
        |FROM (SELECT o_orderkey,
        |        CAST(o_orderkey AS DECIMAL(20,0)) + 9223372036854775807 AS x
        |      FROM orders) ORDER BY o_orderkey""".stripMargin
  )
}
