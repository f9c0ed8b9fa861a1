package graft.operators

import graft.functions.{GraftFunctions, TopKAggregator, VectorAggregators}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** The vector-search core every embedding query builds on: the loader,
  * the bounded-heap top-k and its rank tail, cosine cell scoring with
  * nearest-cell and top-2 probe assignment, the squared-L2 nearest
  * centroid, fixed-point per-label centroids, √n seed cells, and the
  * 8×8 product-quantization codebook, encode and decode.
  *
  * Tie rules are part of each helper's contract, because the DuckDB
  * oracles replay them: the top-k and the probe cells rank by (score
  * DESC, id ASC); the cosine argmax ties to the smaller cell; the d2
  * argmin ties to the smaller cid. Every argmax/argmin is a partial-
  * aggregated `max`/`min` over a struct whose leading fields are unique
  * per row, so the comparison never reaches the payload and one row per
  * vector leaves the map side.
  */
object Vectors {

  /** Bounded-heap top-k over (score: double, id: long), ties toward the
    * smaller id; see [[TopKAggregator]]. */
  def topK(k: Int): UserDefinedFunction =
    udaf(new TopKAggregator.TopK(k),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))

  /** Order-independent fixed-point centroid of 64-dim vectors; see
    * [[VectorAggregators.CentroidFixed]]. */
  def centroid: UserDefinedFunction =
    udaf(new VectorAggregators.CentroidFixed(64))

  /** The validated embeddings ([[LlmQueries.vecTable]]) as `keep`
    * columns plus `v`, the embedding as double[]. Registers `vec_dot`. */
  def vectors(s: SparkSession, dir: String, keep: String*): DataFrame = {
    GraftFunctions.register(s)
    LlmQueries.vecTable(s, dir).select(keep.map(col) :+
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"): _*)
  }

  /** `f`, the `embedding` column on the 2^16 integer grid: each component
    * floor(x · 65536) as bigint, so sums and products stay exact. */
  def fixedPoint: Column = expr(
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0D) AS BIGINT))").as("f")

  /** L2 norm of array column `v`, as SQL. `vec_dot` is the codegen'd
    * [[graft.functions.VecDot]]: bit-identical to the HOF
    * `aggregate(zip_with(...))` fold (the same left-to-right IEEE sum
    * from +0.0 the oracles run), but one fused primitive loop inside the
    * whole-stage-codegen span; the norm is vec_dot(v, v), acc + x*x in
    * index order. */
  def normOf(v: String): String = s"sqrt(vec_dot($v, $v))"

  /** `df` plus `nrm`, the norm of `v`: once per vector, never per pair. */
  def withNorm(df: DataFrame): DataFrame = df.withColumn("nrm", expr(normOf("v")))

  /** Squared Euclidean distance in the exact op order the DuckDB oracles
    * replicate: dot(v,v) - 2·dot(v,c) + dot(c,c). */
  def d2Expr(v: String, c: String): Column = expr(s"vec_dot($v, $v)") -
    lit(2.0) * expr(s"vec_dot($v, $c)") + expr(s"vec_dot($c, $c)")

  /** `topK(k)` of (score, id) per `keys` group, one row per rank:
    * (keys…, idName, scoreName, rnk) with rnk = 1..k in (score DESC, id
    * ASC) order. No keys ranks the whole frame. */
  def ranked(df: DataFrame, k: Int, keys: Seq[String], score: Column,
      id: Column, idName: String, scoreName: String = "score"): DataFrame = {
    val ks = keys.map(col)
    df.groupBy(ks: _*).agg(topK(k)(score, id).as("top"))
      .select(ks :+ posexplode(col("top")): _*)
      .select(ks ++ Seq(col("col._2").as(idName), col("col._1").as(scoreName),
        (col("pos") + 1).as("rnk")): _*)
  }

  /** One cell per label: (cell = label, cv = its centroid, cnrm). */
  def labelCells(e: DataFrame): DataFrame =
    e.groupBy(col("label")).agg(centroid(col("v")).as("cv"))
      .select(col("label").as("cell"), col("cv"))
      .withColumn("cnrm", expr(normOf("cv")))

  /** The ⌈√n⌉ IVF sizing rule, at least 8 cells. */
  def sqrtCells(n: Long): Int = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The `c` smallest-vec_id rows of `e` as seed cells: vec_id as int
    * named `id`, then `cols`. Checkpointed: seeds are broadcast into
    * every assignment step. */
  def smallestIdSeeds(e: DataFrame, c: Int, id: String, cols: Column*): DataFrame =
    e.orderBy(col("vec_id")).limit(c)
      .select(col("vec_id").cast("int").as(id) +: cols: _*)
      .localCheckpoint()

  /** Every (vector, cell) pair of `e` (vec_id, v, nrm, …) against the
    * broadcast `cells` (cell, cv, cnrm) with its cosine `cell_score`. */
  def cellScores(e: DataFrame, cells: DataFrame): DataFrame =
    e.crossJoin(broadcast(cells))
      .withColumn("cell_score", expr("vec_dot(v, cv)") / (col("nrm") * col("cnrm")))

  /** Each vector's one cell, the cosine argmax over [[cellScores]] rows
    * (ties to the smaller cell): (vec_id, cell, payload…). */
  def nearestCell(scored: DataFrame, payload: String*): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("cell_score") +: (-col("cell")).as("negc") +:
        payload.map(col): _*)).as("m"))
      .select(col("vec_id") +: (-col("m.negc")).as("cell") +:
        payload.map(p => col(s"m.$p").as(p)): _*)

  /** Each vector's top-2 cells over [[cellScores]] rows (ties to the
    * smaller cell), one row per probe: (vec_id as `id`, carry…, cell).
    * `carry` are per-vector aggregates riding the same aggregate. */
  def probeCells(scored: DataFrame, id: String, carry: (String, Column)*): DataFrame = {
    val carried = carry.map(c => col(c._1))
    scored.groupBy(col("vec_id"))
      .agg(topK(2)(col("cell_score"), col("cell").cast("long")).as("top"),
        carry.map { case (n, c) => c.as(n) }: _*)
      .select(col("vec_id").as(id) +: carried :+ explode(col("top")).as("t"): _*)
      .select(col(id) +: carried :+ col("t._2").cast("int").as("cell"): _*)
  }

  /** Each vector's nearest centroid by squared L2, `v` of `e` (vec_id, …)
    * against `c` of the broadcast `cents` (cid, …), ties to the smaller
    * cid: (vec_id, d2, cid, payload…). */
  def nearestCentroid(e: DataFrame, cents: DataFrame, v: String, c: String,
      payload: String*): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("d2", d2Expr(v, c))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2") +: col("cid") +: payload.map(col): _*)).as("m"))
      .select(Seq(col("vec_id"), col("m.d2").as("d2"), col("m.cid").as("cid")) ++
        payload.map(p => col(s"m.$p").as(p)): _*)

  /** The 8 subvectors (m, 8-dim `name`) of 64-dim array column `v`, as a
    * generator aliased `x`. */
  private def subvectors(v: String, name: String): Column = explode(expr(
    s"transform(sequence(0, 7), m -> struct(m AS m, slice($v, m*8+1, 8) AS $name))"))
    .as("x")

  /** PQ sub-codebook: each `code` row's 64-dim centroid column `c` split
    * into (code, m, c8, nc = |c8|²). */
  def subCodebook(cents: DataFrame, code: Column, c: String): DataFrame =
    cents.select(code, subvectors(c, "c8"))
      .select(col("code"), col("x.m").as("m"), col("x.c8").as("c8"))
      .withColumn("nc", expr("vec_dot(c8, c8)"))

  /** PQ encode: each (vec_id, m) subvector of `v` to its nearest
    * [[subCodebook]] code, (vec_id, m, code). The argmin is partial-
    * aggregated, so the exchange carries 8 rows per vector. */
  def pqCodes(df: DataFrame, v: String, codebook: DataFrame): DataFrame =
    df.select(col("vec_id"), subvectors(v, "sv"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .withColumn("nv", expr("vec_dot(sv, sv)"))
      .join(broadcast(codebook), Seq("m"))
      .withColumn("d", col("nv") + col("nc") - lit(2) * expr("vec_dot(sv, c8)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("code"))).as("sel"))
      .select(col("vec_id"), col("m"), col("sel.code").as("code"))

  /** PQ decode: each vector's codeword `rv`, its subvector codes
    * concatenated in m order, (vec_id, rv). */
  def pqDecode(codes: DataFrame, codebook: DataFrame): DataFrame =
    codes.join(broadcast(codebook.select(col("m"), col("code"), col("c8"))),
        Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(expr("flatten(transform(sort_array(collect_list(struct(m, c8))), x -> x.c8))")
        .as("rv"))
}
