package graft

import graft.operators.Vectors
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The tie rules of the vector-search core, on planted rows: each case
  * plants exact score ties, so only the tie rule decides the answer. */
class VectorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("vectors-spec")
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("cosine argmax ties to the smaller cell; the top-2 probe cells too") {
    val s = spark
    import s.implicits._
    val e = Vectors.withNorm(Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v"))
    // cells 9, 7 and 3 score exactly 1.0; cell 1 is orthogonal
    val cells = Seq((9, Seq(2.0, 0.0)), (1, Seq(0.0, 1.0)), (7, Seq(1.0, 0.0)),
        (3, Seq(4.0, 0.0)))
      .toDF("cell", "cv").withColumn("cnrm", expr(Vectors.normOf("cv")))
    val scored = Vectors.cellScores(e, cells)
    assert(scored.filter(col("cell") =!= 1).select("cell_score").as[Double]
      .collect().toSet == Set(1.0))
    assert(Vectors.nearestCell(scored, "v").select("cell").as[Int].collect()
      .toSeq == Seq(3))
    assert(Vectors.probeCells(scored, "query_id").select("cell").as[Int]
      .collect().sorted.toSeq == Seq(3, 7))
  }

  test("squared-L2 argmin ties to the smaller cid") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(-1.0, 0.0))).toDF("vec_id", "v")
    // cids 5 and 2 hold the same centroid; cid 0 is far from both vectors
    val cents = Seq((5, Seq(0.0, 1.0)), (0, Seq(9.0, 9.0)), (2, Seq(0.0, 1.0)))
      .toDF("cid", "c")
    val got = Vectors.nearestCentroid(e, cents, "v", "c", "v")
      .select("vec_id", "cid", "d2").as[(Long, Int, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 2, 2.0), (2L, 2, 2.0)))
  }

  test("ranked: rnk 1..k in (score DESC, id ASC) order, ties toward the smaller id") {
    val s = spark
    import s.implicits._
    val rows = Seq(("a", 0.5, 9L), ("a", 0.9, 8L), ("a", 0.1, 1L), ("a", 0.5, 2L),
      ("a", 0.9, 4L), ("b", 0.3, 6L), ("b", 0.3, 5L))
    val df = rows.toDF("key", "score", "id").repartition(3)
    val got = Vectors.ranked(df, 3, Seq("key"), col("score"), col("id"), "nbr_id")
      .select("key", "nbr_id", "score", "rnk").as[(String, Long, Double, Int)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got == Seq(("a", 4L, 0.9, 1), ("a", 8L, 0.9, 2), ("a", 2L, 0.5, 3),
      ("b", 5L, 0.3, 1), ("b", 6L, 0.3, 2)))
    // no keys: one ranking over the whole frame
    val all = Vectors.ranked(df, 2, Nil, col("score"), col("id"), "nbr_id")
      .select("nbr_id", "rnk").as[(Long, Int)].collect().sortBy(_._2).toSeq
    assert(all == Seq((4L, 1), (8L, 2)))
  }
}
