package graft

import graft.operators.ScaleOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-scale mechanics the 100 TB design leans on, proven in
  * plans and results rather than claimed in prose:
  *
  *   - bucketed tables co-locate a join: the exchange disappears from the
  *     join plan entirely (shuffle once at write time, never again)
  *   - saltedJoin equals the plain join row-for-row while spreading a hot
  *     key across `salts` reducers
  *   - every compression codec Spark ships round-trips through the
  *     parquet sink/source (§2.1 row 1 is "multi-codec scan")
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("scale-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
      spark.stop()
    }
  }

  test("bucketed tables join with NO exchange (write-once shuffle, co-located reads)") {
    val dir = "/root/testdata/sf0.001"
    Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bkt_orders")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("bkt_lineitem")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"), "o_orderkey")
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // co-located: zero shuffles
      assert(joined.count() == 6000) // every lineitem matches its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("saltedJoin: row-for-row parity with the plain join; hot key spread over salts") {
    import scala.jdk.CollectionConverters._
    // skewed fact side: 90% of rows on key 1
    val fact = spark.createDataFrame(
      (1 to 2000).map(i => Row(if (i % 10 != 0) 1L else (i % 50).toLong, i.toLong)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
    val dim = spark.createDataFrame(
      (0 until 50).map(i => Row(i.toLong, s"name_$i")).asJava,
      StructType(Seq(StructField("k", LongType), StructField("name", StringType))))
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
    val salted = ScaleOps.saltedJoin(fact, dim, "k", salts = 8).select("k", "v", "name")
    val a = plain.collect().map(_.toString).sorted.toSeq
    val b = salted.collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // the hot key's rows actually land on multiple salts (≥ half of them)
    val hotSalts = fact.filter(col("k") === 1L)
      .select(ScaleOps.saltExpr(fact, 8).as("s"))
      .distinct().count()
    assert(hotSalts >= 4, s"hot key spread over only $hotSalts salts")
  }

  test("saltedJoin: salts are content-pure (retry-safe); duplicate skew via pre-agg") {
    import scala.jdk.CollectionConverters._
    val fact = spark.createDataFrame(
      (1 to 1000).map(_ => Row(1L, 7L)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
      .repartition(8)
    // byte-identical rows share ONE salt by design: the salt is a pure
    // function of content, so task retries recompute identical join keys
    // (a positional component would change on shuffle-read reorder —
    // the SPARK-23207 correctness class)
    val dupSalts = fact.select(ScaleOps.saltExpr(fact, 8).as("s")).distinct().count()
    assert(dupSalts == 1, s"identical rows must share one salt, got $dupSalts")
    val dim = spark.createDataFrame(
      Seq(Row(1L, "one")).asJava,
      StructType(Seq(StructField("k", LongType), StructField("name", StringType))))
    assert(ScaleOps.saltedJoin(fact, dim, "k", salts = 8).count() == 1000)
    // the documented mitigation: aggregate duplicates to (row, count)
    // first — the distinct rows then spread across salts
    val agg = fact.groupBy(col("k"), col("v")).count()
      .union(spark.createDataFrame(
        (2 to 500).map(i => Row(1L, i.toLong, 1L)).asJava,
        StructType(Seq(StructField("k", LongType), StructField("v", LongType),
          StructField("count", LongType)))))
    val aggSalts = agg.select(ScaleOps.saltExpr(agg, 8).as("s")).distinct().count()
    assert(aggSalts >= 4, s"distinct rows spread over only $aggSalts salts")
    // reserved name: refuse inputs that already carry __salt
    val clash = fact.withColumn("__salt", lit(0L))
    val e = intercept[IllegalArgumentException](
      ScaleOps.saltedJoin(clash, dim, "k", salts = 8))
    assert(e.getMessage.contains("__salt"))
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    import scala.jdk.CollectionConverters._
    // one hot key carrying ~all the weight — the shape that stalls a
    // static plan on one reducer. With the skew-join thresholds scaled
    // down to toy-data sizes, AQE must mark the hot partition skewed and
    // split it; at 100 TB the same mechanism fires with default
    // thresholds, making salting unnecessary for plain joins (saltedJoin
    // stays for aggregate-shaped skew AQE cannot split).
    val prev = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val fact = spark.range(40000)
        .select((col("id") % 1000).as("k"), col("id").as("v"))
        .withColumn("k", when(col("v") % 10 =!= 0, lit(1L)).otherwise(col("k")))
        .withColumn("pad", lpad(col("v").cast("string"), 64, "x"))
      val dim = spark.range(1000).select(col("id").as("k"),
        concat(lit("name_"), col("id")).as("name"))
      val joined = fact.join(dim, Seq("k"))
      // run THIS queryExecution (count() would plan a separate one) so
      // the adaptive plan below is the final, post-runtime-stats one
      assert(joined.collect().length == 40000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the hot partition skewed:\n${finalPlan.take(1500)}")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("hive-partitioned write: partition filter prunes directories at the scan") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("part-write").toString
    Tables(spark, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    // one directory per status value on disk
    val parts = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("o_orderstatus=")).sorted.toSeq
    assert(parts == Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"))
    val filtered = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val plan = filtered.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the filter must prune partitions at planning, not scan-and-discard
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    assert(filtered.count() ==
      Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F").count())
  }

  test("schema evolution: mergeSchema unions epochs, old rows null-fill, pruning intact") {
    // A 100 TB dataset is written over months and its schema DRIFTS — a
    // later ingestion epoch adds a column the early files lack. The read
    // path must (a) union the schemas across files, (b) null-fill the
    // added column for old rows, and (c) keep column pruning working so
    // a query touching only the new column doesn't pay for the old ones.
    val out = java.nio.file.Files.createTempDirectory("evolve").toString
    spark.range(0, 5).selectExpr("id", "id * 2 AS a")
      .coalesce(1).write.mode("append").parquet(out)
    spark.range(5, 8).selectExpr("id", "id * 2 AS a", "CAST(id AS STRING) AS b_new")
      .coalesce(1).write.mode("append").parquet(out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.schema.fieldNames.sorted.toSeq == Seq("a", "b_new", "id"))
    val rows = merged.selectExpr("id", "b_new").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(rows(0).isEmpty && rows(7).contains("7"), rows.toString)
    assert(rows.size == 8)
    // pruning: a b_new-only projection reads just that column (+ nothing
    // else in ReadSchema)
    val plan = merged.select(col("b_new")).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("b_new") && !readSchema.contains("\"a\""), readSchema)
  }

  test("asofJoin: row-level carry (matched nulls stay null), <= ties, no-match nulls") {
    import scala.jdk.CollectionConverters._
    import graft.operators.TemporalOps
    val left = spark.createDataFrame(
      Seq(Row(1L, 10L, 100L), Row(1L, 20L, 250L), Row(2L, 30L, 50L)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("id", LongType),
        StructField("t", LongType))))
    val right = spark.createDataFrame(
      // at t=100 exactly (ties -> <= includes it); value null at t=200
      Seq(Row(1L, 100L, "a"), Row(1L, 200L, null)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("rt", LongType),
        StructField("v", StringType))))
    val got = TemporalOps.asofJoin(left, right, "k", "t", "rt")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getLong(3),
        r.getString(4))).toSet
    assert(got == Set(
      (1L, 10L, 100L, "a"),   // tie at t=100 matches (<= semantics)
      (1L, 20L, 200L, null),  // matched row's null v stays null (row-level)
      (2L, 30L, null, null))) // no right row for key 2 at-or-before t=50
    // reserved internal names and asof_* output collisions are refused,
    // not silently mangled
    val eRes = intercept[IllegalArgumentException](
      TemporalOps.asofJoin(left.withColumn("__t", lit(1L)), right, "k", "t", "rt"))
    assert(eRes.getMessage.contains("__t"))
    val eOut = intercept[IllegalArgumentException](
      TemporalOps.asofJoin(left.withColumn("asof_v", lit(1L)), right, "k", "t", "rt"))
    assert(eOut.getMessage.contains("asof_v"))
  }

  test("z-order layout prunes row groups on BOTH filter columns (footer stats)") {
    import graft.functions.ZorderKey
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    // bit-level sanity first: 0b11 x 0b10 -> a bits at even, b at odd
    assert(ZorderKey.interleave(3L, 0L) == 5L)   // 0101
    assert(ZorderKey.interleave(0L, 3L) == 10L)  // 1010
    assert(ZorderKey.interleave(0xffffffffL, 0L) == 0x5555555555555555L)

    val orders = Tables(spark, "/root/testdata/sf0.01", "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    def writeSorted(sortCol: org.apache.spark.sql.Column): String = {
      val out = java.nio.file.Files.createTempDirectory("zorder").toString
      orders.orderBy(sortCol).coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", "8192").parquet(out)
      new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
    }
    // average number of row groups whose [min, max] can contain a probe
    // value — what a reader must scan for an equality filter
    def avgCandidateGroups(file: String, column: String, probes: Seq[Long]): Double = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file), spark.sparkContext.hadoopConfiguration))
      try {
        val blocks = rd.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val ranges = blocks.asScala.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column).get.getStatistics
          (c.genericGetMin.asInstanceOf[Number].longValue,
            c.genericGetMax.asInstanceOf[Number].longValue)
        }.toSeq
        assert(ranges.length > 3, s"need several row groups, got ${ranges.length}")
        probes.map(v => ranges.count(r => r._1 <= v && v <= r._2).toDouble)
          .sum / probes.size
      } finally rd.close()
    }
    val linear = writeSorted(col("o_orderkey"))
    // per the expression contract, map both columns into comparable bit
    // widths first (orderkey spans ~16 bits vs custkey's ~11; raw
    // interleaving lets the wider column's high bits dominate the curve
    // and the narrow column barely clusters — measured 31% vs 75% pruning)
    val zorder = writeSorted(ZorderKey.zorderKey(
      (col("o_orderkey") / 40).cast("long"), col("o_custkey")))
    val custProbes = (1L to 20L).map(_ * 70)   // custkeys spread over ~1500
    val keyProbes = (1L to 20L).map(_ * 2800)  // orderkeys spread over ~60000
    val linearCust = avgCandidateGroups(linear, "o_custkey", custProbes)
    val zorderCust = avgCandidateGroups(zorder, "o_custkey", custProbes)
    val zorderKey = avgCandidateGroups(zorder, "o_orderkey", keyProbes)
    val linearKey = avgCandidateGroups(linear, "o_orderkey", keyProbes)
    // single-column sort: custkey stats span everything, no pruning signal
    // z-order: BOTH columns prune meaningfully vs the unpruned layout
    assert(zorderCust < linearCust * 0.6,
      s"zorder custkey pruning: $zorderCust vs linear $linearCust")
    assert(linearKey <= 2.0, s"linear orderkey should prune hard: $linearKey")
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(zorder), spark.sparkContext.hadoopConfiguration))
    val nGroups = try rd.getFooter.getBlocks.size finally rd.close()
    assert(zorderKey < nGroups * 0.7,
      s"zorder orderkey pruning: $zorderKey of $nGroups groups")
  }

  test("bloom pre-filter: fact rows surviving the sketch track dim selectivity") {
    // The q91 reduction is only worth its broadcast if the bloom actually
    // prunes: with ~1/5 of orders urgent and numBits/item = 8, the
    // surviving fraction must sit near selectivity + fpp, far below 1.
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_bf")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_bf")
    val total = spark.table("lineitem_bf").count()
    val kept = spark.sql(
      """WITH bf AS (
        |  SELECT graft_bloom_agg(xxhash64(o_orderkey), 50000L, 400000L) AS b
        |  FROM orders_bf WHERE o_orderpriority = '1-URGENT')
        |SELECT COUNT(*) FROM lineitem_bf
        |WHERE graft_might_contain((SELECT b FROM bf), xxhash64(l_orderkey))
        |""".stripMargin).head.getLong(0)
    val exact = spark.sql(
      """SELECT COUNT(*) FROM lineitem_bf
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders_bf
        |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin)
      .head.getLong(0)
    assert(kept >= exact, "bloom filters must never drop a true match")
    assert(kept < total * 0.4,
      s"bloom kept $kept of $total rows — no meaningful reduction")
  }

  test("df-capped candidate generation: a planted stop-shingle cannot explode pairs") {
    import graft.operators.LlmQueries
    // 100 base docs, each with 5 unique shingle hashes plus ONE
    // stop-shingle (hash 7) present in EVERY doc — the natural-text
    // boilerplate case. 5 planted near-dup copies share all hashes with
    // their source. A low threshold (t=0.1) puts every key of a doc in
    // its prefix, so the uncapped index holds the stop-shingle once per
    // doc: one bucket of n rows, C(n,2) candidates (df²-shaped, the
    // 100 TB skew bomb). The cap drops every index row with df > cap,
    // while the verify still scores survivors over the FULL arrays,
    // stop-shingle included.
    val base = (0 until 100).map { i =>
      (i.toLong, 6, Array(7L) ++ (0 until 5).map(j => 1000L + i * 10 + j))
    }
    val copies = (0 until 5).map { j =>
      (200L + j, 6, Array(7L) ++ (0 until 5).map(k => 1000L + j * 10 + k))
    }
    val docsets = spark.createDataFrame(base ++ copies)
      .toDF("doc_id", "sz", "hk")
    val n = base.size + copies.size
    val df = docsets.select(explode(col("hk")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val uncapped = LlmQueries.prefixIndex(docsets, 1)
    assert(uncapped.filter(col("h") === 7L).count() == n,
      "the uncapped low-threshold index must hold the stop-shingle in every doc")
    // no index row has df > cap, so no bucket holds more than cap rows
    for (t10 <- Seq(1, 5)) {
      val maxDf = LlmQueries.prefixIndex(docsets, t10, Some(50)).join(df, Seq("h"))
        .agg(max(col("df"))).head.getLong(0)
      assert(maxDf <= 50, s"t10=$t10: a capped index row has df $maxDf")
    }
    val verified = LlmQueries.prefixFilterPairs(docsets, 5, Some(50))
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // full-array verification: 6 shared of 6 total (the stop-shingle
    // counts toward the score even though it never generates candidates)
    assert(verified == (0 until 5).map(j => (j.toLong, 200L + j, 1.0)))

    // the DuckDB oracles encode the cap as `MIN(df) <= cap` over each
    // pair's shared shingles — pin that formulation equal to the
    // engine's capped result on this cap-ACTIVE corpus, so the oracle
    // SQL and the capped prefix join can never drift apart silently
    val idx = docsets.select(col("doc_id"), col("sz"), explode(col("hk")).as("h"))
    val withDf = idx.join(df, Seq("h"))
    val oracleShape = withDf.alias("a")
      .join(withDf.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"), min(col("a.df")).as("mindf"))
      .filter(col("inter") / (col("sz_a") + col("sz_b") - col("inter")) >= 0.5
        && col("mindf") <= 50)
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("sz_a") + col("sz_b") - col("inter"))).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(oracleShape == verified,
      s"oracle MIN(df)<=cap formulation diverged from the engine: $oracleShape")
  }

  test("q75 blocking: a dominant (lang, source) group cannot go quadratic") {
    import graft.operators.CorpusQueries
    // 2000 docs ALL in one (lang, source) group — the 100 TB skew shape
    // (an (en, web) group is billions of rows) — with lengths spread
    // 0..1999. Blocking on (lang, source) alone joins C(2000,2) ≈ 2.0M
    // rows before the ±5 residual prunes; the width-6 length bucket in
    // the equi-join key bounds the join output at ~3·Σ bucket² ≈ 17k.
    val d = spark.range(0, 2000).select(
      col("id").as("doc_id"), lit("en").as("lang"), lit("web").as("source"),
      col("id").cast("int").as("n_chars"),
      concat(lit("doc "), col("id")).as("text"))
    val blocked = CorpusQueries.editDistanceBlocked(d).count()
    assert(blocked < 40000L,
      s"bucketed candidate join produced $blocked rows — quadratic blow-up")
    // and the residual keeps the semantics exact: every pair within ±5
    // chars survives, nothing else — for distinct lengths 0..1999 that
    // is Σ_{d=1..5} (2000 - d) = 9985 pairs
    val cand = CorpusQueries.editDistanceCandidates(d).count()
    assert(cand == 9985L, s"candidate count $cand != 9985")
  }

  test("q253 substring spans: the L threshold admits exactly the >=L passages; within-doc repeats count; positions exact") {
    import graft.operators.CorpusQueries
    // Planted geometry on disjoint token namespaces (no accidental
    // 8-gram collisions): docs 1/2 share a 37-token passage at
    // DIFFERENT offsets (span start must track each doc's own
    // positions), docs 3/4 share a 29-token passage (one below the
    // L=30 threshold), doc 5 repeats a 15-token phrase WITHIN itself
    // (Lee et al. count same-doc occurrences as duplicates too).
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val sh = toks("s", 37); val t29 = toks("t", 29); val p15 = toks("p", 15)
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, (sh ++ toks("a", 5)).mkString(" ")),
      (2L, (toks("b", 5) ++ sh).mkString(" ")),
      (3L, (t29 ++ toks("c", 5)).mkString(" ")),
      (4L, (toks("d", 5) ++ t29).mkString(" ")),
      (5L, (p15 ++ toks("e", 10) ++ p15).mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("tk"))
    def spans(minLen: Int) = CorpusQueries.substringSpans(spark, d, minLen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans(30) == Set((1L, 1L, 37L, 37L), (2L, 6L, 42L, 37L)),
      "only the 37-token passage clears L=30, at each doc's own offsets")
    assert(spans(10) == Set(
      (1L, 1L, 37L, 37L), (2L, 6L, 42L, 37L),
      (3L, 1L, 29L, 29L), (4L, 6L, 34L, 29L),
      (5L, 1L, 15L, 15L), (5L, 26L, 40L, 15L)),
      "at L=10 the 29-token pair AND both within-doc repeats surface")
  }

  test("q260 span rewrite: removable passages strip exactly; untouched docs fingerprint as their full text") {
    import graft.operators.CorpusQueries
    // The q253 planted geometry driven through the REWRITE: docs 1/2
    // lose their shared 37-token passage (>= L=30) and keep only their
    // unique tails; docs 3/4 (29-token passage, below L) and doc 5
    // (15-token within-doc repeat) pass through UNSTRIPPED — the
    // precision the Lee et al. threshold buys. Fingerprints are
    // asserted against md5 computed independently here, not by Spark.
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val sh = toks("s", 37); val t29 = toks("t", 29); val p15 = toks("p", 15)
    val docs = Seq(
      1L -> (sh ++ toks("a", 5)), 2L -> (toks("b", 5) ++ sh),
      3L -> (t29 ++ toks("c", 5)), 4L -> (toks("d", 5) ++ t29),
      5L -> (p15 ++ toks("e", 10) ++ p15))
    val sp = spark
    import sp.implicits._
    val d = docs.map { case (id, tk) => (id, tk.mkString(" ")) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), expr("split(trim(text), '\\\\s+')").as("tk"))
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = CorpusQueries.spanRewrite(spark, d, minLen = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val full = docs.toMap
    assert(got == Set(
      (1L, 5L, md5Of(toks("a", 5).mkString(" "))),
      (2L, 5L, md5Of(toks("b", 5).mkString(" "))),
      (3L, 34L, md5Of(full(3L).mkString(" "))),
      (4L, 34L, md5Of(full(4L).mkString(" "))),
      (5L, 40L, md5Of(full(5L).mkString(" ")))), s"got $got")
  }

  test("q257 compaction: untouched strides pass through whole; tombstoned strides rewrite; emptied rows drop") {
    import graft.operators.CorpusQueries
    // The gated corpora fit ONE 8192-stride, so the gate never
    // exercises the untouched branch — this planted geometry does:
    // three blocks (0 / 1 / 2), tombstones only in blocks 1 and 2.
    val sp = spark
    import sp.implicits._
    val B = CorpusQueries.Bm25BlockStride
    def e(d: Long, t: Long) = (d, t)
    val post = Seq(
      // block 0: untouched — must pass through whole, SORTED
      ("alpha", 0L, Seq(e(7L, 2L), e(3L, 1L))),
      // block 1: partial deletion — entry (B+1) erased, rest sorted
      ("alpha", 1L, Seq(e(B + 5L, 4L), e(B + 1L, 9L))),
      // block 2: full deletion — the row must DROP
      ("beta", 2L, Seq(e(2 * B + 3L, 1L)))
    ).toDF("w", "blk", "pe")
      .select(col("w"), col("blk"),
        expr("transform(pe, x -> struct(x._1 AS d, x._2 AS t))").as("posting"))
    val del = Seq(B + 1L, 2 * B + 3L).toDF("doc_id")
    val got = CorpusQueries.compactPostings(post, del)
      .select(col("w"), col("blk"),
        expr("transform(posting, x -> concat(x.d, ':', x.t))").as("p"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
      .toSet
    assert(got == Set(
      ("alpha", 0L, List("3:1", "7:2")),      // untouched, sorted
      ("alpha", 1L, List(s"${B + 5}:4"))),    // rewritten, survivor only
      s"got $got")
  }

  test("q259 member compaction: untouched cells pass through whole; touched cells erase only tombstones") {
    import graft.operators.LlmQueries
    // The gated corpus erases %5==2 ids, which touches most cells — this
    // planted geometry drives the untouched branch explicitly: three
    // cells, tombstones resident only in cell 2 (one vector) and cell 3
    // (ALL vectors — the cell must empty).
    val sp = spark
    import sp.implicits._
    val members = Seq(
      (1L, 1, Seq(0.5), 1.0), (2L, 1, Seq(0.5), 1.0), // cell 1: untouched
      (3L, 2, Seq(0.5), 1.0), (4L, 2, Seq(0.5), 1.0), // cell 2: erase id 3
      (5L, 3, Seq(0.5), 1.0)                          // cell 3: empties
    ).toDF("vec_id", "cell", "av", "anrm")
    val del = Seq(3L, 5L).toDF("vec_id")
    val got = LlmQueries.compactMembers(members, del)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 1), (2L, 1), (4L, 2)),
      s"cell 1 whole, cell 2 keeps only the survivor, cell 3 gone: $got")
  }

  test("q264 shingle compaction: untouched keys pass whole; touched keys erase; emptied keys drop") {
    import graft.operators.CorpusQueries
    // The touched-key set must come from the ERASED docs' forward
    // residencies (doc-keyed lookup, never an index scan): key 400
    // belongs only to a surviving doc and must pass through untouched;
    // keys 100/200 are touched via erased doc 2, key 300 empties when
    // its only doc (4) is erased.
    val sp = spark
    import sp.implicits._
    // key 500 was CAP-EXCLUDED at build (in the forward frames, absent
    // from the stored index): erasing doc 2 brings its df under the
    // cap, but its postings were never stored — the documented cap
    // CONTRACT says compaction must not resurrect it.
    val forward = Seq(
      (1L, Seq(100L, 500L)), (2L, Seq(100L, 200L, 500L)),
      (3L, Seq(200L)), (4L, Seq(300L)), (5L, Seq(400L))
    ).toDF("doc_id", "hs")
    val idx = Seq(
      (100L, Seq(1L, 2L)), (200L, Seq(2L, 3L)),
      (300L, Seq(4L)), (400L, Seq(5L))
    ).toDF("h", "docs")
    val del = Seq(2L, 4L).toDF("doc_id")
    val got = CorpusQueries.compactShingleIndexFrames(forward, idx, del)
      .select(col("h"), expr("array_sort(docs)").as("docs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(got == Map(100L -> List(1L), 200L -> List(3L),
      400L -> List(5L)),
      s"cap-excluded key 500 must stay out; emptied 300 drops: $got")
  }

  test("q270/q271 era composition on planted frames: compact∘compact ≡ compact with the union tombstone set") {
    import graft.operators.CorpusQueries
    val sp = spark
    import sp.implicits._
    val B = CorpusQueries.Bm25BlockStride
    // postings: era 1 erases in block 1 (rewrites it), era 2 erases in
    // block 0 (untouched by era 1) AND AGAIN in block 1 (already
    // rewritten once — the geometry that catches a compactor that
    // skips era-1 output blocks); block 2 stays untouched both eras
    val post = Seq(
      ("alpha", 0L, Seq((7L, 2L), (3L, 1L))),
      ("alpha", 1L, Seq((B + 5L, 4L), (B + 1L, 9L), (B + 2L, 3L))),
      ("beta", 2L, Seq((2 * B + 3L, 1L)))
    ).toDF("w", "blk", "pe")
      .select(col("w"), col("blk"),
        expr("transform(pe, x -> struct(x._1 AS d, x._2 AS t))").as("posting"))
    val d1 = Seq(B + 1L).toDF("doc_id")
    val d2 = Seq(3L, B + 2L).toDF("doc_id")
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("w"), col("blk"),
        expr("transform(posting, x -> concat(x.d, ':', x.t))").as("p"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList))
      .toSet
    val chained = flat(CorpusQueries.compactPostings(
      CorpusQueries.compactPostings(post, d1), d2))
    val union = flat(CorpusQueries.compactPostings(post,
      d1.unionByName(d2)))
    assert(chained == union, s"chained $chained vs union $union")
    assert(chained == Set(
      ("alpha", 0L, List("7:2")),
      ("alpha", 1L, List(s"${B + 5}:4")),
      ("beta", 2L, List(s"${2 * B + 3}:1"))), s"got $chained")
    // shingle index: era 2 touches a key era 1 already rewrote (100),
    // empties a key era 1 left whole (200), and leaves 400 untouched;
    // the pre-era forward frame serves both eras (disjoint cohorts —
    // the q271 scaladoc contract)
    val forward = Seq(
      (1L, Seq(100L)), (2L, Seq(100L, 200L)),
      (3L, Seq(200L)), (5L, Seq(400L))
    ).toDF("doc_id", "hs")
    val idx = Seq(
      (100L, Seq(1L, 2L)), (200L, Seq(2L, 3L)), (400L, Seq(5L))
    ).toDF("h", "docs")
    val sd1 = Seq(2L).toDF("doc_id")
    val sd2 = Seq(3L).toDF("doc_id")
    def sflat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("h"), expr("array_sort(docs)").as("docs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val sChained = sflat(CorpusQueries.compactShingleIndexFrames(forward,
      CorpusQueries.compactShingleIndexFrames(forward, idx, sd1), sd2))
    val sUnion = sflat(CorpusQueries.compactShingleIndexFrames(forward,
      idx, sd1.unionByName(sd2)))
    assert(sChained == sUnion, s"chained $sChained vs union $sUnion")
    assert(sChained == Map(100L -> List(1L), 400L -> List(5L)),
      s"200 must empty across eras: $sChained")
  }

  test("q265 cluster maintenance: a deleted cut vertex SPLITS its cluster; labels reflow; edge-less survivors drop; untouched clusters keep labels") {
    import graft.operators.CorpusQueries
    // Four planted clusters exercise the four hard cases the gate
    // corpus may never produce:
    //  - chain 1-2-3-4-5 loses its middle (3): SPLITS into {1,2}
    //    (label 1 kept) and {4,5} (NEW min label 4)
    //  - {10,11} untouched: passes through with label 10
    //  - {20,21} loses 21: survivor 20 has no surviving edge -> drops
    //    (a rebuild's pair graph would not contain it)
    //  - {30,31,32} loses its LABEL doc (30): survivors relabel to 31
    val sp = spark
    import sp.implicits._
    val cl = Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L
    ).toDF("doc_id", "cluster")
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (30L, 31L), (31L, 32L)
    ).toDF("doc_a", "doc_b")
    val del = Seq(3L, 21L, 30L).toDF("doc_id")
    val got = CorpusQueries.maintainClusterMapFrames(cl, pairs, del)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L, 31L -> 31L, 32L -> 31L), s"got $got")
  }

  test("q116 span-strip: every-doc boilerplate costs linear cover, strips exactly") {
    import graft.operators.CorpusQueries
    // 2000 docs, each = one corpus-wide 8-token boilerplate prefix + a
    // 12-token unique tail. In a pairwise design this boilerplate would
    // be the df² skew bomb (2000² candidate pairs); span marking is
    // occurrence-keyed, so the cover is 8 positions per doc — linear —
    // and the prefix (plus the 7 straddling grams' reach into the tail)
    // is stripped everywhere while the rest of the unique tail survives.
    val boiler = (0 until 8).map(i => s"b$i").mkString(" ")
    val d = spark.range(0, 2000).select(
      col("id").as("doc_id"),
      concat(lit(boiler + " "),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"u$j-"), col("id"))): _*)).as("text"))
    val out = CorpusQueries.dupSpanStrip(d).collect()
    assert(out.length == 2000)
    // straddling grams (prefix tail + unique head) occur once each, so
    // ONLY the 8 boilerplate positions are covered in every doc
    assert(out.forall(_.getAs[Long]("dup_tok") == 8L),
      out.map(_.getAs[Long]("dup_tok")).distinct.mkString(","))
    assert(out.forall(_.getAs[Int]("n_tok") == 20))
    val r0 = out.find(_.getAs[Long]("doc_id") == 7L).get
    assert(r0.getAs[String]("clean_text") ==
      (0 until 12).map(j => s"u$j-7").mkString(" "))
  }

  test("q120 segment dedup: every-doc boilerplate keeps exactly ONE copy, first doc wins") {
    import graft.operators.CorpusQueries
    // 1500 docs of exactly two 12-token segments: a corpus-wide
    // boilerplate FIRST segment and a unique second one. Keep-first
    // semantics: the boilerplate survives only in doc 0 (the global
    // minimum (doc_id, seg_idx)); every other doc is rebuilt from its
    // unique segment alone. First-occurrence resolution is a
    // min-of-struct aggregate, so the 1500-occurrence hot segment
    // reduces map-side — no per-hash window partition to skew.
    val boiler = (0 until 12).map(i => s"b$i").mkString(" ")
    val d = spark.range(0, 1500).select(
      col("id").as("doc_id"),
      concat(lit(boiler + " "),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"u$j-"), col("id"))): _*)).as("text"))
    val out = CorpusQueries.segmentDedup(d).collect()
    assert(out.length == 1500)
    assert(out.forall(_.getAs[Long]("n_seg") == 2L))
    val doc0 = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(doc0.getAs[Long]("n_kept") == 2L)
    assert(doc0.getAs[String]("clean_text").startsWith(boiler))
    val rest = out.filter(_.getAs[Long]("doc_id") != 0L)
    assert(rest.forall(_.getAs[Long]("n_kept") == 1L))
    val r42 = rest.find(_.getAs[Long]("doc_id") == 42L).get
    assert(r42.getAs[String]("clean_text") ==
      (0 until 12).map(j => s"u$j-42").mkString(" "))
  }

  test("q126 shard count is a parameter: sort partitions track N, bounded per-shard rows") {
    import graft.operators.CorpusQueries
    // The scale claim "no global sort" holds only if the per-shard sort
    // is corpus_rows / nShards — so nShards must scale with input, not
    // sit at a constant. Drive the factored engine at several N over a
    // 6000-doc corpus: every shard id in [0, N) is populated (the
    // window sort partition count tracks N), the uniform content hash
    // keeps the heaviest shard within 2x of the mean (the per-task sort
    // bound), and positions are a 1..size permutation within each shard.
    val d = spark.range(0, 6000).select(col("id").as("doc_id"),
      concat(lit("document body "), col("id")).as("text"))
    for (n <- Seq(4, 64, 256)) {
      val out = CorpusQueries.shardShuffle(d, nShards = n)
        .groupBy(col("shard")).agg(count(lit(1)).as("c"), max(col("pos")).as("mx"))
        .collect()
      assert(out.length == n, s"N=$n: ${out.length} shards populated")
      assert(out.forall(r => r.getAs[Int]("mx").toLong == r.getAs[Long]("c")),
        s"N=$n: pos must be contiguous 1..size per shard")
      val mean = 6000.0 / n
      val worst = out.map(_.getAs[Long]("c")).max
      assert(worst <= mean * 2,
        s"N=$n: heaviest shard $worst vs mean $mean — hash not balancing")
    }
    // the rows-per-shard derivation the 100 TB caller uses: ceil(rows/target)
    assert(CorpusQueries.shardCountFor(d, targetRowsPerShard = 1000L) == 6)
    assert(CorpusQueries.shardCountFor(d, targetRowsPerShard = 7000L) == 1)
    // epochs permute independently: same shards, different in-shard order
    val e0 = CorpusQueries.shardShuffle(d, 8, epoch = 0)
    val e1 = CorpusQueries.shardShuffle(d, 8, epoch = 1)
    val joined = e0.alias("a").join(e1.alias("b"), Seq("doc_id"))
      .select(col("a.shard").as("s0"), col("b.shard").as("s1"),
        (col("a.pos") === col("b.pos")).cast("long").as("same"))
      .agg(sum(when(col("s0") === col("s1"), 1L).otherwise(0L)).as("shard_agree"),
        sum(col("same")).as("pos_agree")).head()
    assert(joined.getLong(0) == 6000L, "shard must be epoch-independent")
    assert(joined.getLong(1) < 100L, s"epoch permutation too correlated: ${joined.getLong(1)}")
  }

  test("q139 source cap: a mega-domain reduces to K rows map-side, small sources pass whole") {
    import graft.operators.CorpusQueries
    // 50k docs in ONE source plus 10 five-doc sources. A row_number
    // window would sort the mega-domain's 50k rows in one task; the
    // bounded-heap TopK ships at most K pairs per partial buffer, so the
    // mega-domain's contribution to the shuffle is partitions x K rows.
    // Behavior proof: exactly K survive for the mega source (and they
    // are THE K smallest hashes — checked against a local reference),
    // every small source keeps all docs, rnk is 1..n per source.
    val mega = spark.range(0, 50000).select(lit("mega").as("source"),
      col("id").as("doc_id"), concat(lit("body "), col("id")).as("text"))
    val small = spark.range(0, 50).select(
      concat(lit("s"), (col("id") % 10)).as("source"),
      (col("id") + 100000).as("doc_id"),
      concat(lit("tail "), col("id")).as("text"))
    val out = CorpusQueries.sourceCap(mega.unionByName(small), k = 7).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    assert(bySrc("mega").length == 7)
    assert(bySrc.filter(_._1 != "mega").forall(_._2.length == 5))
    assert(out.groupBy(_.getAs[String]("source")).values.forall(rs =>
      rs.map(_.getAs[Int]("rnk")).sorted.sameElements(1 to rs.length)))
    // the kept mega docs are the true 7 smallest (hash, doc_id) pairs
    val md = java.security.MessageDigest.getInstance("MD5")
    def uhash(t: String): Long = java.lang.Long.parseLong(
      md.digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val want = (0L until 50000L).map(i => (uhash(s"body $i"), i))
      .sorted.take(7).map(_._2)
    val got = bySrc("mega").sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("doc_id"))
    assert(got.sameElements(want), s"got ${got.toSeq} want $want")
  }

  test("q124 band cap: a corpus-wide constant band cannot go quadratic; cold bands still pair") {
    import graft.operators.LlmQueries
    // 3000 hashes all sharing band 0 (the smooth-image reality: one
    // 16-bit band value across the whole corpus). Uncapped, band 0 alone
    // is C(3000,2) = 4.5M candidates; with the cap it generates NONE,
    // and only the planted pair agreeing on a COLD band (docs 0 and 1,
    // identical bands 1-3, hamming 2 inside band 0) survives — found
    // via band 1, proving the cap trims the bomb, not the recall path.
    val constBand = "0101010101010101" // band 3 of EVERY doc -> bucket 3000
    val shared = "1111000011110000" // bands 1-2 of docs 0,1 only -> bucket 2
    def bits(doc: Long): String =
      if (doc == 0L) "1111111111111100" + shared + shared + constBand
      else if (doc == 1L) "1111111111111111" + shared + shared + constBand
      else {
        // docs >= 2: bands 0-2 unique per doc (doc < 2^12 < the "1111"
        // prefix of docs 0/1 and of `shared`, so no cross-bucket hits)
        val u = String.format("%16s", doc.toBinaryString).replace(' ', '0')
        u + u + u.reverse + constBand
      }
    val rows = (0L until 3000L).map(d => (d, bits(d)))
    val hashed = spark.createDataFrame(rows).toDF("doc_id", "ahash")
    assert(rows.forall(_._2.length == 64))
    val pairs = LlmQueries.ahashNearDupPairs(hashed, 256).collect()
    // docs 0,1: agree on bands 1,2 (cold), differ by 2 bits in band 0 ->
    // found. Everyone shares band 3 (bucket 3000 > cap) -> it generates
    // no candidates; docs >= 2 share nothing cold -> no other pairs.
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)),
      pairs.take(10).mkString(","))
    assert(pairs.head.getInt(2) == 2)
  }

  test("q249 contracted resolution: a bridging delta doc merges clusters transitively") {
    import graft.operators.CorpusQueries
    import scala.jdk.CollectionConverters._
    // Planted bridge geometry the corpus may never produce: doc 20001
    // matches members of clusters 1 AND 7 (the bridge — both clusters
    // must merge under min label 1), doc 20002 matches cluster 7 ONLY
    // but must STILL land in cluster 1 through 20001's merge
    // (transitivity through the contracted graph, not just the direct
    // link), and doc 20003 matches nothing (singleton = own id).
    val linkSchema = StructType(Seq(StructField("new_id", LongType),
      StructField("corpus_id", LongType), StructField("c", LongType)))
    val links = spark.createDataFrame(Seq(
      Row(20001L, 5L, 1L), Row(20001L, 9L, 7L),
      Row(20002L, 11L, 7L)).asJava, linkSchema)
    val ids = spark.createDataFrame(
      Seq(Row(20001L), Row(20002L), Row(20003L)).asJava,
      StructType(Seq(StructField("doc_id", LongType))))
    val got = CorpusQueries.resolveAdmissions(ids, links)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(20001L) == ((1L, 2L, 2L, true)),
      s"bridge doc must merge into min label with bridges=true: $got")
    assert(got(20002L) == ((1L, 1L, 1L, false)),
      s"merge must propagate transitively to single-cluster docs: $got")
    assert(got(20003L) == ((20003L, 0L, 0L, false)),
      s"unmatched doc must become its own singleton: $got")
  }

  test("deep duplicate chains: star escalation converges where propagation caps out") {
    import graft.operators.{CorpusQueries, GraphOps}
    import scala.jdk.CollectionConverters._
    val pairSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    // a 100-node chain 0-1-2-...-99: diameter 99, so min-label
    // propagation needs ~99 rounds — with the cap at 5 it CANNOT
    // converge and must escalate to large-star/small-star, which is
    // diameter-independent. Everything must land in cluster 0.
    val chain = spark.createDataFrame(
      (0L until 99L).map(i => Row(i, i + 1)).asJava, pairSchema)
    val got = CorpusQueries.connectedComponents(chain, propagationCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == (0L to 99L).toSet)
    assert(got.values.forall(_ == 0L), s"chain must be ONE cluster rooted at 0: $got")
    // and the escalation returns the same labeling the plain loop finds
    // when its cap is big enough — the two tiers agree
    val viaPropagation = CorpusQueries.connectedComponents(chain, propagationCap = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaPropagation == got)
    // multi-component sanity straight at the star algorithm: a chain and
    // a disjoint triangle with shuffled ids keep separate roots
    val two = spark.createDataFrame(
      (Seq(Row(10L, 11L), Row(11L, 12L)) ++ // chain rooted at 10
        Seq(Row(7L, 5L), Row(5L, 3L), Row(3L, 7L))).asJava, // triangle rooted at 3
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
    val labels = GraphOps.starComponents(two)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      3L -> 3L, 5L -> 3L, 7L -> 3L))
  }

  test("q158 triangle census: hub bomb defused by orientation; clique/star counts exact") {
    import graft.operators.CorpusQueries
    import scala.jdk.CollectionConverters._
    val pairSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    def pairsOf(es: Seq[(Long, Long)]) = spark.createDataFrame(
      es.map { case (a, b) => Row(a, b) }.asJava, pairSchema)
    // a 6-clique: C(6,3)=20 triangles, closure exactly 1 (every wedge
    // closes) — the boilerplate-template-family signature
    val k = 6L
    val clique = pairsOf(for (a <- 0L until k; b <- a + 1 until k) yield (a, b))
    val cRow = CorpusQueries.triangleCensus(clique).collect().head
    assert((cRow.getLong(0), cRow.getLong(1), cRow.getLong(2), cRow.getLong(3),
      cRow.getDouble(4)) == ((6L, 15L, 60L, 20L, 1.0)), cRow)
    // a 1000-leaf star (the hub bomb): zero triangles, and the NAIVE
    // wedge join would put C(1000,2) ≈ 500k candidate rows through the
    // hub. The orientation makes the hub the (degree)-largest endpoint
    // of every edge, so ALL edges point INTO it: its out-degree is 0 and
    // the leaves' is 1 — the wedge join's candidate volume is
    // Σ outdeg·(outdeg-1)/2 = 0, structurally, not probabilistically.
    val star = pairsOf((1L to 1000L).map(i => (0L, i)))
    val sRow = CorpusQueries.triangleCensus(star).collect().head
    assert((sRow.getLong(0), sRow.getLong(1), sRow.getLong(3),
      sRow.getDouble(4)) == ((1001L, 1000L, 0L, 0.0)), sRow)
    assert(sRow.getLong(2) == 1000L * 999L / 2, "star wedges = C(1000,2)")
    val oriented = CorpusQueries.orientedEdges(star)
      .groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .agg(max(col("outdeg"))).collect().head.getLong(0)
    assert(oriented == 1L, s"star orientation must give every node outdeg <= 1, max was $oriented")
    // chain a-b-c: one wedge, no triangle, closure 0
    val chain3 = pairsOf(Seq((1L, 2L), (2L, 3L)))
    val chRow = CorpusQueries.triangleCensus(chain3).collect().head
    assert((chRow.getLong(2), chRow.getLong(3), chRow.getDouble(4)) == ((1L, 0L, 0.0)), chRow)
  }

  test("q158 triangle census agrees with brute force on seeded random graphs") {
    import graft.operators.CorpusQueries
    import scala.jdk.CollectionConverters._
    val pairSchema = StructType(Seq(
      StructField("doc_a", LongType), StructField("doc_b", LongType)))
    val rnd = new scala.util.Random(4242) // fixed seed — deterministic
    for (trial <- 1 to 5) {
      val n = 10 + trial * 2
      val edges = (for (a <- 0L until n; b <- a + 1 until n
                        if rnd.nextDouble() < 0.3) yield (a, b)).toSeq
      val adj = edges.toSet
      def linked(x: Long, y: Long) = adj((math.min(x, y), math.max(x, y)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val bruteTri = (for (a <- nodes; b <- nodes if a < b; c <- nodes if b < c
        if linked(a, b) && linked(b, c) && linked(a, c)) yield 1).size
      val deg = nodes.map(v => edges.count(e => e._1 == v || e._2 == v))
      val bruteWedges = deg.map(d => d.toLong * (d - 1) / 2).sum
      val row = CorpusQueries.triangleCensus(spark.createDataFrame(
        edges.map { case (a, b) => Row(a, b) }.asJava, pairSchema)).collect().head
      assert(row.getLong(0) == nodes.size && row.getLong(1) == edges.size &&
        row.getLong(2) == bruteWedges && row.getLong(3) == bruteTri,
        s"trial $trial: got $row want nodes=${nodes.size} edges=${edges.size}" +
          s" wedges=$bruteWedges tri=$bruteTri")
    }
  }

  test("q159 trend: negative slope exact, degenerate series (den=0) total") {
    import graft.operators.EventAnalytics
    import java.sql.Timestamp
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
    // user 1: 2.0 at 2024-01-01, 1.0 at 2024-01-02 — slope EXACTLY
    // -1.0/day; the signed branch must half-up |num| then reapply the
    // sign (a plain DIV would floor -0.5 to -1 in DuckDB but truncate
    // to 0 in Spark — this pin is what keeps the engines agreeing)
    // user 2: two events at the SAME instant — den = 0, slope total 0.0
    val rows = Seq(
      Row(1L, ts("2024-01-01T00:00:00Z"), 2.0),
      Row(1L, ts("2024-01-02T00:00:00Z"), 1.0),
      Row(2L, ts("2024-03-05T12:00:00Z"), 4.0),
      Row(2L, ts("2024-03-05T12:00:00Z"), 5.0))
    val got = EventAnalytics.userTrend(
        spark.createDataFrame(rows.asJava, schema))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 1.5, -1.0),
      (2L, 2L, 4.5, 0.0)), got.toSeq)
  }

  test("q181 SCD2: planted stream — versions, snapshot membership, dwell grid") {
    import graft.operators.EventAnalytics
    import java.sql.Timestamp
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_id", LongType),
      StructField("event_type", StringType)))
    def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
    // user 1: A [d1, d3) -> B [d3, d10) -> A [d10, open)
    // user 2: B [d2, open) — still in B at the d5 snapshot
    val rows = Seq(
      Row(1L, ts("2024-01-01T00:00:00Z"), 1L, "A"),
      Row(1L, ts("2024-01-03T00:00:00Z"), 2L, "B"),
      Row(1L, ts("2024-01-10T00:00:00Z"), 3L, "A"),
      Row(2L, ts("2024-01-02T00:00:00Z"), 4L, "B"))
    val got = EventAnalytics.scd2Snapshot(
        spark.createDataFrame(rows.asJava, schema), "2024-01-05 00:00:00")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // A: 2 versions, 1 closed (2 days); nobody in A at d5.
    // B: 2 versions, 1 closed (7 days); both users in B at d5.
    assert(got.toSeq == Seq(
      ("A", 2L, 0L, 172800.0),
      ("B", 2L, 2L, 604800.0)), got.toSeq)
  }

  test("q184 Bradley-Terry: planted tournament recovers the strength order") {
    import graft.operators.CorpusQueries
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("a", StringType),
      StructField("bsrc", StringType),
      StructField("cur_wins", BooleanType)))
    // alpha beats beta 9/10, beta beats gamma 9/10, alpha beats gamma
    // 9/10 — BT must rank alpha > beta > gamma; the strongest source
    // (alpha) normalizes to exactly 1.0 each round.
    val rows = (for {
      (hi, lo) <- Seq(("alpha", "beta"), ("beta", "gamma"), ("alpha", "gamma"))
      k <- 0 until 10
    } yield Row(hi, lo, k < 9)).toSeq
    val got = CorpusQueries.btStrengths(
        spark.createDataFrame(rows.asJava, schema))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val by = got.map(t => t._1 -> t).toMap
    assert(got.map(_._1) == Seq("alpha", "beta", "gamma"))
    assert(by("alpha")._2 == 20 && by("alpha")._3 == 18, by("alpha"))
    assert(by("beta")._2 == 20 && by("beta")._3 == 10, by("beta"))
    assert(by("gamma")._2 == 20 && by("gamma")._3 == 2, by("gamma"))
    assert(by("alpha")._4 == 1.0, "normalization pins the strongest source at 1.0")
    assert(by("alpha")._4 > by("beta")._4 && by("beta")._4 > by("gamma")._4, got)
    // a winless source must floor at the 1e-6 grid unit, never 0
    val shut = (0 until 4).map(_ => Row("win", "lose", true))
    val g2 = CorpusQueries.btStrengths(
        spark.createDataFrame(shut.asJava, schema))
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(g2("lose") >= 1e-6 && g2("lose") < g2("win"), g2)
  }

  test("q195 CDC chunker: a shared passage chunks identically at any offset") {
    import graft.operators.CorpusQueries
    val sp = spark
    import sp.implicits._
    // the SAME 200-token passage behind prefixes of DIFFERENT lengths
    // (17 vs 31 — deliberately not congruent mod anything): content-
    // defined boundaries re-synchronize a few tokens into the passage,
    // so the interior chunks fingerprint identically in both docs. A
    // fixed-width windowing would share nothing here — that contrast
    // IS the operator's reason to exist.
    val p = (0 until 200).map(i => s"p$i").mkString(" ")
    val d = Seq(
      (0L, "s0", (0 until 17).map(i => s"a$i").mkString(" ") + " " + p),
      (1L, "s1", (0 until 31).map(i => s"b$i").mkString(" ") + " " + p))
      .toDF("doc_id", "source", "text")
    val occ = CorpusQueries.cdcChunkOccurrences(d).collect()
    val byDoc = occ.groupBy(_.getLong(0)).map { case (k, rs) =>
      k -> rs.map(r => (r.getLong(2), r.getLong(3))).toSeq
    }
    assert(byDoc(0L).size > 3 && byDoc(1L).size > 3,
      s"expected multiple chunks per doc: ${byDoc.view.mapValues(_.size).toMap}")
    // token conservation: chunk sizes partition each doc exactly
    assert(byDoc(0L).map(_._2).sum == 217L)
    assert(byDoc(1L).map(_._2).sum == 231L)
    val shared = byDoc(0L).map(_._1).toSet
      .intersect(byDoc(1L).map(_._1).toSet)
    assert(shared.size >= 5,
      s"offset invariance: expected many shared interior chunks, got ${shared.size}")
    val sharedTok = byDoc(0L).filter(t => shared(t._1)).map(_._2).sum
    assert(sharedTok >= 100,
      s"most of the 200 shared tokens should sit in shared chunks, got $sharedTok")
  }

  test("q194 waterfill: planted supplies hit the closed-form max-min allocation") {
    import graft.operators.CorpusQueries
    val sp = spark
    import sp.implicits._
    // supplies (10, 20, 100, 1000), budget 90% of 1130 = 1017:
    // the three small sources are fully funded (each supply x
    // remaining-sources fits the remaining budget), the giant gets the
    // floor water level 1017 - 130 = 887 — and the allocation sums to
    // the budget EXACTLY because only one source is throttled.
    val counts = Seq(("a", 10L), ("b", 20L), ("c", 100L), ("d", 1000L))
      .toDF("source", "n_tokens")
    val got = CorpusQueries.waterfill(counts, 9, 10).collect()
      .map(r => r.getString(0) ->
        ((r.getBoolean(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("a") == ((true, 10L, 1.0)))
    assert(got("b") == ((true, 20L, 1.0)))
    assert(got("c") == ((true, 100L, 1.0)))
    assert(got("d")._1 == false)
    assert(got("d")._2 == 887L)
    assert(got.values.map(_._2).sum == 1017L, "allocation exhausts the budget")
    // kept_share grid: 887/1000 half-up on the 1e-6 grid
    assert(got("d")._3 == 0.887)
    // degenerate: budget covers everything -> all funded, level arm off
    val all = CorpusQueries.waterfill(counts, 1, 1).collect()
    assert(all.forall(_.getBoolean(2)), all.mkString(","))
    assert(all.map(_.getLong(3)).sum == 1130L)
  }

  test("parquet sink round-trips under every shipped codec") {
    val dir = "/root/testdata/sf0.001"
    val src = Tables(spark, dir, "nation")
    val want = src.collect().map(_.toString).sorted.toSeq
    for (codec <- Seq("snappy", "gzip", "zstd", "lz4", "none")) {
      val out = java.nio.file.Files.createTempDirectory(s"codec-$codec").toString
      src.write.mode("overwrite").option("compression", codec).parquet(out)
      val got = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"codec $codec")
    }
  }
}
