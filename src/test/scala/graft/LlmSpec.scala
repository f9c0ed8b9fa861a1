package graft

import graft.functions.{Fnv64, TextFunctions}
import graft.operators.MultimodalOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operator semantics: dedup recall on planted duplicates,
  * SimHash/RollingHash expression behavior, ANN sanity vs brute force.
  * Runs on the sf0.001 harness tables for speed.
  */
class LlmSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient var spark: SparkSession = _
  val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("llm-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("simhash: identical token sets collide, disjoint sets differ") {
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(Seq("a", "b", "c", "d")), Row(Seq("d", "c", "b", "a")),
        Row(Seq("w", "x", "y", "z"))),
      StructType(Seq(StructField("t", ArrayType(StringType)))))
    val hs = df.select(TextFunctions.simhash64(col("t"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(1)) // order-insensitive (set semantics)
    assert(hs(0) != hs(2))
  }

  test("rolling hash: deterministic polynomial over bytes") {
    val df = spark.createDataFrame(
      java.util.List.of(Row("ab"), Row("ba"), Row("")),
      StructType(Seq(StructField("s", StringType))))
    val hs = df.select(TextFunctions.rollingHash64(col("s"))).collect().map(_.getLong(0))
    assert(hs(0) == 'a'.toLong * 31 + 'b'.toLong)
    assert(hs(0) != hs(1))
    assert(hs(2) == 0L)
  }

  test("fnv64 matches spec vector") {
    // FNV-1a 64 of empty input is the offset basis.
    assert(Fnv64.hash("") == 0xcbf29ce484222325L)
  }

  test("q134 minhash sketch is mergeable: sig(A ∪ B) = elementwise min of half-sigs") {
    // the property that makes the per-source signature a SKETCH: shard the
    // corpus any way, sketch each shard, merge by elementwise min — the
    // result is bit-identical to sketching the whole. This is what lets
    // 1000 executors sketch 100 TB with a sources x 16 exchange.
    import org.apache.spark.sql.DataFrame
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def sigs(df: DataFrame): Map[String, Seq[Long]] = {
      val sh = df.withColumn("tk", expr("split(trim(text), '\\\\s+')"))
        .select(col("source"), explode(expr(
          "CASE WHEN size(tk) >= 3 THEN zip_with(zip_with(" +
          "slice(tk, 1, size(tk) - 2), slice(tk, 2, size(tk) - 2), " +
          "(x, y) -> concat(x, ' ', y)), slice(tk, 3, size(tk) - 2), " +
          "(xy, z) -> concat(xy, ' ', z)) ELSE array() END")).as("sh"))
        .withColumn("h1", expr("CAST(conv(substr(md5(sh), 1, 14), 16, 10) AS BIGINT)"))
        .withColumn("h2", expr("CAST(conv(substr(md5(concat('x', sh)), 1, 14), 16, 10) AS BIGINT)"))
      sh.groupBy(col("source"))
        .agg(min(col("h1")).as("h0"),
          (1 to 15).map(p => min(col("h1") + lit(p.toLong) * col("h2")).as(s"h$p")): _*)
        .collect().map(r => r.getString(0) -> (0 to 15).map(p => r.getLong(p + 1)))
        .toMap
    }
    val whole = sigs(docs)
    val a = sigs(docs.filter(col("doc_id") % 2 === 0))
    val b = sigs(docs.filter(col("doc_id") % 2 === 1))
    assert(whole.nonEmpty)
    whole.foreach { case (src, sig) =>
      val merged = (a.get(src), b.get(src)) match {
        case (Some(x), Some(y)) => x.zip(y).map { case (u, v) => math.min(u, v) }
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case (None, None) => fail(s"source $src in neither half")
      }
      assert(merged == sig, s"merge mismatch for $src")
    }
  }

  test("q132 PQ encode: engine code per (vector, subspace) = driver argmin over the codebook") {
    // The sf0.001 embeddings are unit-norm with labels that are NOT
    // geometric clusters, so no geometry-based recall property can hold
    // for ANY quantizer on this data. The property that CAN be pinned is
    // mechanism parity: for every (vector, subspace m) the engine's
    // chosen code must equal an independent in-driver argmin of
    // ||sv - c8||² over the fixed-point codebook, computed with the same
    // index-order fold (d = nv + nc - 2·dot), ties broken by smallest
    // code — exactly min(struct(d, code)). Also pins that the codebook
    // quantizes (more than one code used) so the parity isn't vacuous.
    val (codebookDf, encDf) = graft.operators.LlmQueries.pqEncode(spark, dir)
    val codebook = codebookDf.collect()
      .map(r => ((r.getInt(1), r.getInt(0)), r.getSeq[Double](2).toArray))
      .toMap // (m, code) -> c8
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val enc = encDf.collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    assert(enc.size == vecs.size * 8, "one code per (vector, subspace)")
    val codes = codebook.keys.map(_._2).toSeq.distinct.sorted
    enc.foreach { case ((vid, m), got) =>
      val sv = vecs(vid).slice(m * 8, m * 8 + 8)
      val nv = dot(sv, sv)
      val want = codes.minBy { code =>
        val c8 = codebook((m, code))
        (nv + dot(c8, c8) - 2 * dot(sv, c8), code)
      }
      assert(got == want, s"vec $vid subspace $m: engine chose $got, argmin is $want")
    }
    assert(enc.values.toSet.size > 1, "codebook actually quantizes (>1 code in use)")
  }

  test("exact dedup finds every planted copy") {
    val rows = q("q33_dedup_exact").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getLong(2) == 2L)) // each fingerprint has 2 copies
  }

  test("minhash LSH recall on planted near-duplicates") {
    val pairs = graft.operators.LlmQueries.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = pairs.count { case (a, b) => b == a + 10000 }
    // Docs whose true Jaccard >= 0.5 (the verification threshold): recall
    // over those is what LSH banding controls; expect near-total.
    assert(planted > 400, s"planted recall $planted/500 too low")
    // precision: non-planted pairs must still be true near-dups (jaccard
    // verified in-query), so every output row passed the exact check.
    assert(pairs.nonEmpty)
  }

  test("q35 contract row certifies subset + recall against the in-engine exact truth") {
    val r = q("q35_minhash_lsh").collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) > 500, s"n_exact ${r.head.getLong(0)}")  // planted + organic
    assert(r.head.getLong(1) >= 400, s"n_planted_exact ${r.head.getLong(1)}")
    assert(r.head.getBoolean(2), "lsh_subset_ok")
    assert(r.head.getBoolean(3), "recall_ok")
    assert(r.head.getBoolean(4), "planted_recall_ok")
  }

  test("simhash banding finds planted near-duplicates with low hamming") {
    val pairs = graft.operators.LlmQueries
      .simhashPairs(graft.operators.LlmQueries.simhashDocs(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = pairs.count { case (a, b) => b == a + 10000 }
    assert(planted > 250, s"planted simhash recall $planted/500 too low")
  }

  test("q36 contract row certifies the pigeonhole guarantee and planted recall") {
    val r = q("q36_simhash").collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 1000L, s"n_docs ${r.head.getLong(0)}")
    assert(r.head.getBoolean(1), "guaranteed_le3_ok (pigeonhole: <= 3 bits MUST collide in a band)")
    assert(r.head.getBoolean(2), "planted_recall_ok")
  }

  test("ngram jaccard pairs are symmetric-free and thresholded") {
    val rows = q("q34_ngram_jaccard").collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.5))
    val planted = rows.count(r => r.getLong(1) == r.getLong(0) + 10000)
    assert(planted > 400)
  }

  test("embedding near-dup: every planted scaled copy found at cosine 1.0") {
    val rows = q("q38_dedup_embedding").collect()
    val planted = rows.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(planted.length == 500)
    assert(planted.forall(_.getDouble(2) == 1.0))
  }

  // ---- ANN local oracles: the expected output of q39/q46 recomputed in
  // plain Scala (same index-order folds, same round(,4)), so the specs
  // assert SET EQUALITY — an ANN query that emits a non-candidate pair, a
  // wrong score, a wrong rank, or drops a candidate FAILS. This replaces
  // the old "subset of brute-force" check, which was vacuous (bucket-local
  // top-k is not a subset of global top-k).

  private def loadVecs(): Array[(Long, Array[Double], Int)] =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
        col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))

  private def dotd(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }
  private def cos4(a: Array[Double], b: Array[Double]): Double =
    new java.math.BigDecimal(dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b))))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** top-3 (score desc, nbr asc) per query<10 over candidate sets. */
  private def expectedTopK(vecs: Array[(Long, Array[Double], Int)],
      candidates: (Long, Long) => Boolean): Set[(Long, Long, Double, Int)] = {
    val byId = vecs.map(v => v._1 -> v._2).toMap
    vecs.filter(_._1 < 10).flatMap { case (qid, qv, _) =>
      vecs.filter(v => v._1 != qid && candidates(qid, v._1))
        .map(v => (v._1, cos4(qv, v._2)))
        .sortBy { case (nbr, s) => (-s, nbr) }
        .take(3).zipWithIndex
        .map { case ((nbr, s), i) => (qid, nbr, s, i + 1) }
    }.toSet
  }

  test("ANN-LSH equals the local multi-table LSH oracle exactly") {
    val vecs = loadVecs()
    val L = 8; val B = 4
    val planes = Array.tabulate(L * B) { j =>
      Array.tabulate(64) { i =>
        val x = (j * 64 + i + 1) * 6364136223846793005L + 1442695040888963407L
        if (((x >>> 33) & 1L) == 1L) 1.0 else -1.0
      }
    }
    def buckets(v: Array[Double]): Array[Int] = Array.tabulate(L) { t =>
      (0 until B).map(b => if (dotd(v, planes(t * B + b)) > 0) 1 << b else 0).sum
    }
    val bkts = vecs.map(v => v._1 -> buckets(v._2)).toMap
    val expected = expectedTopK(vecs, (q, n) =>
      (0 until L).exists(t => bkts(q)(t) == bkts(n)(t)))
    val got = q("q39_ann_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got.nonEmpty)
    assert(got == expected)
    // and the banding actually finds most true top-3 neighbors on this
    // corpus (random vectors — the hard case for LSH)
    val bruteTop3 = q("q37_knn_cosine").collect().filter(_.getInt(3) <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = bruteTop3.count(k => got.exists(g => (g._1, g._2) == k))
    assert(found * 2 >= bruteTop3.size, s"LSH recall $found/${bruteTop3.size} < 50%")
  }

  test("IVF ANN equals the local centroid-cell oracle exactly") {
    val vecs = loadVecs()
    // centroids: FIXED-POINT element-wise mean per label, replicating
    // VectorAggregators.CentroidFixed op-for-op (exact integer sums of
    // floor(x * 2^32), then the same double division sequence)
    val cents = vecs.groupBy(_._3).map { case (lab, vs) =>
      val sum = new Array[Long](64)
      vs.foreach(v => { var i = 0
        while (i < 64) { sum(i) += math.floor(v._2(i) * 4294967296.0).toLong; i += 1 } })
      lab -> sum.map(_.toDouble / 4294967296.0 / vs.length)
    }
    // nearest cell by raw cosine, ties to smallest label (the query's
    // row_number over (cell_score desc, label asc))
    def cell(v: Array[Double]): Int =
      cents.toSeq.map { case (lab, cv) =>
        (lab, dotd(v, cv) / (math.sqrt(dotd(v, v)) * math.sqrt(dotd(cv, cv))))
      }.minBy { case (lab, s) => (-s, lab) }._1
    val cells = vecs.map(v => v._1 -> cell(v._2)).toMap
    val expected = expectedTopK(vecs, (q, n) => cells(q) == cells(n))
    val got = q("q46_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("media probe: real PNG/JPEG/WAV header parsing over binary columns") {
    import graft.operators.MultimodalOps
    def png(w: Int, h: Int, colorType: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w).putInt(h)
      bb.put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      bb.putInt(0) // CRC not validated by the header probe
      bb.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16) ++
        "JFIF".getBytes("US-ASCII") ++ new Array[Byte](10)
      val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte, 0, 17, 8,
        (h >> 8).toByte, h.toByte, (w >> 8).toByte, w.toByte, 3) ++ new Array[Byte](9)
      Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0
    }
    def wav(sampleRate: Int, nch: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
        .putInt(16).putShort(1.toShort).putShort(nch.toShort).putInt(sampleRate)
      bb.array()
    }
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, png(640, 480, 6)),       // RGBA -> 4 channels
        Row(2L, jpeg(1920, 1080)),
        Row(3L, wav(44100, 2)),
        Row(4L, "not media".getBytes("UTF-8"))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType))))
    val got = MultimodalOps.probeMedia(df).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSet
    assert(got == Set(
      (1L, "png", 640, 480, 4),
      (2L, "jpeg", 1920, 1080, 3),
      (3L, "wav", 44100, 0, 2),
      (4L, "unknown", 0, 0, 0)))
  }

  test("real pixel decode: PNG exact channel means, JPEG near, via JDK ImageIO") {
    import java.awt.image.BufferedImage
    def imageBytes(fmt: String, rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color(rgb)); g2.fillRect(0, 0, w, h); g2.dispose()
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, imageBytes("png", 0x0a141e, 17, 9)), // solid (10, 20, 30)
        Row(2L, imageBytes("jpg", 0x808080, 16, 16)), // solid gray
        Row(3L, "not an image".getBytes("UTF-8"))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType))))
    val got = MultimodalOps.decodeImages(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val pngRow = got(1L)
    assert((pngRow.getString(1), pngRow.getInt(2), pngRow.getInt(3)) == (("png", 17, 9)))
    assert((pngRow.getDouble(5), pngRow.getDouble(6), pngRow.getDouble(7)) == ((10.0, 20.0, 30.0)))
    val jpgRow = got(2L)
    assert((jpgRow.getString(1), jpgRow.getInt(2), jpgRow.getInt(3)) == (("jpeg", 16, 16)))
    // JPEG is lossy; a solid mid-gray survives within a couple of levels
    for (c <- 5 to 7) assert(math.abs(jpgRow.getDouble(c) - 128.0) < 3.0, jpgRow)
    assert(got(3L).getString(1) == "undecodable")
  }

  test("resizeBox: box average matches the pixel formula; bad inputs resize to empty") {
    // independent replication of the q148 arithmetic: pixel (x, y) of
    // seed s is (s*31 + x*7 + y*13) % 256, a 4x4 output pixel the
    // integer-division mean of its 4x4 block
    val seed = 7L
    val got = MultimodalOps.resizeBox(MultimodalOps.mkGrayPng(seed), 4)
    val want = (for (by <- 0 until 4; bx <- 0 until 4) yield {
      val s = (for (dy <- 0 until 4; dx <- 0 until 4)
        yield ((seed * 31 + (bx * 4 + dx) * 7 + (by * 4 + dy) * 13) % 256).toInt).sum
      s / 16
    }).toArray
    assert(got.toSeq == want.toSeq)
    // n=16 is the identity resize; n=2 pools 8x8 blocks
    assert(MultimodalOps.resizeBox(MultimodalOps.mkGrayPng(seed), 16).length == 256)
    assert(MultimodalOps.resizeBox(MultimodalOps.mkGrayPng(seed), 2).length == 4)
    assert(MultimodalOps.resizeBox("junk".getBytes("UTF-8"), 4).isEmpty)
    assert(MultimodalOps.resizeBox(Array.emptyByteArray, 4).isEmpty)
  }

  test("real audio decode: PCM-16 WAV sample count and RMS") {
    val rate = 8000; val n = 1000; val amp = 1000.0
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16).put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i =>
      bb.putShort(math.round(amp * math.sin(2 * math.Pi * i / 50)).toShort))
    val df = spark.createDataFrame(
      java.util.List.of(Row(7L, bb.array())),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType))))
    val r = MultimodalOps.decodeAudioBatch(df).collect().head
    assert(r.getInt(1) == rate)
    assert(r.getInt(2) == 1)
    assert(r.getLong(3) == n.toLong)
    // RMS of a full-cycle sine is amp/sqrt(2); integer rounding shifts it slightly
    assert(math.abs(r.getDouble(4) - amp / math.sqrt(2.0)) < amp * 0.01, r)
  }

  test("hostile WAV chunk sizes terminate instead of looping or throwing") {
    // chunk size 0xFFFFFFF8 read as signed Int is -8: the old cursor
    // advance 8 + len + (len & 1) was ZERO — an infinite loop in a task
    val evil = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(16)
      .put("WAVE".getBytes("US-ASCII")).put("junk".getBytes("US-ASCII"))
      .putInt(0xFFFFFFF8)
    val r = MultimodalOps.decodeAudio(7L, evil.array())
    assert(r.n_samples == 0L && r.rms == 0.0)
    // truncated fmt chunk: header promises 16 payload bytes, file ends
    // after 6 — must degrade to zeroed fields, not throw out of the task
    val short = java.nio.ByteBuffer.allocate(26)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    short.put("RIFF".getBytes("US-ASCII")).putInt(18)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putInt(44100)
    val t = MultimodalOps.decodeAudio(8L, short.array())
    assert(t.sample_rate == 0 && t.channels == 0 && t.n_samples == 0L)
  }

  test("real video frame sampling: MJPEG-in-AVI RIFF walk, every k-th frame decoded") {
    import java.awt.image.BufferedImage
    def jpegFrame(gray: Int): Array[Byte] = {
      val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color(gray, gray, gray))
      g2.fillRect(0, 0, 8, 6); g2.dispose()
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out))
      out.toByteArray
    }
    // 10 frames, luma ramp 0,25,...,225 (solid gray => luma == gray level)
    val frames = (0 until 10).map(i => jpegFrame(i * 25))
    def chunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(8 + payload.length + (payload.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      bb.array()
    }
    def list(subtype: String, children: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + children.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("LIST".getBytes("US-ASCII")).putInt(4 + children.length)
        .put(subtype.getBytes("US-ASCII")).put(children)
      bb.array()
    }
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val body = hdrl ++ movi
    val avi = java.nio.ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
      .put("AVI ".getBytes("US-ASCII")).put(body).array()

    val got = MultimodalOps.sampleFrames(5L, avi, everyK = 3)
    assert(got.map(_.frame_idx) == Seq(0L, 3L, 6L, 9L), got)
    assert(got.forall(f => f.n_frames == 10L && f.width == 8 && f.height == 6), got)
    // JPEG is lossy; solid grays survive within a few levels
    got.foreach(f =>
      assert(math.abs(f.mean_luma - f.frame_idx * 25.0) < 4.0, f))
    // non-AVI bytes produce zero rows, not an error
    assert(MultimodalOps.sampleFrames(6L, "not a video".getBytes, 2).isEmpty)
    // hostile chunk size: 0xFFFFFFF8 must terminate the RIFF walk
    val evil = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(16)
      .put("AVI ".getBytes("US-ASCII")).put("00dc".getBytes("US-ASCII"))
      .putInt(0xFFFFFFF8).array()
    assert(MultimodalOps.sampleFrames(7L, evil, 1).isEmpty)

    // deep LIST nesting must cost heap, not JVM stack (StackOverflowError
    // would be fatal to a task): 100k nested LIST headers, zero frames
    val depth = 100000
    val deep = java.nio.ByteBuffer.allocate(12 + depth * 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    deep.put("RIFF".getBytes("US-ASCII")).putInt(4 + depth * 12)
      .put("AVI ".getBytes("US-ASCII"))
    for (d <- 0 until depth) {
      deep.put("LIST".getBytes("US-ASCII"))
        .putInt(4 + (depth - 1 - d) * 12).put("rec ".getBytes("US-ASCII"))
    }
    assert(MultimodalOps.sampleFrames(8L, deep.array(), 1).isEmpty)

    // a recognized-but-truncated JPEG frame (ImageIO THROWS, not null)
    // must yield zero rows, same as any other undecodable frame
    val torn = chunk("00dc", jpegFrame(128).take(60))
    val tornAvi = java.nio.ByteBuffer.allocate(12 + 12 + torn.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(16 + torn.length)
      .put("AVI ".getBytes("US-ASCII"))
      .put("LIST".getBytes("US-ASCII")).putInt(4 + torn.length)
      .put("movi".getBytes("US-ASCII")).put(torn).array()
    assert(MultimodalOps.sampleFrames(9L, tornAvi, 1).isEmpty)

    // and the Spark batch path: one row per sampled frame
    val df = spark.createDataFrame(
      java.util.List.of(Row(5L, avi), Row(6L, "nope".getBytes("UTF-8"))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType))))
    val rows = MultimodalOps.sampleFrameBatch(df, 5).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(0) == 5L), rows.toSeq)
  }

  test("mp4 atom walk: mkMp4 round-trips through probeMp4, hostile boxes terminate") {
    // round trip: the walk recovers exactly what the builder wrote
    val b = MultimodalOps.mkMp4(timescale = 1200L, durationTicks = 6000L,
      width = 640, height = 360)
    val m = MultimodalOps.probeMp4(3L, b)
    assert(m == MultimodalOps.VideoMeta(3L, "mp4", 640, 360, 5000L, 1, b.length.toLong), m)
    // the generic probe sniffs mp4 by ftyp brand and carries the dims
    val p = MultimodalOps.probe(3L, b)
    assert(p.format == "mp4" && p.width == 640 && p.height == 360, p)

    // v0 fields are u32: builder refuses values that would wrap in
    // `.toInt` and silently diverge from the 64-bit oracle arithmetic
    intercept[IllegalArgumentException](
      MultimodalOps.mkMp4(1000L, 0x100000000L, 64, 64))
    intercept[IllegalArgumentException](
      MultimodalOps.mkMp4(0x100000000L, 1000L, 64, 64))
    // ...but the full u32 range round-trips (duration is read unsigned)
    val big = MultimodalOps.probeMp4(11L,
      MultimodalOps.mkMp4(1000L, 0xFFFFFFFFL, 64, 64))
    assert(big.duration_ms == 0xFFFFFFFFL * 1000L / 1000L, big)

    // non-BMFF bytes and ftyp-less prefixes are undecodable, not errors
    assert(MultimodalOps.probeMp4(1L, "not a video at all".getBytes).format == "undecodable")
    assert(MultimodalOps.probeMp4(2L, Array[Byte](0, 0, 0, 8)).format == "undecodable")
    // ftyp with no moov: sniffs as container but carries no metadata
    assert(MultimodalOps.probeMp4(4L, b.take(16)).format == "undecodable")

    def be(xs: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(xs.length * 4)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      xs.foreach(bb.putInt); bb.array()
    }
    val ftyp = be(16) ++ "ftypisom".getBytes("US-ASCII") ++ be(0)
    // hostile size fields must terminate, not loop or throw:
    //   size == 0 (box runs to end of range) as the LAST box
    val zeroSize = ftyp ++ be(0) ++ "free".getBytes("US-ASCII") ++ be(0, 0)
    assert(MultimodalOps.probeMp4(5L, zeroSize).format == "undecodable")
    //   size < 8 (corrupt) must end the enclosing range
    val tinySize = ftyp ++ be(3) ++ "moov".getBytes("US-ASCII")
    assert(MultimodalOps.probeMp4(6L, tinySize).format == "undecodable")
    //   size == 1 + truncated largesize (no 16 header bytes available)
    val tornLarge = ftyp ++ be(1) ++ "mdat".getBytes("US-ASCII") ++ be(0)
    assert(MultimodalOps.probeMp4(7L, tornLarge).format == "undecodable")
    //   64-bit largesize wrapping past Int.MaxValue must not wrap the cursor
    val hugeLarge = ftyp ++ be(1) ++ "mdat".getBytes("US-ASCII") ++
      be(0x7fffffff, -8)
    assert(MultimodalOps.probeMp4(8L, hugeLarge).format == "undecodable")

    //   v1 mvhd truncated between hdr+28 and hdr+31: the u64 duration
    //   read spans body bytes 24..31, so a 28-byte body that satisfies
    //   a `+28` guard still walks 4 bytes off the buffer — the exact
    //   off-by-four the `+32` guard exists for
    val tornV1 = ftyp ++
      be(8 + 36) ++ "moov".getBytes("US-ASCII") ++
      be(36) ++ "mvhd".getBytes("US-ASCII") ++
      Array[Byte](1, 0, 0, 0) ++ new Array[Byte](24) // v1 + 24 = 28-byte body
    assert(MultimodalOps.probeMp4(10L, tornV1).format == "undecodable")

    // deep container nesting costs heap, not JVM stack: 100k nested traks
    val depth = 100000
    val deep = java.nio.ByteBuffer.allocate(16 + depth * 8)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    deep.put(ftyp)
    for (d <- 0 until depth)
      deep.putInt(8 + (depth - 1 - d) * 8).put("trak".getBytes("US-ASCII"))
    assert(MultimodalOps.probeMp4(9L, deep.array()).format == "undecodable")

    // the Spark batch path: schema + one row per blob
    val df = spark.createDataFrame(
      java.util.List.of(Row(3L, b), Row(6L, "nope".getBytes("UTF-8"))),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType))))
    val rows = MultimodalOps.probeVideoBatch(df).orderBy("doc_id").collect()
    assert(rows.length == 2, rows.toSeq)
    assert(rows(0).getString(1) == "mp4" && rows(1).getString(1) == "undecodable")
  }

  test("media byte walks never throw on untrusted bytes (seeded fuzz)") {
    // Every media parser takes bytes straight from a corpus column — a
    // crafted blob that throws (or loops) kills a Spark task. Seeded
    // deterministic fuzz: pure garbage, garbage behind each format's
    // valid magic (so the walks run, not just the sniff), and
    // random-box-structured input. Termination is asserted by
    // completion; absence of throw by the calls themselves.
    val rnd = new java.util.Random(0x5eed)
    def garbage(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); rnd.nextBytes(b); b
    }
    val magics = Seq[Array[Byte] => Array[Byte]](
      identity,
      b => { // RIFF/WAVE
        val m = "RIFF????WAVE".getBytes("US-ASCII"); m.copyToArray(b); b },
      b => { // RIFF/AVI
        val m = "RIFF????AVI ".getBytes("US-ASCII"); m.copyToArray(b); b },
      b => { // ISO-BMFF
        val m = Array[Byte](0, 0, 0, 16) ++ "ftypisom".getBytes("US-ASCII")
        m.copyToArray(b); b },
      b => { // JPEG SOI, PNG signature
        b(0) = 0xff.toByte; b(1) = 0xd8.toByte; b },
      b => {
        val m = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        m.copyToArray(b); b })
    for (i <- 0 until 3000) {
      val n = 12 + rnd.nextInt(600)
      val bytes = magics(i % magics.size)(garbage(n))
      MultimodalOps.probe(i.toLong, bytes)
      MultimodalOps.probeMp4(i.toLong, bytes)
      MultimodalOps.decodeAudio(i.toLong, bytes)
      MultimodalOps.sampleFrames(i.toLong, bytes, 2)
      MultimodalOps.aHash(bytes)          // caught a real task-killer:
      MultimodalOps.resizeBox(bytes, 4)   // ImageIO THROWS on SOI+garbage
      MultimodalOps.decodePixels(i.toLong, bytes)
      MultimodalOps.audioFingerprint(bytes)
    }
  }

  /** A seeded corpus for the prefix-filter join: random draws from a
    * small vocabulary (dense natural similarity) PLUS one boilerplate
    * token appended to every doc — the adversarial hot key a naive
    * token self-join would explode on. */
  private def prefixCorpus(): Seq[(Long, Seq[String])] = {
    val r = new scala.util.Random(7)
    val base = (1 to 60).map { i =>
      val n = 8 + r.nextInt(13)
      (i.toLong, Seq.fill(n)("t" + r.nextInt(40)) :+ "BOILER")
    }
    // planted near-dups: doc i copied at id i+100 with one token swapped
    val planted = base.take(8).map { case (id, tk) =>
      (id + 100, tk.updated(0, "t" + r.nextInt(40)))
    }
    base ++ planted
  }

  private def prefixSets(docs: Seq[(Long, Seq[String])]) = {
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    docs.toDF("doc_id", "tk")
      .select(col("doc_id"),
        expr("array_sort(array_distinct(transform(tk, x -> fnv64(x))))").as("hk"))
      .withColumn("sz", size(col("hk")))
  }

  test("sorted_intersect_count == size(array_intersect) on random sorted sets") {
    graft.functions.GraftFunctions.register(spark)
    val r = new scala.util.Random(11)
    val rows = (1 to 200).map { _ =>
      val a = Seq.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      Row(a, b)
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("a", ArrayType(LongType, containsNull = false)),
        StructField("b", ArrayType(LongType, containsNull = false)))))
    val bad = df.selectExpr("sorted_intersect_count(a, b) AS got",
        "CAST(size(array_intersect(a, b)) AS BIGINT) AS want")
      .filter(col("got") =!= col("want")).count()
    assert(bad == 0)
  }

  test("sorted_intersect_count: null element -> null even when the merge scan exits early") {
    // ADVICE r10: the scan used to exit once one side was exhausted, so a
    // TRAILING null (exactly where array_sort puts nulls) could be
    // skipped and a non-null count returned. The O(1) last-element check
    // makes null-element -> null a full contract under the sort
    // precondition.
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq(
      Row(Seq[java.lang.Long](1L, 2L, null), Seq[java.lang.Long](1L)),   // trailing null, left longer
      Row(Seq[java.lang.Long](1L), Seq[java.lang.Long](1L, 9L, null)),   // trailing null, right longer
      Row(Seq[java.lang.Long](null), Seq[java.lang.Long]()),             // all-null vs empty
      Row(Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L)))     // control: null-free
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("a", ArrayType(LongType, containsNull = true)),
        StructField("b", ArrayType(LongType, containsNull = true)))))
    val got = df.selectExpr("sorted_intersect_count(a, b) AS c").collect().map(r =>
      if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    assert(got.toSeq == Seq(null, null, null, java.lang.Long.valueOf(2L)))
  }

  test("sorted_intersect_atleast: exact at/above m, below-m rows filter identically") {
    // r16 early-exit verify: the 3-arg form must (a) equal the exact
    // count whenever that count reaches m — those are the rows a
    // threshold filter KEEPS, so their emitted value may never change —
    // and (b) return something strictly below m otherwise (the exact
    // sub-m count or the -1 early-exit sentinel), so (got >= m) is
    // bit-identical to (exact >= m) for every m.
    graft.functions.GraftFunctions.register(spark)
    val r = new scala.util.Random(23)
    val rows = (1 to 200).flatMap { _ =>
      val a = Seq.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(r.nextInt(30))(r.nextInt(40).toLong).distinct.sorted
      (0L to math.min(a.size, b.size).toLong + 1L).map(m => Row(a, b, m))
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("a", ArrayType(LongType, containsNull = false)),
        StructField("b", ArrayType(LongType, containsNull = false)),
        StructField("m", LongType))))
      .selectExpr("m", "sorted_intersect_atleast(a, b, m) AS got",
        "sorted_intersect_count(a, b) AS exact")
    assert(df.filter(col("exact") >= col("m") &&
      col("got") =!= col("exact")).count() == 0)
    assert(df.filter(col("exact") < col("m") &&
      col("got") >= col("m")).count() == 0)
    // null contract matches the 2-arg form (entry check on sorted input)
    val nulls = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(Seq(
        Row(Seq[java.lang.Long](1L, 2L, null), Seq[java.lang.Long](1L), 0L),
        Row(null, Seq[java.lang.Long](1L), 0L),
        Row(Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L), 2L))).asJava),
      StructType(Seq(StructField("a", ArrayType(LongType, containsNull = true)),
        StructField("b", ArrayType(LongType, containsNull = true)),
        StructField("m", LongType))))
    val got = nulls.selectExpr("sorted_intersect_atleast(a, b, m) AS c")
      .collect().map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    assert(got.toSeq == Seq(null, null, java.lang.Long.valueOf(2L)))
  }

  test("bigram_keys == the unfused array_sort(array_distinct(transform(fnv64))) chain") {
    // r17 fusion: tokenSetsOf's key projection must stay bit-identical
    // to the SQL chain it replaced — same keys, same order, same null
    // placement — on random token arrays including empties, repeats
    // (hash-dedup), multi-byte UTF-8, and null elements.
    graft.functions.GraftFunctions.register(spark)
    val r = new scala.util.Random(31)
    val vocab = Seq("a", "bb", "ccc", "déjà", "零", "t1", "t2", "x y")
    val rows = (1 to 300).map { _ =>
      val n = r.nextInt(8)
      Row(Seq.fill(n)(if (r.nextInt(20) == 0) null
        else vocab(r.nextInt(vocab.length))))
    } :+ Row(null) :+ Row(Seq[String]()) :+ Row(Seq("solo"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField("tk", ArrayType(StringType, containsNull = true)))))
    val chain = "CASE WHEN size(tk) >= 2 THEN " +
      "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
      "(x, y) -> concat(x, ' ', y)) ELSE array() END"
    val bad = df.selectExpr("bigram_keys(tk) AS got",
        s"array_sort(array_distinct(transform($chain, x -> fnv64(x)))) AS want",
        "tk")
      // both are null/empty exactly together for null/sub-2 inputs
      // (null input: fused -> null, chain -> array(); callers filter
      // size > 0, under which the two are indistinguishable)
      .filter("size(tk) >= 2")
      .filter("NOT (got <=> want)").count()
    assert(bad == 0)
  }

  test("prefix-filter join: exactly the brute-force pair set (completeness)") {
    val docs = prefixCorpus()
    val got = graft.operators.LlmQueries.prefixFilterPairs(prefixSets(docs), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hsets = docs.map { case (id, tk) => (id, tk.map(Fnv64.hash(_)).toSet) }
    val want = (for {
      (a, sa) <- hsets; (b, sb) <- hsets if a < b
      inter = (sa & sb).size
      if inter * 10 >= (sa.size + sb.size - inter) * 6
    } yield (a, b, inter.toLong)).toSet
    assert(want.nonEmpty)      // the corpus genuinely has qualifying pairs
    assert(got == want)        // prefix filter missed none, invented none
  }

  test("prefix-filter join: brute-force equality at the gate threshold t=0.8 (group bound drops no survivor)") {
    // Pins that at the gate's own threshold the per-row positional
    // filter in the candidate join still yields exactly the brute-force
    // pair set. A PPJoin+ group-level bound (k + min(sz - rn_k) >= alpha)
    // was tried and reverted: the per-row filter already implies it, so
    // it cut no candidate (see prefixFilterPairs).
    val docs = prefixCorpus()
    val got = graft.operators.LlmQueries.prefixFilterPairs(prefixSets(docs), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hsets = docs.map { case (id, tk) => (id, tk.map(Fnv64.hash(_)).toSet) }
    val want = (for {
      (a, sa) <- hsets; (b, sb) <- hsets if a < b
      inter = (sa & sb).size
      if inter * 10 >= (sa.size + sb.size - inter) * 8
    } yield (a, b, inter.toLong)).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("prefix-filter join: an identical-doc clique emits exactly its C(n,2) pairs") {
    // the adversarial dupe-group shape: every pair of the 20 identical
    // docs is a TRUE duplicate, so candidates == output == C(20,2) is
    // intrinsic output size, not candidate blow-up; the unique docs
    // around the clique must contribute nothing
    val clique = (1 to 20).map(i => (i.toLong, Seq.tabulate(12)(k => s"c$k")))
    val noise = (21 to 50).map(i =>
      (i.toLong, Seq.tabulate(12)(k => s"u${i}_$k")))
    val got = graft.operators.LlmQueries
      .prefixFilterPairs(prefixSets(clique ++ noise), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 190) // C(20,2)
    assert(got.forall { case (a, b, n) => a <= 20 && b <= 20 && n == 12 })
  }

  test("prefix-filter index: the universal boilerplate key is never indexed") {
    // BOILER has maximal df, so the global rarity order sorts it LAST in
    // every doc; with every doc's sz >= 2 at t=0.6 the prefix stops
    // before it — the candidate join never sees the corpus-wide hot key.
    val pref = graft.operators.LlmQueries.prefixIndex(prefixSets(prefixCorpus()), 6)
    val boiler = Fnv64.hash("BOILER")
    assert(pref.filter(col("h") === boiler).count() == 0)
    assert(pref.count() > 0)
  }

  test("NN-descent adjacency: a 100-leaf star is hub-capped, 2-hop volume stays linear") {
    // Every leaf points at node 0 — the cosine-hubness bomb. The
    // reverse direction must be SAMPLED (<= 5 reverse edges per node),
    // or the 2-hop expand is indeg(hub) x indeg(hub) = 10,000 rows
    // here and n^2 in general.
    val s = spark
    import s.implicits._
    val edges = (1 to 100).map(i => (i.toLong, 0L)).toDF("src_id", "nbr_id")
    val und = graft.operators.LlmQueries.descentAdjacency(edges)
      .localCheckpoint()
    assert(und.count() == 105) // 100 forward + 5 sampled reverse
    val maxDeg = und.groupBy(col("src_id")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxDeg <= 10, s"adjacency degree must stay <= k+5, got $maxDeg")
    val twoHop = und.as("x").join(und.as("y"),
      col("x.nbr_id") === col("y.src_id")).count()
    assert(twoHop <= 700, // 100x5 through the hub + 5 back + slack
      s"hub 2-hop volume must stay linear, got $twoHop (uncapped: 10000+)")
  }

  test("one-sided probe join: complete vs brute force, boilerplate probe generates nothing") {
    // Completeness of the ONE-SIDED filter (q168's shape): probing the
    // corpus against itself must reproduce the brute-force pair set —
    // for a valid pair the overlap exceeds ceil(t*szd), so at least one
    // shared key sits in the corpus doc's index prefix (the scaladoc's
    // argument, exercised here on a corpus with planted near-dups AND a
    // universal hot key).
    val docs = prefixCorpus()
    val sets = prefixSets(docs)
    val got = graft.operators.LlmQueries.prefixProbePairs(sets, sets, 6)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "n_shared")
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hsets = docs.map { case (id, tk) => (id, tk.map(Fnv64.hash(_)).toSet) }
    val want = (for {
      (a, sa) <- hsets; (b, sb) <- hsets if a < b
      inter = (sa & sb).size
      if inter * 10 >= (sa.size + sb.size - inter) * 6
    } yield (a, b, inter.toLong)).toSet
    assert(want.nonEmpty && got == want)
    // The hot-key bomb, probe-side: a delta doc of ONLY boilerplate
    // shares a key with every corpus doc, but the corpus index excluded
    // the hot key from every prefix — zero candidates ever reach the
    // verify join (the property that makes the ingestion path safe
    // against boilerplate floods).
    val s = spark
    import s.implicits._
    val boilerProbe = prefixSets(Seq((999L, Seq("BOILER"))))
    val hits = graft.operators.LlmQueries.prefixProbePairs(boilerProbe, sets, 6)
    assert(hits.count() == 0)
  }

  test("multimodal stub: per-partition decode preserves ids and byte counts") {
    val out = q("q40_multimodal").collect()
    assert(out.length == 500)
    val byId = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = Tables(spark, dir, "documents")
      .select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(byId == lens) // ASCII text: chars == bytes
  }

  test("q166 semdedup: every planted 2x copy pruned, every original kept") {
    // L2 normalization makes the 2x copy bit-identical to its original,
    // so co-celling and the >= 0.99 cosine are structural — if EITHER
    // breaks (a scale-sensitive E-step, a float drift in the pair
    // score), a copy survives or an original prunes and this trips.
    val rows = q("q166_semdedup").collect()
    assert(rows.length == 1000)
    val (copies, originals) = rows.partition(_.getLong(0) >= 100000L)
    assert(copies.length == 500 && copies.forall(!_.getBoolean(2)),
      "every planted copy must be pruned")
    assert(originals.forall(_.getBoolean(2)),
      "no original may be pruned on the sf0.001 corpus (no natural near-dups)")
    // copy and original co-cell (the normalization argument, directly)
    val cellOf = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(originals.forall(r => cellOf(r.getLong(0) + 100000L) == r.getInt(1)))
  }

  test("q245 incremental semdedup: copies pruned against the frozen index, novels admitted, second-gen hits both paths") {
    // Admission record schema: (vec_id, cell, ex_hits, new_hits, keep).
    // 500-vector index; batch = 167 2x copies (+200000, src%3==0),
    // 167 reversed novels (+200000, src%3==1), 84 4x second-generation
    // copies (+400000, src%6==0). On this corpus (no natural vector
    // near-dups) the hit counts are EXACT: a first-gen copy matches
    // only its original, a second-gen copy matches its original AND its
    // first-gen sibling, a reversal matches nothing.
    val rows = q("q245_incremental_semdedup").collect()
    assert(rows.length == 418)
    val (secondGen, firstGen) = rows.partition(_.getLong(0) >= 400000L)
    assert(secondGen.length == 84)
    assert(secondGen.forall(r =>
      r.getLong(2) == 1L && r.getLong(3) == 1L && !r.getBoolean(4)),
      "second-gen copies must hit the index once and the batch once")
    val (copies, novels) =
      firstGen.partition(r => (r.getLong(0) - 200000L) % 3 == 0)
    assert(copies.length == 167 && copies.forall(r =>
      r.getLong(2) == 1L && r.getLong(3) == 0L && !r.getBoolean(4)),
      "first-gen copies must hit exactly their indexed original")
    assert(novels.length == 167 && novels.forall(r =>
      r.getLong(2) == 0L && r.getLong(3) == 0L && r.getBoolean(4)),
      "no reversed vector may collide on this corpus")
  }

  test("q246 incremental knn: 5 edges per batch node against the index only; copies recall their original at top-1") {
    val rows = q("q246_incremental_knn").collect()
    assert(rows.length == 1250) // 250 probes x 5
    assert(rows.forall(_.getLong(0) >= 300000L), "edges only for batch nodes")
    assert(rows.forall(_.getLong(1) < 300000L),
      "neighbors only from the indexed corpus — existing edges untouched")
    // the 2x copy normalizes bit-identically, so its argmax cell houses
    // the original and the exact top-1 is (original, 1.0) — structural
    val copyTop1 = rows.filter(r =>
      (r.getLong(0) - 300000L) % 4 == 1 && r.getInt(3) == 1)
    assert(copyTop1.length == 125)
    assert(copyTop1.forall(r =>
      r.getLong(1) == r.getLong(0) - 300000L && r.getDouble(2) == 1.0),
      "every planted copy must recall its original at rank 1, score 1.0")
  }

  test("MaxMatch fold: longest piece wins, matched spans are consumed, fallback is single-char") {
    // The exact production expression (CorpusQueries.maxMatchCountSql)
    // over hand-built vocab rows:
    //  abcdef + {abcd}/{ef}  -> [abcd][ef]      = 2 (4-gram beats 2-gram at pos 1)
    //  abcdef + {bcde}/{}    -> [a][bcde][f]    = 3 (greedy does NOT backtrack)
    //  aaaa   + {aa}         -> [aa][aa]        = 2 (span consumed: no overlap at pos 2)
    //  abc    + {}           -> [a][b][c]       = 3 (pure fallback)
    //  abcde  + {abc}+{cde}  -> [abc][d][e]     = 3 (cde at pos 3 is INSIDE abc's span)
    val df = spark.createDataFrame(
      java.util.List.of(
        Row("abcdef", Seq("ef"), Seq[String](), Seq("abcd")),
        Row("abcdef", Seq[String](), Seq[String](), Seq("bcde")),
        Row("aaaa", Seq("aa"), Seq[String](), Seq[String]()),
        Row("abc", Seq[String](), Seq[String](), Seq[String]()),
        Row("abcde", Seq[String](), Seq("abc", "cde"), Seq[String]())),
      StructType(Seq(StructField("w", StringType),
        StructField("v2", ArrayType(StringType)),
        StructField("v3", ArrayType(StringType)),
        StructField("v4", ArrayType(StringType)))))
    val got = df.select(expr(graft.operators.CorpusQueries.maxMatchCountSql)
        .cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L, 2L, 3L, 3L))
  }

  test("k-center traversal: planted line geometry, exact greedy order and tie-break") {
    // Points on a line (1-dim arrays are legal inputs to the factored
    // engine): 0 at 0, 1 at 10, 2 at 1000, 3 at 999, 4 at 10 (exact tie
    // with vec 1 — min vec_id must win nothing here; the tie that
    // matters is a dmin tie between candidates).
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(0L, Seq(0L)), Row(1L, Seq(10L)), Row(2L, Seq(1000L)),
        Row(3L, Seq(999L))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("f", ArrayType(LongType)))))
    val got = graft.operators.LlmQueries.kcenterChosen(df, k = 3)
      .orderBy(col("rnk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // seed = min id 0; round 2: farthest is 2 (d2 = 1000^2); round 3:
    // dmin(1) = 100 (to seed), dmin(3) = 1 (to 2) -> picks 1
    assert(got == Seq((1, 0L, 0L), (2, 2L, 1000000L), (3, 1L, 100L)))
    // dmin tie: two candidates equidistant from the chosen set -> the
    // (dmin, -vec_id) struct argmax must take the SMALLER id
    val tie = spark.createDataFrame(
      java.util.List.of(
        Row(5L, Seq(0L)), Row(6L, Seq(100L)), Row(7L, Seq(-100L))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("f", ArrayType(LongType)))))
    val got2 = graft.operators.LlmQueries.kcenterChosen(tie, k = 2)
      .orderBy(col("rnk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == Seq((1, 5L, 0L), (2, 6L, 10000L)))
  }

  test("PCA power iteration: a planted single-axis spectrum is recovered exactly") {
    // 64-dim rows whose only varying coordinate is dim index 37
    // (0-based): the covariance has exactly one nonzero entry, so the
    // top direction is e_37 with comp +/-1.0 at output dim 38 and 0
    // elsewhere, and C'v = 1e6 v on the grid -> ev_lambda = 1e6 exactly.
    val rows = new java.util.ArrayList[Row]()
    (0 until 10).foreach { i =>
      rows.add(Row(Seq.tabulate(64)(d => if (d == 37) 1000L * i else 7L)))
    }
    val df = spark.createDataFrame(rows,
      StructType(Seq(StructField("f", ArrayType(LongType)))))
    val got = graft.operators.LlmQueries.pcaTopComponent(df)
      .orderBy(col("dim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 64)
    assert(got.forall(_._3 == 1000000.0)) // ev_lambda of the 1e6-grid C'
    got.foreach { case (dim, comp, _) =>
      if (dim == 38) assert(math.abs(comp) == 1.0, s"dim 38 comp $comp")
      else assert(comp == 0.0, s"dim $dim comp $comp")
    }
  }

  test("q173 fertility invariants: every word costs >= 1 subword of <= 4 chars") {
    val rows = q("q173_tokenizer_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, nst, nwc) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (fert, cpt) = (r.getDouble(5), r.getDouble(6))
      assert(nst >= nw, s"subtokens $nst < words $nw") // MaxMatch emits >= 1 piece/word
      assert(nwc >= nst, s"chars $nwc < subtokens $nst") // every piece covers >= 1 char
      assert(fert >= 1.0 && cpt >= 1.0 && cpt <= 4.0, s"fert $fert cpt $cpt")
    }
  }

  test("PcaMoments: one planted row reproduces exact moments; overflow RAISES, never corrupts") {
    import graft.functions.VectorAggregators.PcaMoments
    val agg = new PcaMoments(2)
    val buf = agg.reduce(agg.reduce(agg.zero, Seq(2L, 3L)), Seq(5L, 7L))
    assert(buf.n == 2)
    assert(buf.m.toSeq == Seq(7L, 10L)) // 2+5, 3+7
    // outer products: [4+25, 6+35, 6+35, 9+49]
    assert(buf.sp.toSeq == Seq(29L, 41L, 41L, 58L))
    val merged = agg.merge(agg.reduce(agg.zero, Seq(1L, 0L)), buf)
    assert(merged.n == 3 && merged.sp(0) == 30L && merged.m(0) == 8L)
    // the documented contract: past the long range the fold THROWS
    // (addExact/multiplyExact) instead of silently wrapping — a
    // corrupted covariance would pass downstream undetected
    intercept[ArithmeticException] {
      agg.reduce(agg.zero, Seq(Long.MaxValue / 2, Long.MaxValue / 2))
    }
  }

  test("q240 relations: planted sets — containment beats near_copy, overlap exact") {
    val ss = spark; import ss.implicits._
    import graft.operators.LlmQueries.dupRelations
    val ds = Seq(
        (1L, 4, Seq(1L, 2L, 3L, 4L)), (2L, 2, Seq(1L, 2L)),
        (3L, 4, Seq(1L, 2L, 3L, 5L)), (4L, 4, Seq(1L, 2L, 3L, 4L)))
      .toDF("doc_id", "sz", "hs")
    val got = dupRelations(ds,
        Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b"))
      .orderBy(col("doc_b")).collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getDouble(5),
        r.getDouble(6), r.getString(7))).toSeq
    assert(got == Seq(
      // (1,2): the small set is fully inside -> contained though jac 0.5
      (2L, 2L, 0.5, 1.0, "contained"),
      // (1,3): 3 of 5 union shared -> neither contained nor near copy
      (3L, 3L, 0.6, 0.75, "partial_overlap"),
      // (1,4): exact copy -> mutually contained; containment wins the CASE
      (4L, 4L, 1.0, 1.0, "contained")))
  }

  test("q230 MMR: planted line geometry — relevance round 1, diversity round 2, exact ties") {
    // 1-D points 0, 1, 10, 9 (ids 0..3): sum 20, n 4 -> centroid 5.
    // d2q = 25, 16, 25, 16. Round 1 is pure relevance: min d2q ties
    // between ids 1 and 3 -> smaller id (1). Round 2: mmr = 7*d2q -
    // 3*dmin = 172 (id 0), -68 (id 2), -80 (id 3) -> id 3: equal
    // relevance to id 1 but FAR from it — the diversity term deciding.
    // Round 3: ids 0 and 2 both have dmin 1 -> mmr tie 172 -> id 0.
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(0L, Seq(0L)), Row(1L, Seq(1L)), Row(2L, Seq(10L)),
        Row(3L, Seq(9L))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("f", ArrayType(LongType)))))
    val got = graft.operators.LlmQueries.mmrChosen(df, k = 3)
      .orderBy(col("rnk")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq((1, 1L, 16L, 0L, 112L), (2, 3L, 16L, 64L, -80L),
      (3, 0L, 25L, 1L, 172L)))
    // centroid division is sign-safe TRUNCATION: points -3, -4 -> sum
    // -7, c = -3 (floor would give -4 and flip the round-1 winner)
    val neg = spark.createDataFrame(
      java.util.List.of(Row(0L, Seq(-3L)), Row(1L, Seq(-4L))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("f", ArrayType(LongType)))))
    val first = graft.operators.LlmQueries.mmrChosen(neg, k = 1)
      .collect().head
    assert(first.getLong(1) == 0L && first.getLong(2) == 0L,
      "truncating centroid (-7 DIV 2 = -3) makes id 0 the exact center")
  }
}
