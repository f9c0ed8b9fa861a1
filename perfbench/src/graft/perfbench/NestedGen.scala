package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input for the `jsonl_nested` workload: a directory of parquet
  * files whose rows exercise every rendering rule that exists for nested
  * data — structs inside lists, maps, decimals, binary, timestamps,
  * dates, NaN/Infinity doubles, escaped strings, empty containers, and
  * about half of every nested field null.
  *
  * Every value is a pure function of (seed, row id) through `xxhash64`,
  * and each output file is one `spark.range` partition written by one
  * task under a fixed name, so the same seed always yields the same
  * bytes, the same file sizes and therefore the same scan order. The
  * file count is fixed (not derived from the host's cores) for the same
  * reason: the recorded output digest must not depend on the core count.
  */
object NestedGen {
  val Version = 1

  final case class Generated(dir: Path, rows: Long, files: Int, bytes: Long,
      genSeconds: Double, cached: Boolean)

  /** Generated directories kept per cache root; older seeds are evicted. */
  private val KeepSeeds = 32

  def ensure(spark: SparkSession, cacheRoot: Path, seed: Long, rows: Long,
      files: Int): Generated = {
    val dir = cacheRoot.resolve(s"nested-v$Version-s$seed-r$rows-f$files")
    val done = dir.resolve(".complete")
    val t0 = System.nanoTime()
    val cached = Files.exists(done)
    if (!cached) {
      deleteTree(dir)
      val tmp = cacheRoot.resolve(s".tmp-${dir.getFileName}-${ProcessHandle.current.pid}")
      deleteTree(tmp)
      write(spark, frame(spark, seed, rows, files), tmp)
      Files.createDirectories(dir)
      // part-00003-<job uuid>-c000.snappy.parquet -> part-00003.parquet
      listing(tmp).filter(_.getFileName.toString.endsWith(".parquet")).foreach { p =>
        val idx = p.getFileName.toString.split("-")(1)
        Files.move(p, dir.resolve(s"part-$idx.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
      deleteTree(tmp)
      Files.writeString(done, "")
      evictOld(cacheRoot, keep = dir)
    }
    Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val parts = listing(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    require(parts.size == files, s"expected $files generated files in $dir, found ${parts.size}")
    Generated(dir, rows, parts.size, parts.map(Files.size).sum,
      if (cached) 0.0 else (System.nanoTime() - t0) / 1e9, cached)
  }

  /** Writes with micros timestamps, and with code generation off: the
    * projection is wide enough that compiling it costs more than
    * interpreting it for a few hundred thousand rows. */
  private def write(spark: SparkSession, df: org.apache.spark.sql.DataFrame, to: Path): Unit = {
    val settings = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = settings.keys.map(k => k -> spark.conf.getOption(k)).toMap
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.write.option("compression", "snappy").parquet(to.toString)
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def frame(spark: SparkSession, seed: Long, rows: Long, files: Int): org.apache.spark.sql.DataFrame = {
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def pm(k: Int, n: Long): Column = pmod(h(k), lit(n))
    def nullIf(k: Int, v: Column): Column = when(pm(k, 2) === 0, lit(null)).otherwise(v)
    def micros(k: Int): Column = // 2000-01-01 .. ~2030
      timestamp_micros(lit(946684800000000L) + pm(k, 946684800000000L))
    val suffixes = array(lit(""), lit(" \"q\""), lit("é"), lit("\t\\"), lit("✓"))
    val event = (j: Int) => struct(
      element_at(array(lit("view"), lit("click"), lit("buy")), (pm(30 + j, 3) + 1).cast("int")).as("kind"),
      nullIf(33 + j, micros(36 + j)).as("at"),
      nullIf(39 + j, (pm(42 + j, 2000000) - 1000000).cast("decimal(10,0)")
        .divide(lit(100)).cast("decimal(10,2)")).as("qty"))
    val nKeys = pm(55, 4).cast("int")
    spark.range(0, rows, 1, files).select(
      col("id"),
      when(pm(1, 10) === 0, lit(null)).otherwise(concat(lit("user-"),
        pm(1, 100000).cast("string"), element_at(suffixes, (pm(2, 5) + 1).cast("int")))).as("name"),
      when(pm(3, 10) === 0, lit(null)).otherwise(
        (pm(3, 2000000000000L) - 1000000000000L).cast("decimal(18,0)")
          .divide(lit(10000)).cast("decimal(18,4)")).as("amount"),
      when(pm(4, 40) === 0, lit(Double.NaN))
        .when(pm(4, 40) === 1, lit(Double.PositiveInfinity))
        .when(pm(4, 40) === 2, lit(null).cast("double"))
        .otherwise((pm(5, 2000000) - 1000000).cast("double") / 997.0).as("score"),
      (pm(6, 1000).cast("float") / lit(7.0f)).cast("float").as("ratio"),
      when(pm(7, 10) === 0, lit(null)).otherwise(micros(8)).as("ts"),
      date_add(lit("2000-01-01").cast("date"), pm(9, 11000).cast("int")).as("day"),
      nullIf(10, substring(unhex(hex(h(11))), lit(1), pm(12, 8).cast("int"))).as("payload"),
      when(pm(13, 3) === 0, lit(null)).otherwise(pm(14, 2) === 1).as("flag"),
      nullIf(15, slice(array((0 until 4).map(i =>
        nullIf(16 + i, concat(lit("t"), pm(20 + i, 97).cast("string")))): _*),
        lit(1), pm(24, 5).cast("int"))).as("tags"),
      nullIf(25, map_from_arrays(
        slice(array(lit("a"), lit("b"), lit("c")), lit(1), nKeys),
        slice(array(pm(26, 100).cast("int"), nullIf(27, pm(28, 1000).cast("int")),
          pm(29, 10).cast("int")), lit(1), nKeys))).as("attrs"),
      when(pm(45, 4) === 0, lit(null)).otherwise(struct(
        nullIf(46, concat(lit("street "), pm(47, 1000).cast("string"))).as("street"),
        nullIf(48, pm(49, 99999).cast("int")).as("zip"),
        nullIf(50, struct(
          ((pm(51, 180000) - 90000).cast("double") / 1000.0).as("lat"),
          ((pm(52, 360000) - 180000).cast("double") / 1000.0).as("lon"))).as("geo"))).as("addr"),
      nullIf(53, slice(array(event(0), event(1), event(2)), lit(1), pm(54, 4).cast("int"))).as("events"))
  }

  private def listing(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sortBy(_.toString) }
    finally s.close()
  }

  private def evictOld(cacheRoot: Path, keep: Path): Unit = {
    val olds = listing(cacheRoot).filter { p =>
      p != keep && p.getFileName.toString.startsWith("nested-") && Files.exists(p.resolve(".complete"))
    }.sortBy(p => -Files.getLastModifiedTime(p.resolve(".complete")).toMillis)
    olds.drop(KeepSeeds - 1).foreach(deleteTree)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally s.close()
    }
}
