package graft.sources

import graft.sources.ParquetMetadata.Footer
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.util.Try

/** Rows `[lo, hi)` of what `files` read, counted from the first row they
  * read. A range cut from a row group holds one file narrowed to that
  * group's bytes, so `lo` and `hi` count from the group's first row. A
  * whole range (`lo` 0, `hi` `Long.MaxValue`) is a planned split, or the
  * part of one that is not cut, read as Spark planned it. */
final case class RowRange(files: Array[PartitionedFile], lo: Long, hi: Long) {
  def whole: Boolean = lo == 0 && hi == Long.MaxValue
}

/** Parquet scans cut into row ranges below the row group, so that a file
  * of one large row group — which Spark reads as one task — converts on
  * every core (morsel-driven parallelism: a fixed plan cut into row-count
  * morsels whose output keeps its order).
  *
  * [[plan]] starts from Spark's own `FilePartition`s, in Spark's order.
  * Files that Spark cut into more than one split, or every file when the
  * scan has fewer splits than `defaultParallelism`, are candidates: each
  * split owns the row groups whose midpoint lies in its byte range
  * (parquet-mr's rule), and each owned group is cut into up to
  * `defaultParallelism` / groups ranges whose boundaries are multiples of
  * the columnar reader's batch size. A file none of whose owned groups is
  * cut stays in its split as planned, and every other split stays whole
  * without its footer being read; a split of a candidate file that owns
  * no row group would read nothing, so it is dropped. The cut is for
  * parallelism only, so a range's block is about its group's text over
  * the number of its ranges; no byte share bounds it.
  *
  * [[prepare]] reads the ranges through the planned scan's own
  * `FileScanRDD`: a cut range reads only its row group, skips whole
  * columnar batches before `lo` without turning them into rows, and stops
  * at `hi`. The batches before `lo` are still decoded; only their
  * rendering is saved. */
object RowRangeScan {

  /** Indices of the row groups that a split over bytes
    * `[start, start + length)` reads: those whose midpoint lies inside it,
    * as parquet-mr's `ParquetMetadataConverter.range` filter decides. */
  def ownedGroups(blocks: Seq[BlockMetaData], start: Long, length: Long): Seq[Int] =
    blocks.indices.filter { i =>
      val mid = blocks(i).getStartingPos + blocks(i).getCompressedSize / 2
      mid >= start && mid < start + length
    }

  /** The fewest reader batches a range is cut to: a range pays for its
    * own job, which re-reads its row group's column chunks, so a group
    * too small to give each core this much stays whole. */
  val MinRangeBatches = 4

  /** A row group of `rows` rows cut into up to `pieces` batch-aligned
    * `[lo, hi)` ranges of at least [[MinRangeBatches]] batches each; one
    * range when the group is too small to cut. */
  def cut(rows: Long, batchSize: Int, pieces: Int): Seq[(Long, Long)] = if (rows <= 0) Nil else {
    val batches = (rows + batchSize - 1) / batchSize
    val k = math.max(1L, math.min(pieces.toLong, batches / MinRangeBatches))
    (0L until k).map(i =>
      (i * batches / k * batchSize, math.min((i + 1) * batches / k * batchSize, rows)))
  }

  /** The ranges over `partitions`, in order; None when no row group is
    * cut into more than one range, so the scan runs as Spark planned it.
    * `footer` is asked once per file to cut, and only for those; a file
    * whose footer cannot be read stays whole. */
  def plan(partitions: Seq[FilePartition], parallelism: Int, batchSize: Int,
      footer: PartitionedFile => Option[Footer]): Option[Seq[RowRange]] = {
    val splitsOf = partitions.flatMap(_.files).groupMapReduce(_.filePath)(_ => 1)(_ + _)
    val cutAll = partitions.length < parallelism
    val footers = scala.collection.mutable.Map.empty[SparkPath, Option[Footer]]
    // per planned split, each file with the row groups it owns (None: read whole)
    val layout = partitions.map(_.files.toSeq.map { f =>
      val groups =
        if (cutAll || splitsOf(f.filePath) > 1)
          footers.getOrElseUpdate(f.filePath, footer(f))
            .map(ft => ownedGroups(ft.blocks, f.start, f.length).map(ft.blocks))
        else None
      f -> groups
    })
    val groups = layout.flatten.flatMap(_._2).map(_.size).sum
    if (groups == 0) return None
    // enough pieces per group for every core, never more than the cores
    val pieces = math.max(1, (parallelism + groups - 1) / groups)
    var cutAny = false
    val ranges = layout.flatMap { files =>
      val out = Seq.newBuilder[RowRange]
      var whole = Vector.empty[PartitionedFile]
      def flush(): Unit = if (whole.nonEmpty) {
        out += RowRange(whole.toArray, 0, Long.MaxValue)
        whole = Vector.empty
      }
      files.foreach { case (f, owned) =>
        val cuts = owned.getOrElse(Nil).map(g => g -> cut(g.getRowCount, batchSize, pieces))
        if (owned.exists(_.isEmpty)) () // the slice owns no row group: it reads nothing
        else if (cuts.forall(_._2.size <= 1)) whole :+= f
        else cuts.foreach { case (g, c) =>
          // the file narrowed to this group's bytes reads only this group
          val one = f.copy(start = g.getStartingPos, length = g.getCompressedSize)
          if (c.size <= 1) whole :+= one
          else {
            cutAny = true
            flush()
            c.foreach { case (lo, hi) => out += RowRange(Array(one), lo, hi) }
          }
        }
      }
      flush()
      out.result()
    }
    if (cutAny) Some(ranges) else None
  }

  /** The partitions of `scan`'s output as its reader yields them —
    * `ColumnarBatch`es when `scan.supportsColumnar`, else rows — one per
    * row range when [[plan]] cuts a row group, else the scan's own
    * `FileScanRDD`. `known` gives footers already read; any other is read
    * with the scan's own Hadoop conf. The scan's pruned columns, pushed
    * filters and reader stay Spark's. */
  def prepare(scan: FileSourceScanExec, known: PartitionedFile => Option[Footer]): RDD[InternalRow] =
    scan.inputRDD match {
      case files: FileScanRDD if scan.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
        val session = scan.relation.sparkSession.sessionState
        lazy val hadoopConf = session.newHadoopConfWithOptions(scan.relation.options)
        def footer(f: PartitionedFile): Option[Footer] = known(f).orElse(
          Try(ParquetMetadata.footer(f.toPath.toString, hadoopConf)).toOption)
        plan(files.filePartitions, files.sparkContext.defaultParallelism,
          session.conf.parquetVectorizedReaderBatchSize, footer)
          .map(new RowRangeRDD(files, _, scan.supportsColumnar))
          .getOrElse(files)
      case other => other
    }

  /** The rows `[lo, hi)` of a stream of batches: batches wholly before
    * `lo` are dropped unread, the batch holding `hi` is cut short, and no
    * batch after it is pulled. `lo` must fall on a batch boundary, as
    * [[cut]]'s ranges do. */
  def sliceBatches(batches: Iterator[ColumnarBatch], lo: Long, hi: Long): Iterator[ColumnarBatch] =
    new Iterator[ColumnarBatch] {
      private var at = 0L // rows before the next batch
      private var ready: ColumnarBatch = null
      def hasNext: Boolean = {
        while (ready == null && at < hi && batches.hasNext) {
          val b = batches.next()
          val start = at
          at += b.numRows
          if (at > lo) {
            require(start >= lo, s"range start $lo falls inside the batch of rows [$start, $at)")
            b.setNumRows((math.min(hi, at) - start).toInt)
            ready = b
          }
        }
        ready != null
      }
      def next(): ColumnarBatch = {
        if (!hasNext) throw new NoSuchElementException
        val b = ready
        ready = null
        b
      }
    }

  /** The rows `[lo, hi)` of a row stream; no row after `hi` is pulled. */
  def sliceRows(rows: Iterator[InternalRow], lo: Long, hi: Long): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var at = 0L
      def hasNext: Boolean = {
        while (at < lo && rows.hasNext) { rows.next(); at += 1 }
        at < hi && rows.hasNext
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        at += 1
        rows.next()
      }
    }
}

private final class RowRangePartition(val index: Int, val range: RowRange) extends Partition {
  def files: FilePartition = FilePartition(index, range.files)
}

/** One partition per range; each computes `scan` over its range's files
  * and keeps rows `[lo, hi)`. `columnar` says whether `scan` yields
  * `ColumnarBatch`es. */
private final class RowRangeRDD(scan: FileScanRDD, ranges: Seq[RowRange], columnar: Boolean)
    extends RDD[InternalRow](scan.sparkContext, Nil) {

  override protected def getPartitions: Array[Partition] =
    ranges.zipWithIndex.map { case (r, i) => new RowRangePartition(i, r) }.toArray

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    split.asInstanceOf[RowRangePartition].files.preferredLocations().toSeq

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val p = split.asInstanceOf[RowRangePartition]
    val in = scan.compute(p.files, context)
    val r = p.range
    if (r.whole) in
    else if (columnar)
      RowRangeScan.sliceBatches(in.asInstanceOf[Iterator[ColumnarBatch]], r.lo, r.hi)
        .asInstanceOf[Iterator[InternalRow]]
    else RowRangeScan.sliceRows(in, r.lo, r.hi)
  }
}
