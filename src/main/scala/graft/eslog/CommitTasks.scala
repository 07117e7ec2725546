package graft.eslog

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftshim.PartFileWriter

import graft.meta.FileMeta
import graft.model.RecordBatchRow

/** The executor-side work of a data commit, and the audit that gates it.
  *
  * The task functions live here rather than in [[EsLog]] because Spark's
  * ClosureCleaner reads the class file that defines every closure it is
  * handed, on every job: the `EsLog` module's class is about 200 KB, this
  * one a few. */
private[graft] object CommitTasks {

  /** Row-group size = the reference's sparse-index granularity
    * (range_offload.rs:26, one index entry ≈ every 16 MiB): offset pruning
    * then skips at the same resolution the reference seeks at. */
  val BlockBytes: Long = 16L * 1024 * 1024

  /** Per-partition stats a commit is planned from, and audited against:
    * (pid, rows, startOffset, endOffset, minTs, maxTs, maxDelta). */
  type PartStats = (Int, Long, Long, Long, Long, Long, Int)

  // positions in EsLog.normalize's output
  private final val DeltaIdx = 2
  private final val TsIdx = 3

  /** [[EsLog.append]]'s pass 1 over the normalized rows of one partition:
    * (sum of deltas, rows, max delta, min ts, max ts). */
  val appendStats: (TaskContext, Iterator[InternalRow]) => (Long, Long, Int, Long, Long) = (_, it) => {
    var s = 0L; var n = 0L; var maxD = 0
    var minTs = Long.MaxValue; var maxTs = Long.MinValue
    it.foreach { r =>
      val d = r.getInt(DeltaIdx); s += d; n += 1
      if (d > maxD) maxD = d
      val ts = r.getLong(TsIdx)
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
    }
    (s, n, maxD, minTs, maxTs)
  }

  /** [[EsLog.append]]'s pass 2: normalized rows of partition `pid` as
    * record-batch rows, offsets counted up from `starts(pid)`. An output row
    * references its source row's map and binary buffers — safe because the
    * writer encodes each row into Parquet column buffers before it pulls
    * the next one. */
  def assignOffsets(starts: Array[Long], segIndex: Int)
      : (Int, Iterator[InternalRow]) => Iterator[InternalRow] = (pid, it) => {
    var off = starts(pid)
    it.map { r =>
      val delta = r.getInt(DeltaIdx)
      val values = new Array[Any](8)
      values(0) = if (r.isNullAt(0)) null else r.getLong(0)
      values(1) = segIndex
      values(2) = if (r.isNullAt(1)) null else r.getShort(1)
      values(3) = off
      values(4) = delta
      values(5) = if (r.isNullAt(TsIdx)) null else r.getLong(TsIdx)
      values(6) = if (r.isNullAt(4)) null else r.getMap(4)
      values(7) = if (r.isNullAt(5)) null else r.getBinary(5)
      off += delta
      new GenericInternalRow(values): InternalRow
    }
  }

  /** Writes `rows` (record-batch rows, sorted by base_offset within each
    * partition) as one file per non-empty partition under
    * `streamDir/outRel`, and returns their manifest entries once
    * [[auditedMetas]] has checked them against `stats`. `outRel` must not
    * exist yet; on any later failure it is deleted, since nothing names its
    * files and they could only leak. */
  def writeAudited(spark: SparkSession, rows: RDD[InternalRow], streamDir: String, outRel: String,
                   blockBytes: Long, stats: Seq[PartStats]): Seq[FileMeta] = {
    val outAbs = graft.meta.MetaLog.join(streamDir, outRel)
    try auditedMetas(outRel, stats,
      PartFileWriter.write(spark, rows, RecordBatchRow.schema, outAbs, blockBytes, "base_offset"))
    catch {
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => throw e // someone else's
      case scala.util.control.NonFatal(e) =>
        val out = new org.apache.hadoop.fs.Path(outAbs)
        out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
        throw e
    }
  }

  /** The commit audit: every written part must agree with the stats its
    * partition was planned from — row counts exactly, and the footer's
    * `base_offset` statistics with the manifest span (min == startOffset;
    * max inside [endOffset - maxDelta, endOffset)). This catches an input
    * that evaluated differently between the stats pass and the write pass,
    * including the stable-count case where only offsets drift, so such a
    * commit aborts instead of landing a manifest that disagrees with its
    * files. A partition with rows but no stats, or stats but no file, is
    * the same drift. */
  def auditedMetas(outRel: String, stats: Seq[PartStats],
                   parts: Seq[PartFileWriter.Part]): Seq[FileMeta] = {
    val byPid = parts.map(p => p.pid -> p).toMap
    val planned = stats.map(_._1).toSet
    parts.filterNot(p => planned(p.pid)).foreach { p =>
      throw new IllegalStateException(
        s"$outRel/${p.name} holds ${p.rows} rows for partition ${p.pid}, which the stats pass " +
          "found empty — input evaluated differently between stats and write passes; commit aborted")
    }
    stats.map { case (pid, nrows, startOff, endOff, minTs, maxTs, maxD) =>
      val p = byPid.getOrElse(pid,
        throw new IllegalStateException(s"no written file for partition $pid in $outRel"))
      val rel = s"$outRel/${p.name}"
      if (p.rows != nrows) throw new IllegalStateException(
        s"footer row count ${p.rows} != stats rows $nrows for $rel — " +
          "input evaluated differently between stats and write passes; commit aborted")
      for (mo <- p.minKey) if (mo != startOff) throw new IllegalStateException(
        s"footer min base_offset $mo != stats startOffset $startOff for $rel — " +
          "offsets drifted between stats and write passes; commit aborted")
      for (mo <- p.maxKey) if (mo < endOff - maxD || mo >= endOff) throw new IllegalStateException(
        s"footer max base_offset $mo outside [${endOff - maxD}, $endOff) for $rel — " +
          "offsets drifted between stats and write passes; commit aborted")
      FileMeta(rel, nrows, p.bytes, startOff, endOff, minTs, maxTs, maxD)
    }.sortBy(_.startOffset)
  }
}
