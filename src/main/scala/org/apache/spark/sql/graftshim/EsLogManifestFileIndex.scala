package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.classic
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{LongType, StructType}

/** A manifest entry the index prunes on: absolute path + the stats the
  * metadata log committed with the file. `maxDelta` = the widest batch in
  * the file (what a straddle bound relaxes by). `streamId` = the owning
  * stream for multi-stream (catalog) scans; -1 = unknown/single-stream
  * (never pruned on). */
final case class ManifestFile(absPath: String, bytes: Long,
                              startOffset: Long, endOffset: Long,
                              minTimestamp: Long, maxTimestamp: Long,
                              maxDelta: Int,
                              streamId: Long = -1L,
                              rows: Long = -1L) // -1 = unknown (blocks metadata-only count)

/** Exact row bounds of a single-stream read: the batches with
  * `base_offset < hi` whose span reaches past `lo` — fetch's straddle
  * semantics (api/Stream.java:36-44) — or, with `straddle = false`, the
  * batches with `lo <= base_offset < hi` (a later micro-batch's strict
  * partition of the offset axis). */
final case class OffsetBounds(lo: Long, hi: Long, straddle: Boolean = true)

/** Manifest-driven [[FileIndex]]: the stream's committed file set (a metadata
  * snapshot taken at plan time) exposed to Spark's NATIVE parquet relation —
  * the Delta/TahoeFileIndex technique. The scan that results is the
  * vectorized, whole-stage-codegen parquet path with columns pruned and
  * filters pushed to the reader; this class only decides WHICH files
  * participate, using the per-file offset/timestamp stats from the manifest
  * (the reference's range routing, replication_stream.rs:393-421).
  *
  * Pruning is conservative (supersets): Spark re-applies every data filter
  * exactly after the scan.
  *
  * `requested` row bounds are kept only when some row of `files` can fall
  * outside them. A relation over a bounded index never reaches the scan:
  * [[EsLogRowBounds]] rewrites it into `Filter(exact residual, relation
  * over [[withoutBounds]])`. */
class EsLogManifestFileIndex(val streamDir: String, val files: Seq[ManifestFile],
                             requested: Option[OffsetBounds] = None)
    extends FileIndex {

  val bounds: Option[OffsetBounds] = requested.filter(b =>
    files.exists(f => f.startOffset < b.lo || f.endOffset > b.hi))

  /** The same file set with no row bounds: the relation under the residual. */
  def withoutBounds: EsLogManifestFileIndex = new EsLogManifestFileIndex(streamDir, files)

  override def rootPaths: Seq[Path] = Seq(new Path(streamDir))
  override def partitionSchema: StructType = StructType(Nil)
  override def sizeInBytes: Long = files.map(_.bytes).sum
  override def inputFiles: Array[String] = files.map(_.absPath).toArray
  override def refresh(): Unit = ()

  /** Exact aggregate stats of the manifest snapshot, when every entry
    * carries a row count and no row bound cuts the files — serves
    * `count(*)` / `min(base_offset)` / `min/max(base_timestamp)` from
    * metadata alone (see [[EsLogMetadataOnlyCount]]). A bounded index
    * reports none, because its bounds drop rows the file stats count;
    * multi-stream scans put straddle residuals in a Filter ABOVE the
    * relation, which blocks the rewrite. So the manifest stats ARE the
    * scan's. */
  def manifestStats: Option[EsLogManifestStats] =
    if (bounds.nonEmpty) None
    else if (files.isEmpty) Some(EsLogManifestStats(0L, 0L, 0L, 0L, empty = true))
    else if (files.forall(_.rows >= 0))
      Some(EsLogManifestStats(files.map(_.rows).sum, files.map(_.startOffset).min,
        files.map(_.minTimestamp).min, files.map(_.maxTimestamp).max, empty = false))
    else None

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (bounds.nonEmpty) throw new IllegalStateException(
      s"row-bounded eslog relation over $streamDir reached the scan unfiltered: " +
        "EsLogRowBounds is not among the optimizer rules of the session running it")
    var lo = Long.MinValue; var hi = Long.MaxValue      // base_offset ∈ [lo, hi)
    var tsLo = Long.MinValue; var tsHi = Long.MaxValue  // base_timestamp ∈ [tsLo, tsHi)
    var sidLo = Long.MinValue; var sidHi = Long.MaxValue // stream_id ∈ [sidLo, sidHi)
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def long(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
    def tighten(name: String, newLo: Long => Unit, newHi: Long => Unit)
               (a: Option[String], v: Option[Long], isLo: Boolean, inclusive: Boolean): Unit =
      for (n <- a; value <- v; if n == name)
        // value + 1 would wrap at Long.MaxValue (e.g. `<= Long.MaxValue`),
        // collapsing hi to Long.MinValue and pruning every file; leave such a
        // bound unbounded instead — pruning must stay a conservative superset.
        if (isLo) { if (inclusive) newLo(value) else if (value != Long.MaxValue) newLo(value + 1) }
        else { if (inclusive) { if (value != Long.MaxValue) newHi(value + 1) } else newHi(value) }
    def offBound = tighten("base_offset", v => lo = math.max(lo, v), v => hi = math.min(hi, v)) _
    def tsBound = tighten("base_timestamp", v => tsLo = math.max(tsLo, v), v => tsHi = math.min(tsHi, v)) _
    def sidBound = tighten("stream_id", v => sidLo = math.max(sidLo, v), v => sidHi = math.min(sidHi, v)) _
    def each(b: (Option[String], Option[Long], Boolean, Boolean) => Unit)(e: Expression): Unit = e match {
      case GreaterThanOrEqual(a, l) => b(attr(a), long(l), true, true); b(attr(l), long(a), false, true)
      case GreaterThan(a, l)        => b(attr(a), long(l), true, false); b(attr(l), long(a), false, false)
      case LessThan(a, l)           => b(attr(a), long(l), false, false); b(attr(l), long(a), true, false)
      case LessThanOrEqual(a, l)    => b(attr(a), long(l), false, true); b(attr(l), long(a), true, true)
      case EqualTo(a, l)            => b(attr(a), long(l), true, true); b(attr(a), long(l), false, true)
                                       b(attr(l), long(a), true, true); b(attr(l), long(a), false, true)
      case _ => ()
    }
    dataFilters.foreach { f => each(offBound)(f); each(tsBound)(f); each(sidBound)(f) }

    // file [startOffset, endOffset) may hold a qualifying row iff spans
    // overlap; stream_id is constant per file, so an id bound drops whole
    // streams from a multi-stream (catalog) scan — the per-stream pruning a
    // union of N single-stream relations used to get from N indexes.
    val selected = files.filter { f =>
      f.endOffset > lo && (hi == Long.MaxValue || f.startOffset < hi) &&
        f.maxTimestamp >= tsLo && (tsHi == Long.MaxValue || f.minTimestamp < tsHi) &&
        (f.streamId == -1L ||
          (f.streamId >= sidLo && (sidHi == Long.MaxValue || f.streamId < sidHi)))
    }
    val statuses = selected.map { f =>
      new FileStatus(f.bytes, false, 1, 128L * 1024 * 1024, 0L, new Path(f.absPath))
    }.toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }
}

/** Read-only parquet format for manifest-backed relations: a SQL
  * `INSERT INTO` over a `USING eslog` catalog table plans as
  * InsertIntoHadoopFsRelationCommand, which would write raw part files into
  * the stream directory — UNMANIFESTED, so scans would silently never see
  * the rows. Writes must go through the commit protocol (EsLog.append /
  * `df.write.format("eslog")` / the streaming sink); this makes the bypass
  * loud instead of silently lossy. */
private class EsLogReadOnlyParquet extends ParquetFileFormat {
  override def prepareWrite(sparkSession: org.apache.spark.sql.SparkSession,
                            job: org.apache.hadoop.mapreduce.Job,
                            options: Map[String, String],
                            dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct INSERT into an eslog scan relation bypasses the offset/manifest " +
        "commit protocol; append with df.write.format(\"eslog\") (or CREATE TABLE " +
        "... USING eslog AS SELECT ..., or the streaming sink) instead")
}

object EsLogManifestFileIndex {
  /** The stream as Spark's native parquet relation over the manifest
    * snapshot: vectorized scan + codegen, no Row conversion. `sizeInBytes`
    * comes from the manifest, so broadcast decisions see real sizes. When
    * `bounds` cut the files, [[EsLogRowBounds]] is registered on `spark`,
    * whose optimizer then puts the exact residual above the relation;
    * [[EsLogScanStrategy]] always is, so filters over the relation plan
    * with parameters for their Long constants. */
  def relation(spark: org.apache.spark.sql.SparkSession, streamDir: String,
               files: Seq[ManifestFile], schema: StructType,
               options: Map[String, String],
               bounds: Option[OffsetBounds] = None): BaseRelation = {
    val index = new EsLogManifestFileIndex(streamDir, files, bounds)
    if (index.bounds.nonEmpty) EsLogRowBounds.register(spark)
    EsLogScanStrategy.register(spark)
    HadoopFsRelation(
      index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new EsLogReadOnlyParquet,
      options = options)(spark.asInstanceOf[classic.SparkSession])
  }
}

/** Rewrites a manifest relation whose index carries row bounds into
  * `Filter(exact residual, the relation without bounds)`. A `BaseRelation`
  * cannot carry a row filter, so this is how `format("eslog")` with
  * `startOffset`/`endOffset`, or over a stream trimmed mid-file, plans one
  * native Parquet scan. Idempotent: its output holds no bounded index.
  *
  * The residual is fetch's: `base_offset < hi`, and for the lower bound
  * either the exact straddle `base_offset + last_offset_delta > lo` with
  * its Parquet-pushable relaxation `base_offset > lo - maxDelta`, or the
  * strict `base_offset >= lo`. Each bound is added only when some file
  * reaches past it, so a bound that excludes no row costs no Filter.
  *
  * The bounds are `Literal`s here, so manifest pruning (`listFiles`) and
  * Parquet pushdown see them; [[EsLogScanStrategy]] turns them into
  * parameters of the planned row filter, so the residual's generated code
  * is the same for every range of one shape. */
object EsLogRowBounds extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case l: LogicalRelation => l.relation match {
      case fs @ HadoopFsRelation(idx: EsLogManifestFileIndex, _, _, _, _, _) if idx.bounds.nonEmpty =>
        within(l.copy(relation = fs.copy(location = idx.withoutBounds)(fs.sparkSession)),
          idx.files, idx.bounds.get)
      case _ => l
    }
  }

  /** `child`, which reads `files`, cut to the rows inside `b`. */
  def within(child: LogicalPlan, files: Seq[ManifestFile], b: OffsetBounds): LogicalPlan = {
    def attr(name: String): Attribute = child.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"no $name column to bound in ${child.output}"))
    val off = attr("base_offset")
    val lower =
      if (!files.exists(_.startOffset < b.lo)) None
      else if (!b.straddle) Some(GreaterThanOrEqual(off, Literal(b.lo)))
      else Some(And(
        GreaterThan(off, Literal(b.lo - files.map(_.maxDelta.toLong).max)),
        GreaterThan(Add(off, Cast(attr("last_offset_delta"), LongType)), Literal(b.lo))))
    val upper =
      if (files.exists(_.endOffset > b.hi)) Some(LessThan(off, Literal(b.hi))) else None
    (lower ++ upper).reduceOption(And).fold(child)(Filter(_, child))
  }

  /** Adds the rule to `spark`'s optimizer once, through the session's own
    * `experimental.extraOptimizations`, so a session built without
    * [[graft.sql.GraftSqlExtensions]] plans bounded relations too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftShims.registerOnce(spark)(_.extraOptimizations.contains(this))(
      e => e.extraOptimizations = e.extraOptimizations :+ this)
}
