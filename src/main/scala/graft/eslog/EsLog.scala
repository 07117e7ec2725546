package graft.eslog

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{EsLogManifestFileIndex, GraftShims, ManifestFile, OffsetBounds}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

import graft.meta._
import graft.model.RecordBatchRow

/** The ES-log table format: a stream = a directory of immutable Parquet
  * segment files + a CAS-committed metadata log (see [[graft.meta.MetaLog]]).
  *
  * This is the Spark-native re-expression of the reference's data plane:
  *
  *  - `append`  = client append path (replication_stream.rs:326-363): offsets
  *    are assigned contiguously at commit time by the single epoch-fenced
  *    writer; executor tasks write Parquet files under their final names and
  *    audit their own footers, and the driver's manifest commit is the ack
  *    (quorum replaced by object-store durability). A file is invisible
  *    until the commit names it, so no output committer runs: the log is the
  *    commit, as in the reference's range offload (range_offload.rs).
  *  - `fetch`   = client fetch path (replication_stream.rs:365-422): manifest
  *    range routing (the BTreeMap upper_bound) becomes file pruning; the
  *    sparse-index byte-range reads (object_reader.rs:34-80) become Parquet
  *    row-group skipping on the physical `base_offset` column, which is
  *    written in ascending order so min/max stats are tight.
  *  - a batch straddling a fetch bound is returned whole
  *    (api/Stream.java:36-44 semantics).
  *
  * Scale design: data files are written once and never rewritten; the scan is
  * a plain vectorized Parquet scan, so predicate pushdown, column pruning and
  * whole-stage codegen all apply untouched. Offset assignment is two passes
  * over the input (per-partition delta sums, then the write) — no driver-side
  * data movement, no collect of rows, no re-read of written files.
  */
object EsLog {
  val DefaultStreamId = 0L

  /** Write-time rolling target — the reference's 128 MiB offload object size
    * (components/object-storage/src/range_accumulator.rs:37-98), shared with
    * [[compact]]'s post-hoc policy. `append(targetFileBytes = 0)` disables
    * the ingest-side adjustment. */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** Output file count for the rolling policy: ceil(estimated input bytes /
    * targetBytes), from Catalyst's plan statistics. None when the policy is
    * disabled or the estimate is unusable — RDD-backed plans (e.g. streaming
    * micro-batches) default to `spark.sql.defaultSizeInBytes` = Long.MaxValue,
    * so anything over a petabyte is treated as "no estimate" rather than
    * exploding the file count. Caveat: projection estimates scale leaf sizes
    * by schema-default column widths, so a plan that MANUFACTURES a wide
    * payload (repeat/concat) under-estimates; real sources (file scans,
    * cached frames) carry accurate byte counts, and the 2x hysteresis at the
    * call site keeps a merely-imprecise estimate from forcing a reshuffle. */
  private def sizeTargetedCount(df: DataFrame, targetBytes: Long): Option[Int] = {
    if (targetBytes <= 0) return None
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est >= BigInt(1L << 50)) None
    else Some(((est + targetBytes - 1) / targetBytes).min(BigInt(1 << 16)).toInt.max(1))
  }

  // ---- scheme-agnostic data-file IO ----
  // streamDir may be a plain local path OR any Hadoop URI (file:/, hdfs://,
  // s3a://): every data-file operation below goes through the Hadoop
  // FileSystem resolved from the dir, with the active session's conf
  // (credentials included) when one exists. The metadata log is routed
  // separately (MetaLog.storeFor — HadoopLogStore for URI dirs by default).
  private def hconf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)
  private def dataFs(dir: String): org.apache.hadoop.fs.FileSystem =
    hpath(dir).getFileSystem(hconf())
  private def join(base: String, rel: String): String = MetaLog.join(base, rel)

  // ---- DDL surface (SURVEY §2.1) ----

  /** CREATE_STREAM: allocate + persist stream metadata. */
  def create(streamDir: String, streamId: Long = DefaultStreamId, replica: Int = 1,
             ackCount: Int = 1, retentionMs: Long = -1L): StreamState = {
    dataFs(streamDir).mkdirs(hpath(streamDir))
    MetaLog.commit(streamDir, StreamState.empty,
      Seq(CreateStream(streamId, replica, ackCount, retentionMs)))
  }

  /** Remove the leftover directory of a DELETED stream so its name/path can
    * be recreated (create CAS-commits at log version 0, which a tombstoned
    * log would always lose). Data files are already gone ([[delete]] removed
    * them); this drops the tombstoned log itself. Refuses to touch a live
    * stream — returns false and leaves everything in place unless the log
    * says `deleted`. */
  private[graft] def purgeDeleted(streamDir: String): Boolean = {
    if (!MetaLog.exists(streamDir) || !MetaLog.load(streamDir).deleted) return false
    val fs = dataFs(streamDir)
    fs.delete(hpath(streamDir), true)
    true
  }

  /** open_stream: fence with a higher epoch; seals the previous open segment
    * so `nextOffset` is recovered exactly (replication_stream.rs:241-295). */
  def open(streamDir: String, epoch: Long): StreamState =
    MetaLog.commitWithRetry(streamDir) { st => Seq(OpenStream(epoch)) }

  def describe(streamDir: String): StreamState = MetaLog.load(streamDir)

  def update(streamDir: String, replica: Option[Int] = None, ackCount: Option[Int] = None,
             retentionMs: Option[Long] = None): StreamState =
    MetaLog.commitWithRetry(streamDir) { _ => Seq(UpdateStream(replica, ackCount, retentionMs)) }

  /** DELETE_STREAM: mark deleted in the log, then remove data files (the
    * log itself is kept — it records the deletion). */
  def delete(streamDir: String): Unit = {
    MetaLog.commitWithRetry(streamDir) { st => if (st.deleted) Seq.empty else Seq(DeleteStream()) }
    HotCache.invalidate(streamDir)
    val fs = dataFs(streamDir)
    val root = hpath(streamDir)
    if (fs.exists(root))
      fs.listStatus(root)
        .filterNot(_.getPath.getName == MetaLog.LogDirName)
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** TRIM_STREAM: advance min offset — METADATA ONLY. Files fully below the
    * new start leave the manifest with the commit and are reclaimed by
    * [[vacuum]]'s grace-protected sweep, exactly like compaction's replaced
    * files: an eager physical delete here raced every reader of a pre-trim
    * snapshot (a concurrent compact mid-rewrite of the same segment hit
    * FILE_NOT_EXIST — caught by the lifecycle chaos test) and bought
    * nothing a grace sweep doesn't. This is the delayed-GC discipline of
    * every production table format, applied uniformly. */
  def trim(streamDir: String, minOffset: Long): StreamState =
    MetaLog.commitWithRetry(streamDir) { st =>
      if (minOffset <= st.startOffset) Seq.empty else Seq(Trim(minOffset))
    }

  // ---- write path ----

  private def deleteRecursively(abs: String): Unit = {
    val fs = dataFs(abs)
    val p = hpath(abs)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Normalize an input frame to appendable batch columns. Accepts any frame
    * with a `payload` column; fills batch metadata defaults. */
  private def normalize(df: DataFrame, streamId: Long): DataFrame = {
    // case-INSENSITIVE presence check, matching Spark's default resolution:
    // a case-sensitive `contains` would miss a caller's "FLAGS" column and
    // a default would then silently REPLACE it — the corruption mode, not a
    // default fill. ONE select (not a withColumn chain): append pays this
    // driver-side analysis on every commit, and each withColumn is a full
    // extra analyzer pass (~15 ms each on the 64 KiB bench's profile).
    def have(name: String): Boolean = df.columns.exists(_.equalsIgnoreCase(name))
    def get(name: String, default: org.apache.spark.sql.Column) =
      if (have(name)) col(name) else default
    df.select(
      lit(streamId).as("stream_id"),
      get("flags", lit(0)).cast(ShortType).as("flags"),
      get("last_offset_delta", lit(1)).cast(IntegerType).as("last_offset_delta"),
      get("base_timestamp", lit(0L)).cast(LongType).as("base_timestamp"),
      get("properties", map()).cast(MapType(StringType, StringType)).as("properties"),
      col("payload").cast(BinaryType).as("payload"))
  }

  /** Append a frame of record batches. Columns used: `payload` (required),
    * `properties`, `base_timestamp` (epoch ms), `last_offset_delta`, `flags`.
    * Row order within the frame's partition structure defines offset order;
    * use `sortKey` to impose a global order (range-partitioned sort).
    * Returns (firstAssignedOffset, nextOffset).
    */
  def append(spark: SparkSession, streamDir: String, input: DataFrame, epoch: Long,
             sortKey: Option[String] = None, numPartitions: Int = 0,
             extraActions: Seq[Action] = Seq.empty,
             targetFileBytes: Long = DefaultTargetFileBytes,
             extraGuards: Seq[KvGuard] = Seq.empty): (Long, Long) = {
    val st0 = MetaLog.load(streamDir)
    if (st0.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    if (epoch < st0.epoch) throw new FencedException(s"append epoch $epoch < ${st0.epoch}")

    // Ensure an open segment (created lazily on first append, like the
    // append_task's seal-and-new-range loop, replication_stream.rs:154-203).
    val st = st0.openSegment match {
      case Some(_) => st0
      case None =>
        val idx = st0.segments.lastOption.map(_.index + 1).getOrElse(0)
        MetaLog.commit(streamDir, st0, Seq(OpenSegment(idx, st0.nextOffset, epoch)))
    }
    val seg = st.openSegment.get
    val next = seg.confirmedEnd
    // KV guards (etcd-compare shapes) make the data commit conditional on
    // KV state — e.g. a consumer-group position unchanged since it was
    // read ([[consumeProcessProduce]]'s exactly-once fence). Checked here
    // against the SAME snapshot the commit CAS-es on (any interleaving
    // commit bumps the version and the final commit fails regardless), so
    // holding-at-st == holding-at-commit; checking before the write passes
    // just fails fast instead of after the I/O.
    extraGuards.find(!_.holds(st.kv)).foreach { g =>
      throw new ConcurrentCommitException(
        s"append guard failed on '${g.key}' — KV state changed since read: $g")
    }

    val streamId = if (st.streamId >= 0) st.streamId else DefaultStreamId
    var batches = normalize(input, streamId)
    // never write into fewer tasks than the measured-optimal fraction of
    // cores (see the comment on `internal`), nor more than `cur`
    def floorAt(cur: Int): Int =
      math.min(cur, math.max(2, spark.sparkContext.defaultParallelism / 4))
    sortKey match {
      case Some(k) =>
        // an explicit sort shuffles anyway, so the size-targeted count is
        // free to apply directly when the caller didn't pin numPartitions.
        // The input's partitions are counted from its own execution (with
        // the sort key still among its columns): on an adaptive plan that
        // runs its shuffle stages, and the range-partitioned write below
        // reads their output instead of running them again.
        val n =
          if (numPartitions > 0) numPartitions
          else {
            val target = sizeTargetedCount(batches, targetFileBytes)
            val (rooted, cur) = GraftShims.withPartitionCount(input)
            batches = normalize(rooted, streamId)
            target.map(m => math.max(m, floorAt(cur))).getOrElse(cur)
          }
        batches = batches.repartitionByRange(n, col(k)).sortWithinPartitions(col(k))
          .select(batches.columns.map(col).toSeq: _*)
      case None if numPartitions > 0 =>
        batches = batches.repartition(numPartitions)
      case None =>
        // Write-time file rolling decided BELOW at the RDD level — see the
        // comment on `internal`.
        ()
    }

    // One physical plan shared by both passes, in Tungsten format end-to-end
    // (no Row conversion, no executor-storage copy of the input). Pass 1
    // (stats) and pass 2 (write) run as two jobs over the SAME RDD graph, so
    // every shuffle stage inside the plan executes once and is reused — both
    // passes are guaranteed identical partition membership. Per-partition
    // aggregates are order-insensitive, so reduce-side fetch-order jitter
    // between the jobs is harmless; the write tasks' footer audit backstops
    // the one remaining hazard (shuffle-output loss + nondeterministic
    // recompute).
    val internal0 = org.apache.spark.sql.graftshim.GraftShims.internalRdd(batches)
    // Write-time file rolling (the reference's RangeAccumulator sizes
    // offload objects to 128 MiB as it accumulates,
    // components/object-storage/src/range_accumulator.rs:37-98): a caller
    // who didn't tune numPartitions used to get whatever partitioning the
    // input had — thousands of KB files from a many-partition input, or one
    // multi-GB file from a collapsed one. Adjust only when the estimated
    // layout is >2x off target either way: coalescing down is shuffle-free;
    // splitting up pays one shuffle to buy back write parallelism + bounded
    // files. Within 2x, leave the input partitioning alone.
    //
    // Coalescing FLOORS at a quarter of the cluster's cores: the write
    // stage's cost curve over task count is U-shaped (measured on the
    // 64 KiB bench's 131 MB commits — 2 tasks serialize the encode at
    // ~0.30 s, 32 tasks pay per-task writer/commit overhead at ~0.30 s,
    // 4-8 tasks hit ~0.17 s), so the policy aims file count at
    // [cores/4, bytes/target] instead of collapsing to the byte target
    // alone. At 100 TB commit sizes bytes/target dwarfs any floor; the
    // floor only guards small commits, where ingest latency matters and
    // compact() converges layout to the storage-optimal target anyway.
    //
    // The common coalesce-down applies at the RDD level: stats, partition
    // count and the two execution passes then share ONE QueryExecution —
    // a DataFrame-level coalesce re-ran the whole Catalyst pipeline on the
    // wrapped plan, a measurable per-commit driver tax at ingest rates
    // (~15-25 ms of a ~250 ms commit). The rare split-up path still pays
    // the second pass: it shuffles anyway.
    val (planned, internal) =
      if (sortKey.isEmpty && numPartitions <= 0) // any non-positive count = auto-roll
        sizeTargetedCount(batches, targetFileBytes) match {
          case Some(n) =>
            val cur = internal0.getNumPartitions
            val floored = math.max(n, floorAt(cur))
            if (floored * 2 <= cur) (batches, internal0.coalesce(floored))
            else if (floored >= cur * 2) {
              val split = batches.repartition(floored)
              (split, org.apache.spark.sql.graftshim.GraftShims.internalRdd(split))
            } else (batches, internal0)
          case None => (batches, internal0)
        }
      else (batches, internal0)
    val segIndex = seg.index
    val outRel = f"seg-$segIndex%05d/${UUID.randomUUID().toString.take(8)}"

    // Both passes run as one SQL execution of the planned input, so
    // listeners see the append's planning and written bytes as they would a
    // DataFrameWriter's.
    val (files, end) = org.apache.spark.sql.graftshim.GraftShims.withExecution(planned, "eslog append") {
      // Pass 1: per-partition delta sums -> contiguous per-partition base
      // offsets. The distributed analogue of the write window: gap-free by
      // construction (window.rs:79-204), plus per-partition stats so commit
      // needs no re-read of the written files.
      val partSums = spark.sparkContext.runJob(internal, CommitTasks.appendStats)
      val partStarts = partSums.scanLeft(next)(_ + _._1)
      if (partStarts.last == next) (Seq.empty, next)
      else {
        // Pass 2: assign offsets and write Parquet sorted by base_offset, so
        // row-group min/max stats give tight offset pruning (= the
        // reference's sparse index, range_offload.rs:361-451). The files go
        // straight to their final names; the manifest commit below is what
        // publishes them.
        val stats = partSums.indices.filter(partSums(_)._2 > 0).map { pid =>
          val (sum, nrows, maxD, minTs, maxTs) = partSums(pid)
          (pid, nrows, partStarts(pid), partStarts(pid) + sum, minTs, maxTs, maxD)
        }
        (CommitTasks.writeAudited(spark,
          internal.mapPartitionsWithIndex(CommitTasks.assignOffsets(partStarts, segIndex)),
          streamDir, outRel, CommitTasks.BlockBytes, stats), partStarts.last)
      }
    }
    if (end == next) return (next, next)

    try {
      require(files.head.startOffset == next && files.last.endOffset == end,
        s"offset assignment not contiguous: ${files.map(f => (f.startOffset, f.endOffset))}")
      MetaLog.commit(streamDir, st, Seq(CommitFiles(segIndex, epoch, files)) ++ extraActions)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // The written files are unreachable on any pre-commit failure
        // (fencing, CAS loss) — delete before rethrow so a failed append
        // can't leak storage. Only skip cleanup if the commit in fact landed
        // (an exception from post-commit bookkeeping).
        val landed = MetaLog.load(streamDir).allFiles.map(_.path).toSet
        if (!files.exists(f => landed(f.path))) deleteRecursively(join(streamDir, outRel))
        throw e
    }
    (next, end)
  }

  /** Ingest raw append-frame payloads: each row of `frames` carries a binary
    * column `frame` holding back-to-back FlatRecordBatch entries (the
    * reference's APPEND payload, rpc.fbs:263-278 / payload.rs:30-79). Entries
    * are decoded in parallel on the executors and appended; base offsets are
    * re-assigned by the commit (embedded offsets are advisory, exactly like a
    * client-side retry). */
  def ingestRaw(spark: SparkSession, streamDir: String, frames: DataFrame,
                epoch: Long): (Long, Long) = {
    import spark.implicits._
    val rows = frames.select(col("frame").cast(BinaryType)).as[Array[Byte]]
      .flatMap(bytes => graft.model.FlatRecordBatch.decodeAll(bytes))
    append(spark, streamDir, rows.toDF(), epoch)
  }

  /** Export a scan as wire frames: one FlatRecordBatch entry per batch, in
    * offset order within each partition — the inverse of [[ingestRaw]]. */
  def exportRaw(spark: SparkSession, streamDir: String, start: Long = 0L,
                end: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    fetch(spark, streamDir, start, end)
      .as[RecordBatchRow]
      .map(r => (r.base_offset, graft.model.FlatRecordBatch.encode(r)))
      .toDF("base_offset", "frame")
  }

  /** Ingest reference-layout tiered-storage OBJECTS — the interop read of a
    * range server's offloaded S3 objects (`data | 0x66 | sparse index |
    * footer`, components/object-storage/src/range_offload.rs:324-451). Each
    * row of `objects` carries the full object bytes in binary column `obj`;
    * framing is validated (footer magic, delimiter) and every record decoded
    * ON THE EXECUTORS — one task per object, the natural 100 TB unit (the
    * reference caps objects at a bounded size, so a million-object migration
    * is a million bounded tasks, no driver involvement). Base offsets are
    * re-assigned by the commit; `sortByEmbeddedOffset = true` range-sorts on
    * the objects' embedded base offsets first, so the original logical order
    * survives the re-assignment across objects. */
  def ingestObjects(spark: SparkSession, streamDir: String, objects: DataFrame,
                    epoch: Long, sortByEmbeddedOffset: Boolean = false): (Long, Long) = {
    import spark.implicits._
    val rows = objects.select(col("obj").cast(BinaryType)).as[Array[Byte]]
      .flatMap(bytes => graft.model.TieredObject.decodeAll(bytes))
    append(spark, streamDir, orderForIngest(rows.toDF(), sortByEmbeddedOffset), epoch)
  }

  // Embedded-offset global order for the interop ingests: the range-sort
  // must happen BEFORE append's normalize (which drops base_offset — commit
  // re-assigns offsets); range partitions land in key order, so partition
  // structure == global order and the commit's prefix sums preserve it.
  private def orderForIngest(df: DataFrame, sort: Boolean): DataFrame =
    if (!sort) df
    else df.repartitionByRange(
      math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4),
      col("base_offset")).sortWithinPartitions(col("base_offset"))

  /** Ingest reference-layout WAL SEGMENTS — migration forensics over a
    * decommissioned range server's store directory
    * (components/store/src/io/record.rs:3-38 framing, wal.rs:166-244
    * recovery scan). Each row of `segments` carries `(wal_offset, seg)`:
    * the segment's base WAL offset (its filename, segment.rs:204-208) and
    * the raw bytes. Records are CRC-verified against the segment's own WAL
    * offset and scanned to the recovered write boundary — a torn tail is
    * dropped exactly like recovery drops it; record payloads are append
    * entries ([[graft.model.FlatRecordBatch]] frames) and decode to rows on
    * the executors, one task per segment (segments are fixed-size — 1 GiB
    * in the reference — so the migration is size-bounded per task). */
  def ingestWal(spark: SparkSession, streamDir: String, segments: DataFrame,
                epoch: Long, sortByEmbeddedOffset: Boolean = false): (Long, Long) = {
    import spark.implicits._
    val rows = segments
      .select(col("wal_offset").cast(LongType), col("seg").cast(BinaryType))
      .as[(Long, Array[Byte])]
      .flatMap { case (walOffset, bytes) =>
        graft.model.WalSegment.scanSegment(bytes, walOffset).payloads
          .flatMap(p => graft.model.FlatRecordBatch.decodeAll(p))
      }
    append(spark, streamDir, orderForIngest(rows.toDF(), sortByEmbeddedOffset), epoch)
  }

  /** Export committed data `[start, end)` as reference-layout tiered-storage
    * OBJECTS — the migration-OUT twin of [[ingestObjects]]: each output row
    * carries one complete object (`data | 0x66 | sparse index | footer`,
    * components/object-storage/src/range_offload.rs:324-451) whose data block
    * is back-to-back FlatRecordBatch entries, directly readable by the
    * reference's object_reader.rs and re-ingestible by [[ingestObjects]].
    *
    * Objects roll at `maxObjectBytes` — a SOFT cap, exactly like the
    * offloader's `object_size` threshold (range_offload.rs:80-98): a batch is
    * never split, so one object may overshoot by at most one batch. Encoding
    * runs entirely on the executors (one task per scan partition, objects
    * bounded by the cap) — the 100 TB posture is a million bounded tasks, no
    * driver involvement. Each object is self-describing (`start_offset` =
    * its first batch's offset rides both the row and the sparse index), so
    * objects need no global order; `ingestObjects(sortByEmbeddedOffset =
    * true)` restores logical order on the way back in.
    *
    * Objects are RANGE-ALIGNED: a roll also happens at every `range_index`
    * change, because the reference offloads per range and keys objects by
    * (stream, range) — an exported object maps one-to-one onto a key the
    * reference's object manager could serve.
    *
    * @return columns `(stream_id LONG, range_index INT, start_offset LONG,
    *         end_offset LONG, data_len INT, obj BINARY)` — the
    *         [[graft.model.TieredObject.ObjectMeta]] fields the reference's
    *         offloader would COMMIT_OBJECT, plus the object bytes.
    */
  def exportObjects(spark: SparkSession, streamDir: String, start: Long = 0L,
                    end: Long = Long.MaxValue,
                    maxObjectBytes: Int = 128 * 1024 * 1024,
                    sparseBytes: Int = graft.model.TieredObject.DefaultSparseBytes): DataFrame = {
    import spark.implicits._
    encodeObjectRows(fetch(spark, streamDir, start, end).as[RecordBatchRow],
      maxObjectBytes, sparseBytes)
  }

  /** Executor-side object encoder shared by the batch export and the
    * streaming offload sink: record-batch rows (offset-sorted within each
    * partition here) roll into reference-layout objects at the soft cap,
    * and ALWAYS at a range boundary — the reference's offloader works
    * per-range (object_manager.rs keys objects by (stream, range)), so an
    * exported object never spans a `range_index` change. */
  private def encodeObjectRows(
      rows: org.apache.spark.sql.Dataset[RecordBatchRow],
      maxObjectBytes: Int, sparseBytes: Int): DataFrame = {
    require(maxObjectBytes > 0, "maxObjectBytes must be positive")
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .sortWithinPartitions("base_offset")
      .mapPartitions { it =>
        val rs = it.buffered
        new Iterator[(Long, Int, Long, Long, Int, Array[Byte])] {
          def hasNext: Boolean = rs.hasNext
          def next(): (Long, Int, Long, Long, Int, Array[Byte]) = {
            val startOff = rs.head.base_offset
            val sid = rs.head.stream_id
            val range = rs.head.range_index
            // roll on frameLength (property-pinned == encode(r).length): no
            // frame is materialized here — encodeRows streams each payload
            // straight into the object buffer, so the export never holds a
            // standalone frame copy of the corpus (the former per-frame
            // encode + copy-into-object measured ~23% GC on the head)
            val batch = Vector.newBuilder[graft.model.RecordBatchRow]
            var bytes = 0
            while (rs.hasNext && rs.head.range_index == range &&
              (bytes == 0 || bytes < maxObjectBytes)) {
              val r = rs.next()
              batch += r
              bytes += graft.model.FlatRecordBatch.frameLength(r)
            }
            val (obj, meta) = graft.model.TieredObject.encodeRows(
              batch.result(), startOff, sparseBytes)
            (sid, range, meta.startOffset, meta.endOffset, meta.dataLen, obj)
          }
        }
      }.toDF("stream_id", "range_index", "start_offset", "end_offset",
        "data_len", "obj")
  }

  /** Write exported-object rows as one raw file per object under `outDir`,
    * on the executors. Default key: `obj-<start20>-<end20>` (zero-padded so
    * a plain listing sorts by offset). `referenceKeys = true` uses the
    * reference offloader's own key scheme instead —
    * `<stream_id>-<range_index>/<start_offset>`
    * (components/object-storage/src/object_manager.rs:49-53; the export is
    * range-aligned, see [[encodeObjectRows]], so the key is exact).
    * Overwrites an existing key — offsets name the content, so a rewrite is
    * byte-identical and the write is idempotent. Returns objects written. */
  private def writeObjectFilesRows(objs: DataFrame, outDir: String,
                                   referenceKeys: Boolean = false): Long = {
    val spark = objs.sparkSession
    import spark.implicits._
    val confT = org.apache.spark.sql.graftshim.GraftShims.shippableHadoopConf(spark)
    objs.select("stream_id", "range_index", "start_offset", "end_offset", "obj")
      .as[(Long, Int, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        var n = 0L
        it.foreach { case (sid, range, s0, e0, bytes) =>
          val name =
            if (referenceKeys) s"$sid-$range/$s0"
            else f"obj-$s0%020d-$e0%020d"
          val p = new org.apache.hadoop.fs.Path(outDir, name)
          val fs = p.getFileSystem(confT())
          val out = fs.create(p, true)
          try out.write(bytes) finally out.close()
          n += 1
        }
        Iterator.single(n)
      }.collect().sum // bounded: one partial count per partition
  }

  /** Continuous offload — the reference's commit→offload pipeline
    * (components/object-storage/src/range_offload.rs driven by the commit
    * hook) as a Structured Streaming sink: new appends stream out of the
    * eslog source and every micro-batch's rows encode to reference-layout
    * objects under `outDir`, one raw file per object keyed by offset span
    * inside a per-trigger `batch-<id>/` directory.
    *
    * Replay safety: a retried micro-batch re-offers the same offsets, and
    * with unchanged session config the eslog source plans the same file
    * splits, so the rewrite is byte-identical key-for-key. But object ROLL
    * boundaries (hence keys) are partition-dependent — a replay planned
    * under different splits (a restart with changed `maxPartitionBytes`/
    * AQE conf) would produce different keys, and stale overlapping objects
    * would sit beside the new ones. Each trigger therefore owns its own
    * `batch-<id>` directory, DELETED before rewrite: a divergent replay
    * converges to exactly its own objects, and [[ingestObjectDir]]'s
    * recursive listing (+ embedded-offset sort) reads the bucket the same
    * as a flat layout. No index or commit log needed on the export side.
    *
    * `availableNow = true` drains the current head and terminates (the
    * catch-up/backfill mode); `false` runs continuously. Returns the
    * started query; the caller owns `awaitTermination`. */
  def offloadStream(spark: SparkSession, streamDir: String, outDir: String,
                    checkpointDir: String,
                    maxObjectBytes: Int = 128 * 1024 * 1024,
                    sparseBytes: Int = graft.model.TieredObject.DefaultSparseBytes,
                    maxOffsetsPerTrigger: Long = 0L,
                    availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val reader = spark.readStream.format("eslog")
    val src =
      (if (maxOffsetsPerTrigger > 0)
        reader.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      else reader).load(streamDir)
    val w = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val batchDir = join(outDir, s"batch-$batchId")
        // replay hygiene (see scaladoc): clear this trigger's directory so
        // a replay planned under different partition splits can never leave
        // stale overlapping objects next to its rewrite
        deleteRecursively(batchDir)
        val objs = encodeObjectRows(batch.as[RecordBatchRow],
          maxObjectBytes, sparseBytes)
        writeObjectFilesRows(objs, batchDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** Export committed data `[start, end)` as reference-layout WAL SEGMENTS —
    * the migration-OUT twin of [[ingestWal]]: fixed-size sealed segments in
    * the store's record framing (`CRC | Size(3B) | Type | Payload` +
    * Zero footer, components/store/src/io/record.rs:3-38), each WAL record
    * one FlatRecordBatch frame (one append's payload), fragmented into
    * First/Middle/Last chains past `blockSize`. Every segment is padded to
    * exactly `segmentBytes` and sealed, and WAL offsets are CONTIGUOUS
    * (`segment k` starts at `k * segmentBytes`) — the invariant the
    * reference's recovery scan expects of a store directory
    * (segment.rs:204-208 names files by accumulated offset). Segment
    * footers carry the true earliest/latest batch timestamps.
    *
    * Global segment numbering uses the same per-partition prefix-sum idiom
    * as the append path's offset assignment: pass 1 plans each partition's
    * segment count (exact frame lengths, no bytes retained), the driver
    * prefix-sums the bounded per-partition counts, pass 2 encodes. Both
    * passes run the SAME materialized plan, so partition contents are
    * identical by construction.
    *
    * @return columns `(wal_offset LONG, n_records LONG, seg BINARY)` —
    *         directly re-ingestible by [[ingestWal]].
    */
  def exportWal(spark: SparkSession, streamDir: String, start: Long = 0L,
                end: Long = Long.MaxValue, segmentBytes: Int = 64 * 1024 * 1024,
                blockSize: Int = graft.model.WalSegment.MaxRecordLen): DataFrame = {
    import spark.implicits._
    import graft.model.WalSegment
    val budget = segmentBytes - WalSegment.PrefixLen - WalSegment.FooterBodyLen
    require(budget > 0, s"segmentBytes $segmentBytes below the footer minimum")
    require(blockSize > 0, "blockSize must be positive")
    // physical bytes of one WAL record holding an L-byte payload: fragment
    // chains add one prefix per blockSize slice (record.rs:14-16)
    def physicalLen(payloadLen: Int): Int = {
      val nFrag = math.max(1L, (payloadLen.toLong + blockSize - 1) / blockSize)
      (nFrag * WalSegment.PrefixLen + payloadLen).toInt
    }
    // the roll plan both passes share: sizes in, per-segment record counts out
    def plan(lens: Iterator[Int]): Iterator[Int] = new Iterator[Int] {
      private val it = lens.buffered
      def hasNext: Boolean = it.hasNext
      def next(): Int = {
        var n = 0
        var body = 0L
        var more = true
        while (more && it.hasNext) {
          val p = physicalLen(it.head)
          require(p <= budget,
            s"one ${it.head}-byte record exceeds segmentBytes=$segmentBytes")
          if (n > 0 && body + p > budget) more = false
          else { it.next(); n += 1; body += p }
        }
        n
      }
    }
    // pin BOTH passes to ONE committed snapshot: a concurrent append landing
    // between the count pass and the encode pass would otherwise grow the
    // scan and shift the roll plan, colliding segment numbers
    val version = MetaLog.load(streamDir).version
    val ds = fetchAt(spark, streamDir, version, start, end)
      .sortWithinPartitions("base_offset")
      .as[RecordBatchRow]
    // pass 1: per-partition segment counts. Frame lengths come from the
    // size-only arithmetic simulation (FlatRecordBatch.frameLength, pinned
    // == encode(...).length by property test) — this pass never pays the
    // encode CPU; only pass 2 serializes each frame, once.
    val counts = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val lens = it.map(r => graft.model.FlatRecordBatch.frameLength(r))
      Iterator.single((pid, plan(lens).size.toLong))
    }.collect().toMap // bounded: one entry per partition
    val base: Map[Int, Long] = {
      var acc = 0L
      counts.toSeq.sortBy(_._1).map { case (pid, n) =>
        val b = acc; acc += n; (pid, b)
      }.toMap
    }
    val baseB = spark.sparkContext.broadcast(base)
    // pass 2: encode, wal_offset = global segment index * segmentBytes
    ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var segIdx = baseB.value.getOrElse(pid, 0L)
      val rows = it.buffered
      new Iterator[(Long, Long, Array[Byte])] {
        def hasNext: Boolean = rows.hasNext
        def next(): (Long, Long, Array[Byte]) = {
          val payloads = Vector.newBuilder[Array[Byte]]
          var n = 0
          var body = 0L
          var earliest = Long.MaxValue
          var latest = Long.MinValue
          var more = true
          while (more && rows.hasNext) {
            // fit-check on the arithmetic length; encode only on acceptance,
            // so every frame is serialized exactly once (a boundary row used
            // to be encoded again by the next segment's first probe)
            val p = physicalLen(graft.model.FlatRecordBatch.frameLength(rows.head))
            if (n > 0 && body + p > budget) more = false
            else {
              val r = rows.next()
              payloads += graft.model.FlatRecordBatch.encode(r); n += 1; body += p
              earliest = math.min(earliest, r.base_timestamp)
              latest = math.max(latest, r.base_timestamp)
            }
          }
          val walOffset = segIdx * segmentBytes
          segIdx += 1
          (walOffset, n.toLong, WalSegment.writeSegment(
            payloads.result(), walOffset, segmentSize = segmentBytes,
            blockSize = blockSize, earliestTs = earliest, latestTs = latest))
        }
      }
    }.toDF("wal_offset", "n_records", "seg")
  }

  /** [[exportObjects]] to the BUCKET layout itself: one raw file per object
    * under `outDir`, named `obj-<start20>-<end20>` (zero-padded so a plain
    * key listing sorts in offset order, the property the reference's
    * object key scheme relies on for range routing). Writes happen on the
    * executors through the session's Hadoop FS — `outDir` can be `file:/`,
    * `hdfs://` or `s3a://`. Returns the number of objects written. */
  def exportObjectFiles(spark: SparkSession, streamDir: String, outDir: String,
                        start: Long = 0L, end: Long = Long.MaxValue,
                        maxObjectBytes: Int = 128 * 1024 * 1024,
                        sparseBytes: Int = graft.model.TieredObject.DefaultSparseBytes,
                        referenceKeys: Boolean = false): Long =
    writeObjectFilesRows(
      exportObjects(spark, streamDir, start, end, maxObjectBytes, sparseBytes),
      outDir, referenceKeys)

  /** Ingest a directory of RAW reference tiered objects — one object per
    * file, the bucket layout a real deployment offloads to. Spark's
    * binaryFile source streams each file whole into one task; everything
    * after that is [[ingestObjects]]. */
  def ingestObjectDir(spark: SparkSession, streamDir: String, objDir: String,
                      epoch: Long, sortByEmbeddedOffset: Boolean = true): (Long, Long) = {
    // recursive: the reference's key scheme nests objects one level down
    // (`<stream>-<range>/<offset>`); flat layouts are unaffected
    val objs = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(objDir)
      .select(col("content").as("obj"))
    ingestObjects(spark, streamDir, objs, epoch, sortByEmbeddedOffset)
  }

  /** [[exportWal]] to the store-directory layout itself: one raw file per
    * segment under `outDir`, named by its base WAL offset in zero-padded
    * decimal — exactly how the reference's store names segment files
    * (components/store/src/io/segment.rs:204-208), so a decommissioned-node
    * forensics pass and this export produce interchangeable directories.
    * Returns the number of segments written. */
  def exportWalFiles(spark: SparkSession, streamDir: String, outDir: String,
                     start: Long = 0L, end: Long = Long.MaxValue,
                     segmentBytes: Int = 64 * 1024 * 1024,
                     blockSize: Int = graft.model.WalSegment.MaxRecordLen): Long = {
    import spark.implicits._
    val confT = org.apache.spark.sql.graftshim.GraftShims.shippableHadoopConf(spark)
    exportWal(spark, streamDir, start, end, segmentBytes, blockSize)
      .select("wal_offset", "seg")
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        var n = 0L
        it.foreach { case (off, bytes) =>
          val p = new org.apache.hadoop.fs.Path(outDir, f"$off%020d")
          val fs = p.getFileSystem(confT())
          val out = fs.create(p, true)
          try out.write(bytes) finally out.close()
          n += 1
        }
        Iterator.single(n)
      }.collect().sum
  }

  /** Ingest a store directory of RAW WAL segment files (names = base WAL
    * offsets in decimal, the reference's own naming): binaryFile streams
    * each segment to one task, the filename supplies the CRC-folded WAL
    * offset, and [[ingestWal]]'s recovery scan does the rest. */
  def ingestWalDir(spark: SparkSession, streamDir: String, walDir: String,
                   epoch: Long, sortByEmbeddedOffset: Boolean = true): (Long, Long) = {
    val segs = spark.read.format("binaryFile").load(walDir)
      .select(
        regexp_extract(col("path"), "([0-9]+)$", 1).cast(LongType).as("wal_offset"),
        col("content").as("seg"))
    ingestWal(spark, streamDir, segs, epoch, sortByEmbeddedOffset)
  }

  // ---- migration-in: offset-preserving backfill under imported metadata ----

  /** Boundary-aligned range partitioner for [[backfill]]: ascending cut
    * points (segment attach points + size-targeted internal splits);
    * partition p holds offsets in `[cuts(p), cuts(p+1))`, so no partition
    * ever straddles a segment boundary. */
  private final class OffsetCutPartitioner(cuts: Array[Long])
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = cuts.length
    def getPartition(key: Any): Int = {
      var i = java.util.Arrays.binarySearch(cuts, key.asInstanceOf[Long])
      if (i < 0) i = -i - 2
      math.max(0, i)
    }
  }

  /** Offset-PRESERVING ingest under imported segment boundaries — the data
    * half of migration-in. Where [[ingestObjects]]/[[ingestWal]] RE-ASSIGN
    * offsets through the normal append path (right for bootstrapping a fresh
    * stream), a real migration first ingests the PD's metadata snapshot
    * ([[EsCatalog.ingestPdSnapshot]] — stream config, range boundaries,
    * epochs, trim) and then needs the bucket/WAL data to land AT ITS
    * ORIGINAL OFFSETS inside those boundaries, so consumer-group positions,
    * time-index entries and offset-addressed readers keep working unmoved.
    *
    * Input rows must carry `base_offset` (embedded in the source's objects/
    * WAL frames); `payload`/`properties`/`last_offset_delta`/
    * `base_timestamp`/`flags` follow [[append]]'s normalize rules. Per row:
    *  - offsets below the trim point (pre-trim leftovers in the bucket) are
    *    DROPPED silently — the source already considered them gone;
    *  - offsets inside a segment's already-backfilled prefix are DROPPED
    *    (idempotent re-ingest of the same bucket);
    *  - offsets beyond the last imported boundary FAIL the job — data the
    *    metadata never declared is a mixed-up migration, not a tail;
    *  - holes FAIL the job, within a segment AND across segments: data for
    *    a later segment while an earlier sealed segment is not fully
    *    covered would commit rows beyond a scan-silent gap. Prefix-ordered
    *    incremental imports (today bucket A, tomorrow its continuation)
    *    remain legal.
    *
    * Scale shape: one boundary-aligned shuffle of the heavy rows. Planning
    * and validation decide with small rows and the heavy bytes move once
    * (optimization guide §8): the cut-planning pass, the per-partition stats
    * pass and ALL contiguity validation run over metadata-sized light rows
    * `(base_offset, last_offset_delta, base_timestamp)`. Rows classify to
    * segments executor-side against the broadcast boundary table
    * (metadata-scale); partition cut points align to segment attach points
    * plus size-targeted internal splits; contiguity is validated in-pass
    * (executor) and across partitions (driver) BEFORE any file is written.
    * The heavy input is then shuffled through the same partitioner and its
    * shuffle output read exactly once, by the write; the manifest commit is
    * one CAS carrying one [[graft.meta.BackfillFiles]] action per touched
    * segment.
    *
    * `statsInput` supplies the light rows: a caller that can derive them
    * WITHOUT materializing payloads (e.g. [[backfillObjects]]' frame-header
    * walk) passes them here. `None` projects the same three columns from
    * `input`, which then evaluates twice: once for the persisted light rows,
    * once for the shuffle map. Either way [[CommitTasks.auditedMetas]]
    * compares every written file's row count and offset span against the
    * light-derived stats, so a light/heavy divergence aborts the commit
    * before the CAS.
    *
    * @return number of record batches backfilled (0 = everything already
    *         present). */
  def backfill(spark: SparkSession, streamDir: String, input: DataFrame,
               epoch: Long,
               targetFileBytes: Long = DefaultTargetFileBytes,
               statsInput: Option[DataFrame] = None): Long = {
    val st = MetaLog.load(streamDir)
    if (st.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    if (epoch < st.epoch) throw new FencedException(s"backfill epoch $epoch < ${st.epoch}")
    require(st.segments.nonEmpty,
      s"backfill into $streamDir needs segments (EsCatalog.ingestPdSnapshot or open first)")

    // (index, start, endExclusive, attachPoint) per segment, start-ordered —
    // bounded by segment count (metadata-scale), broadcast below
    val spans = st.segments
      .map(s => (s.index, s.start, s.sealedEnd.getOrElse(Long.MaxValue), s.confirmedEnd))
      .sortBy(_._2).toArray
    val streamId = if (st.streamId >= 0) st.streamId else DefaultStreamId

    def have(n: String) = input.columns.exists(_.equalsIgnoreCase(n))
    require(have("base_offset"), "backfill requires embedded base_offset")
    def get(n: String, d: org.apache.spark.sql.Column) = if (have(n)) col(n) else d
    val batches = input.select(
      lit(streamId).as("stream_id"),
      get("flags", lit(0)).cast(ShortType).as("flags"),
      col("base_offset").cast(LongType).as("base_offset"),
      get("last_offset_delta", lit(1)).cast(IntegerType).as("last_offset_delta"),
      get("base_timestamp", lit(0L)).cast(LongType).as("base_timestamp"),
      get("properties", map()).cast(MapType(StringType, StringType)).as("properties"),
      col("payload").cast(BinaryType).as("payload"))
    val fileCountEst = sizeTargetedCount(batches, targetFileBytes)

    val offIdx = 2; val deltaIdx = 3; val tsIdx = 4
    val spansB = spark.sparkContext.broadcast(spans)
    // the position in `spans` of the segment holding `off`; -1 below the
    // trim point (the first segment's start)
    def segAt(starts: Array[Long], off: Long): Int = {
      val i = java.util.Arrays.binarySearch(starts, off)
      if (i >= 0) i else -i - 2
    }
    // classify by the embedded offset at column `off`: key the rows still
    // to backfill by it, drop pre-trim leftovers and a segment's backfilled
    // prefix, fail loudly beyond the last imported boundary
    def classified[T](rows: RDD[InternalRow], off: Int)(value: InternalRow => T): RDD[(Long, T)] =
      rows.mapPartitions { it =>
        val sp = spansB.value
        val starts = sp.map(_._2)
        it.flatMap { r =>
          val o = r.getLong(off)
          val i = segAt(starts, o)
          if (i < 0) None // below the trim point: the source dropped these
          else {
            val (idx, _, e0, attach) = sp(i)
            if (o >= e0)
              throw new OutOfOrderException(
                s"record at offset $o beyond the last imported boundary $e0 " +
                  s"(segment $idx) — data the metadata snapshot never declared")
            else if (o < attach) None // already backfilled: idempotent re-run
            else Some((o, value(r)))
          }
        }
      }

    // The light rows (off, (delta, ts)) every planning and validation step
    // runs over: the caller's `statsInput`, else the same columns projected
    // from the input. Materialized ONCE: two light jobs consume them (cut
    // planning, the stats shuffle) and their lineage usually re-reads the
    // heavy source bytes — without the persist each would decode the source
    // again. Rows are ~24 B per record batch (never payloads), spill-safe,
    // unpersisted before the heavy write below.
    val light = statsInput.getOrElse(batches).select(
      col("base_offset").cast(LongType),
      col("last_offset_delta").cast(IntegerType),
      col("base_timestamp").cast(LongType))
    val lightKept = classified(GraftShims.internalRdd(light), 0)(r => (r.getInt(1), r.getLong(2)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // pass 0: per-segment (count, minOff, maxEndOff) for split planning —
    // bounded output: partitions × segments
    val segAgg = lightKept.mapPartitions { it =>
      val starts = spansB.value.map(_._2)
      val m = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
      it.foreach { case (off, (d, _)) =>
        val si = segAt(starts, off)
        val end = off + d
        val cur = m.getOrElse(si, (0L, Long.MaxValue, Long.MinValue))
        m(si) = (cur._1 + 1, math.min(cur._2, off), math.max(cur._3, end))
      }
      m.iterator
    }.collect()
      .groupBy(_._1).map { case (si, parts) =>
        si -> ((parts.map(_._2._1).sum, parts.map(_._2._2).min, parts.map(_._2._3).max))
      }
    if (segAgg.isEmpty) { lightKept.unpersist(false); return 0L }
    val totalCnt = segAgg.values.map(_._1).sum

    // cut points: each segment's attach point, plus offset-uniform internal
    // splits proportional to its row share (offsets are near-dense, so
    // offset-uniform ≈ row-uniform)
    val totalFiles = fileCountEst.getOrElse(
      math.max(1L, totalCnt / 500000L).min(1 << 16).toInt)
    val cuts = Array.newBuilder[Long]
    spans.indices.foreach { si =>
      segAgg.get(si).foreach { case (cnt, mn, mx) =>
        val k = math.max(1, math.round(totalFiles.toDouble * cnt / totalCnt).toInt)
        val lo = math.max(mn, spans(si)._4)
        cuts += lo
        (1 until k).foreach(j => cuts += lo + (mx - lo) / k * j)
      }
    }
    val cutArr = cuts.result().distinct.sorted
    val partitioner = new OffsetCutPartitioner(cutArr)

    // pass 1 (stats + in-partition contiguity): one bounded row per
    // partition, from a metadata-sized shuffle of the light rows through
    // the SAME partitioner as the heavy one below (identical partition
    // membership by construction), so the heavy shuffle is read once, by
    // the write pass
    val partStats = lightKept.repartitionAndSortWithinPartitions(partitioner)
      .mapPartitionsWithIndex { (pid, it) =>
        val starts = spansB.value.map(_._2)
        var n = 0L; var minOff = -1L; var expect = -1L; var segIdx = -1
        var minTs = Long.MaxValue; var maxTs = Long.MinValue; var maxD = 0
        it.foreach { case (off, (d, ts)) =>
          if (n == 0L) { minOff = off; segIdx = segAt(starts, off) }
          else if (off != expect)
            throw new OutOfOrderException(
              s"gap inside backfill partition $pid: expected offset $expect, got $off")
          expect = off + d; n += 1
          if (d > maxD) maxD = d
          if (ts < minTs) minTs = ts
          if (ts > maxTs) maxTs = ts
        }
        if (n == 0L) Iterator.empty
        else Iterator.single((pid, segIdx, n, minOff, expect, minTs, maxTs, maxD))
      }.collect().sortBy(_._4)
    lightKept.unpersist(false)

    // driver validation BEFORE any file is written: per segment the
    // partition chain must attach exactly at the segment's confirmed end,
    // be gap-free across partitions, and respect the imported sealed end
    partStats.groupBy(_._2).foreach { case (si, parts) =>
      val ordered = parts.sortBy(_._4)
      val (idx, _, e0, attach) = spans(si)
      if (ordered.head._4 != attach)
        throw new OutOfOrderException(
          s"backfill of segment $idx starts at ${ordered.head._4}, " +
            s"confirmed end is $attach — gap or missing prefix in the source data")
      ordered.toSeq.sliding(2).foreach {
        case Seq(a, b) if a._5 != b._4 =>
          throw new OutOfOrderException(
            s"gap between backfill partitions of segment $idx: ${a._5} != ${b._4}")
        case _ => ()
      }
      if (e0 != Long.MaxValue && ordered.last._5 > e0)
        throw new OutOfOrderException(
          s"backfill of segment $idx runs to ${ordered.last._5}, past its sealed end $e0")
    }
    // CROSS-segment holes are rejected too: if a later segment receives
    // data in this call, every earlier sealed segment must end the call
    // FULLY covered — otherwise committed data would sit beyond a hole the
    // scan reports as empty (indistinguishable from deleted). Prefix-ordered
    // incremental imports stay legal; an out-of-order per-range bucket must
    // arrive in one call (backfillObjectDir) or in prefix order.
    val maxTouched = partStats.map(_._2).max
    (0 until maxTouched).foreach { si =>
      val (idx, _, e0, attach) = spans(si)
      val postEnd = partStats.filter(_._2 == si) match {
        case a if a.nonEmpty => a.map(_._5).max
        case _               => attach // untouched: coverage unchanged
      }
      if (postEnd != e0)
        throw new OutOfOrderException(
          s"backfill would leave a hole: segment $idx covered only to $postEnd " +
            s"of its sealed end $e0 while a later segment receives data — " +
            "supply the whole bucket, or import in prefix order")
    }

    // pass 2 (write): the heavy rows' one shuffle, read once, one parquet
    // file per partition
    val outRel = s"backfill/${UUID.randomUUID().toString.take(8)}"
    val shuffled = classified(GraftShims.internalRdd(batches), offIdx)(_.copy())
      .repartitionAndSortWithinPartitions(partitioner)
    val assigned = shuffled.mapPartitions { it =>
      val sp = spansB.value
      val starts = sp.map(_._2)
      it.map { case (off, r) =>
        val values = new Array[Any](8)
        values(0) = if (r.isNullAt(0)) null else r.getLong(0)
        values(1) = sp(segAt(starts, off))._1
        values(2) = if (r.isNullAt(1)) null else r.getShort(1)
        values(3) = off
        values(4) = r.getInt(deltaIdx)
        values(5) = if (r.isNullAt(tsIdx)) null else r.getLong(tsIdx)
        values(6) = if (r.isNullAt(5)) null else r.getMap(5)
        values(7) = if (r.isNullAt(6)) null else r.getBinary(6)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values): InternalRow
      }
    }
    val files = CommitTasks.writeAudited(spark, assigned, streamDir, outRel, CommitTasks.BlockBytes,
      partStats.toSeq.map { case (pid, _, n, mn, end, minTs, maxTs, maxD) =>
        (pid, n, mn, end, minTs, maxTs, maxD)
      })
    try {
      // one BackfillFiles per touched segment, all in ONE CAS commit
      val bySeg = partStats.map(p => p._4 -> p._2).toMap // minOff -> segIdx
      val actions = files.groupBy(f => spans(bySeg(f.startOffset))._1)
        .toSeq.sortBy(_._1)
        .map { case (segIndex, fs) => BackfillFiles(segIndex, epoch, fs.sortBy(_.startOffset)) }
      MetaLog.commit(streamDir, st, actions)
      partStats.map(_._3).sum
    } catch {
      case scala.util.control.NonFatal(e) =>
        val landed = MetaLog.load(streamDir).allFiles.map(_.path).toSet
        if (!landed.exists(_.startsWith(outRel))) deleteRecursively(join(streamDir, outRel))
        throw e
    }
  }

  /** [[backfill]] from RAW reference tiered objects (the bucket a source
    * deployment offloaded to) — decode on the executors, offsets preserved. */
  def backfillObjects(spark: SparkSession, streamDir: String, objects: DataFrame,
                      epoch: Long): Long = {
    import spark.implicits._
    val objBytes = objects.select(col("obj").cast(BinaryType)).as[Array[Byte]]
    backfill(spark, streamDir,
      objBytes.flatMap(bytes => graft.model.TieredObject.decodeAll(bytes)).toDF(),
      epoch,
      // planning/stats/validation run over a frame-HEADER walk of the same
      // objects (no payload materialization) — the full decode then happens
      // exactly once, in the boundary-aligned shuffle's map stage
      statsInput = Some(
        objBytes.flatMap(bytes => graft.model.TieredObject.decodeOffsets(bytes))
          .toDF("base_offset", "last_offset_delta", "base_timestamp")))
  }

  /** [[backfillObjects]] over a bucket DIRECTORY (recursive, like
    * [[ingestObjectDir]] — the reference's nested key scheme). */
  def backfillObjectDir(spark: SparkSession, streamDir: String, objDir: String,
                        epoch: Long): Long = {
    val objs = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(objDir)
      .select(col("content").as("obj"))
    backfillObjects(spark, streamDir, objs, epoch)
  }

  /** [[backfill]] from RAW WAL segment rows `(wal_offset, seg)` — the
    * CRC-checked recovery scan of [[ingestWal]], offsets preserved. */
  def backfillWal(spark: SparkSession, streamDir: String, segments: DataFrame,
                  epoch: Long): Long = {
    import spark.implicits._
    backfill(spark, streamDir, segments
      .select(col("wal_offset").cast(LongType), col("seg").cast(BinaryType))
      .as[(Long, Array[Byte])]
      .flatMap { case (walOffset, bytes) =>
        graft.model.WalSegment.scanSegment(bytes, walOffset).payloads
          .flatMap(p => graft.model.FlatRecordBatch.decodeAll(p))
      }.toDF(), epoch)
  }

  /** [[backfillWal]] over a store DIRECTORY (names = base WAL offsets,
    * the reference's own naming — like [[ingestWalDir]]). */
  def backfillWalDir(spark: SparkSession, streamDir: String, walDir: String,
                     epoch: Long): Long = {
    val segs = spark.read.format("binaryFile").load(walDir)
      .select(
        regexp_extract(col("path"), "([0-9]+)$", 1).cast(LongType).as("wal_offset"),
        col("content").as("seg"))
    backfillWal(spark, streamDir, segs, epoch)
  }

  /** SEAL_RANGE on the open segment: fix `end` = confirmed end. */
  def seal(streamDir: String): StreamState =
    MetaLog.commitWithRetry(streamDir) { st =>
      st.openSegment.map(seg => SealSegment(seg.index, seg.confirmedEnd, st.epoch)).toSeq
    }

  // ---- read path ----

  /** The one read of stream files: `files` of `streamDir`'s manifest as
    * Spark's native Parquet relation over
    * [[org.apache.spark.sql.graftshim.EsLogManifestFileIndex]], cut to
    * `bounds` by [[org.apache.spark.sql.graftshim.EsLogRowBounds]]' exact
    * residual wherever a file reaches past them. Every read of stream files
    * plans this relation: fetch, the time lookups, `format("eslog")`, the
    * streaming source, HotCache loads and compaction's input. */
  private[graft] def filesRelation(spark: SparkSession, streamDir: String, files: Seq[FileMeta],
                                   bounds: Option[OffsetBounds] = None,
                                   options: Map[String, String] = Map.empty): BaseRelation =
    EsLogManifestFileIndex.relation(spark, streamDir, files.map(manifestFile(streamDir, _)),
      RecordBatchRow.schema, options, bounds)

  /** [[filesRelation]] as a frame, its bounds already a Filter. */
  private[graft] def readFiles(spark: SparkSession, streamDir: String, files: Seq[FileMeta],
                               bounds: Option[OffsetBounds] = None): DataFrame =
    GraftShims.dfFromRelation(spark, filesRelation(spark, streamDir, files, bounds))

  private def manifestFile(dir: String, f: FileMeta, streamId: Long = -1L): ManifestFile =
    ManifestFile(join(dir, f.path), f.bytes, f.startOffset, f.endOffset,
      f.minTimestamp, f.maxTimestamp, f.maxDelta, streamId, f.rows)

  /** fetch [start, end): returns whole batches whose span intersects the
    * request (straddle semantics, api/Stream.java:36-44), bounded by the
    * trim offset and the committed next offset.
    *
    * `maxBytesHint` mirrors the reference's third fetch argument
    * (api/Stream.java:36-44, rpc.fbs:302-321): the scanned range is
    * truncated at file granularity so the selected files' byte sum stays
    * within the hint, always admitting at least one file — a soft cap, like
    * the reference's, since a single batch may exceed it. <= 0 disables. */
  def fetch(spark: SparkSession, streamDir: String, start: Long = 0L,
            end: Long = Long.MaxValue, maxBytesHint: Long = 0L): DataFrame =
    fetchState(spark, streamDir, MetaLog.load(streamDir), start, end, maxBytesHint)

  /** Time travel: fetch against the state as of metadata-log version
    * `version` (the versioned log IS a history — WATCH revisions double as
    * snapshot ids). Data files are immutable, so a snapshot stays readable
    * for as long as its files live; trim's vacuum, compaction's swap and
    * DELETE_STREAM physically remove files and thereby invalidate snapshots
    * older than those operations — the same contract as Delta's VACUUM. */
  def fetchAt(spark: SparkSession, streamDir: String, version: Long,
              start: Long = 0L, end: Long = Long.MaxValue): DataFrame =
    fetchState(spark, streamDir, MetaLog.loadAt(streamDir, version), start, end, 0L)

  /** Full committed scan as of log version `version` (see [[fetchAt]]). */
  def scanAt(spark: SparkSession, streamDir: String, version: Long): DataFrame =
    fetchAt(spark, streamDir, version)

  /** Resolve `TIMESTAMP AS OF` to a metadata-log version: the newest
    * snapshot none of whose committed files carries data past `tsMs`.
    *
    * DATA-time semantics, deliberately: the metadata log records no wall
    * clock (the reference's stream metadata doesn't either — its time
    * surface is the record-timestamp index behind fetchByTime/
    * offsetForTimestamp, api/Stream.java), so "the stream as of time T"
    * here means "every snapshot record's timestamp is <= T" — the same
    * notion of time [[fetchByTime]] and [[offsetForTimestamp]] already
    * expose, and the manifest's per-file `maxTimestamp` answers it in one
    * O(versions) driver fold with no data read. Files without timestamp
    * info (maxTimestamp <= 0) never advance the clock. A timestamp before
    * any committed data resolves to the created-but-empty snapshot (no
    * record has ts <= T — the table WAS empty at that clock); it throws
    * only when the stream's very first version already commits later-
    * stamped data (ingest/backfill of a pre-built manifest). */
  def versionForTimestamp(streamDir: String, tsMs: Long): Long = {
    var best = -1L
    var maxSeen = Long.MinValue
    MetaLog.actionsSince(streamDir, -1L).foreach { case (v, actions) =>
      actions.foreach { a =>
        val files = a match {
          case c: CommitFiles => c.files
          case b: BackfillFiles => b.files
          case r: ReplaceFiles => r.added
          case _ => Seq.empty
        }
        files.foreach(f => if (f.maxTimestamp > 0) maxSeen = math.max(maxSeen, f.maxTimestamp))
      }
      if (maxSeen <= tsMs || maxSeen == Long.MinValue) best = v
    }
    if (best < 0) throw new IllegalArgumentException(
      s"no snapshot of $streamDir at or before timestamp $tsMs ms: the " +
        "earliest committed data already carries later record timestamps " +
        "(eslog TIMESTAMP AS OF is record-time, the same clock as fetchByTime)")
    best
  }

  /** CLONE: copy a stream — metadata log AND the data files its snapshot
    * references — into a fresh dir (Delta's deep CLONE; cheap here because
    * both halves are immutable, so "copy" needs no coordination with
    * writers and a clone of a LIVE stream is a consistent prefix). With
    * `version`, the clone's head is that snapshot — history BELOW the head
    * rides along in the log, readable insofar as its files are shared with
    * the head (the same contract vacuum imposes on the source itself).
    *
    * The clone is fully independent after the copy: append/trim/vacuum/
    * delete on either side never touches the other. Source and destination
    * resolve their stores separately, so a local stream can clone onto an
    * object store (or back) in one call. File copy is one executor-parallel
    * job over the manifest's relative paths — O(live bytes), no driver
    * byte-shuffling, layout preserved so every row-group stat and offset
    * bound survives verbatim. */
  def cloneStream(spark: SparkSession, srcDir: String, dstDir: String,
                  version: Long = -1L): StreamState = {
    val srcState = if (version < 0L) MetaLog.load(srcDir) else MetaLog.loadAt(srcDir, version)
    require(!srcState.deleted, s"cannot clone deleted stream $srcDir")
    // The not-a-stream-already guard runs OUTSIDE the cleanup scope: a
    // pre-existing destination must fail WITHOUT being touched — cleanup
    // may only ever remove state THIS call created.
    require(!MetaLog.exists(dstDir), s"$dstDir already has a metadata log")
    val upTo = if (version < 0L) srcState.version else version
    val rels = srcState.allFiles.map(_.path)
    // Failure atomicity (append's delete-before-rethrow discipline): a copy
    // racing the source's vacuum/compaction sweep can lose a referenced
    // file mid-clone — the half-written destination is cleaned before
    // rethrow so a retry works instead of tripping the log guard forever.
    // Cleanup is TARGETED (the cloned log + exactly the file paths this
    // call copies), never a recursive delete of dstDir: unrelated
    // pre-existing content under the destination is not ours to remove.
    try {
      MetaLog.cloneLog(srcDir, dstDir, upTo)
      if (rels.nonEmpty) {
        val conf = org.apache.spark.sql.graftshim.GraftShims.shippableHadoopConf(spark)
        val (s, d) = (srcDir, dstDir)
        spark.sparkContext
          .parallelize(rels, math.min(rels.size, spark.sparkContext.defaultParallelism))
          .foreach { rel =>
            val sp = hpath(MetaLog.join(s, rel))
            val dp = hpath(MetaLog.join(d, rel))
            val c = conf()
            org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(c), sp, dp.getFileSystem(c), dp,
              false /* deleteSource */, true /* overwrite */, c)
          }
      }
      MetaLog.load(dstDir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        MetaLog.dropLog(dstDir) // routed-store logs are invisible to the FS delete
        val fs = dataFs(dstDir)
        fs.delete(hpath(MetaLog.join(dstDir, MetaLog.LogDirName)), true)
        rels.foreach(rel => fs.delete(hpath(MetaLog.join(dstDir, rel)), false))
        throw e
    }
  }

  /** Incremental batch read: the rows appended BETWEEN two log versions —
    * `(confirmed end at fromVersion, confirmed end at toVersion]` on the
    * offset axis, read against the `toVersion` snapshot. The batch sibling
    * of the streaming source's offset tracking (a batch-incremental ETL
    * checkpoints the log version instead of running a continuous query —
    * Delta's CDF shape, free here because the stream is append-only).
    *
    * Deliberately OFFSET-delimited, not file-diffed: compaction rewrites
    * files without changing rows, so a file set difference would re-deliver
    * rewritten rows; the offset high-water marks are invariant under
    * compaction. Reading AT `toVersion` keeps the slice stable however far
    * the live log advances. A `fromVersion` older than retention still
    * yields only still-live offsets (trim truncates the low end, same
    * contract as [[fetchAt]]). */
  def scanDelta(spark: SparkSession, streamDir: String,
                fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val lo = MetaLog.loadAt(streamDir, fromVersion).nextOffset
    val hi = MetaLog.loadAt(streamDir, toVersion).nextOffset
    fetchAt(spark, streamDir, toVersion, lo, hi)
  }

  /** Earliest readable offset whose record timestamp is >= `tsMs` — the
    * ListOffsets-by-timestamp lookup (Kafka's `offsetsForTimes`; the
    * reference stores `base_timestamp` in every RecordBatchMeta,
    * components/protocol/fbs/model.fbs:6-36, and its manifest-level
    * min/max timestamps are the time index). Returns `nextOffset` when no
    * such record exists (probe beyond the newest data — "start at the live
    * head", the same convention Kafka's consumer uses for a miss).
    *
    * Scale: data files are disjoint in offset space, so the answer can only
    * live in the lowest-offset file whose `maxTimestamp >= tsMs` — any
    * higher file starts past that file's whole span, and any lower file has
    * no qualifying row at all. The lookup therefore reads ONE file (two
    * columns of it), regardless of stream size; the manifest does the rest.
    * (Sole exception: a file straddling the trim offset whose qualifying
    * rows were all trimmed falls through to the next candidate — at most
    * one extra read, only ever on the stream's head-trimmed first file.)
    * Event time need not be monotonic in offset order for this to be exact —
    * it is min(base_offset) over READABLE qualifying rows, computed from the
    * first file that can contain it. */
  def offsetForTimestamp(spark: SparkSession, streamDir: String, tsMs: Long): Long = {
    val st = MetaLog.load(streamDir)
    if (st.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    val cands = st.filesInRange(st.startOffset, st.nextOffset)
      .filter(_.maxTimestamp >= tsMs).sortBy(_.startOffset)
    val readable = Some(OffsetBounds(st.startOffset, st.nextOffset))
    cands.foreach { f =>
      val m = readFiles(spark, streamDir, Seq(f), readable)
        .where(col("base_timestamp") >= tsMs)
        .agg(min("base_offset")).head()
      if (!m.isNullAt(0)) return math.max(st.startOffset, m.getLong(0))
    }
    st.nextOffset
  }

  /** Time-windowed fetch: all readable batches with
    * `fromMs <= base_timestamp < untilMs`. File pruning happens on the
    * manifest's per-file min/max timestamps BEFORE any scan is planned (the
    * role [[enforceRetention]] already uses them for), and `base_timestamp`
    * is a physical Parquet column, so the residual range predicate also
    * prunes row groups inside the surviving files — two layers of skipping
    * with zero data read outside the window (tight when ingestion is
    * roughly time-ordered or the segment was compacted `clusterBy` time).
    * Trim semantics match [[fetch]]: a batch wholly below the trim offset
    * is gone even if its timestamp qualifies. */
  def fetchByTime(spark: SparkSession, streamDir: String,
                  fromMs: Long, untilMs: Long): DataFrame = {
    val st = MetaLog.load(streamDir)
    if (st.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    val metas =
      if (fromMs >= untilMs) Nil
      else st.filesInRange(st.startOffset, st.nextOffset)
        .filter(f => f.maxTimestamp >= fromMs && f.minTimestamp < untilMs)
    readFiles(spark, streamDir, metas, Some(OffsetBounds(st.startOffset, st.nextOffset)))
      .where(col("base_timestamp") >= fromMs && col("base_timestamp") < untilMs)
  }

  private def fetchState(spark: SparkSession, streamDir: String, st: StreamState,
                         start: Long, end: Long, maxBytesHint: Long): DataFrame = {
    if (st.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    val lo = math.max(start, st.startOffset)
    var hi = math.min(end, st.nextOffset)
    if (maxBytesHint > 0) {
      val inRange = st.filesInRange(lo, hi).sortBy(_.startOffset)
      var acc = 0L
      var cap = lo
      var stop = false
      inRange.foreach { f =>
        if (!stop) {
          if (acc == 0L || acc + f.bytes <= maxBytesHint) {
            acc += f.bytes; cap = math.min(hi, f.endOffset)
          } else stop = true
        }
      }
      if (inRange.nonEmpty) hi = cap
    }
    val metas = if (lo >= hi) Nil else st.filesInRange(lo, hi)
    val bounds = OffsetBounds(lo, hi)
    // Byte source: the HotCache may serve some of the pruned files from
    // executor memory (same file set, same residual — bit-identical rows);
    // otherwise the one manifest relation ([[readFiles]]): pushed
    // offset/timestamp predicates prune FILES before planning, sizeInBytes
    // feeds broadcast decisions from real manifest stats, and an unbounded
    // count(*) collapses to a metadata answer
    // ([[org.apache.spark.sql.graftshim.EsLogMetadataOnlyCount]]). The
    // residual is added only where a file reaches past [lo, hi). See
    // [[HotCache]].
    HotCache.split(spark, streamDir, st, metas) match {
      case Some((hotDfs, cold)) =>
        val coldDf = if (cold.isEmpty) Nil else Seq(readFiles(spark, streamDir, cold))
        GraftShims.withinBounds((hotDfs ++ coldDf).reduce(_ union _),
          metas.map(manifestFile(streamDir, _)), bounds)
      case None => readFiles(spark, streamDir, metas, Some(bounds))
    }
  }

  /** Full committed scan (snapshot-isolated: bound to nextOffset at plan time). */
  def scan(spark: SparkSession, streamDir: String): DataFrame =
    fetch(spark, streamDir)

  /** Multi-stream scan: N streams' committed files behind ONE native parquet
    * relation via a combined manifest [[org.apache.spark.sql.graftshim.EsLogManifestFileIndex]].
    * An N-way union of per-stream relations costs O(N) driver-side analysis
    * and an N-leaf plan tree — a planning bottleneck at the 10⁴ streams a
    * catalog can register (this is the Spark shape of the reference's
    * server-side secondary range index, which answers multi-range listings
    * from one indexed scan rather than N point lookups,
    * pd/pkg/server/storage/endpoint/range.go:24-33). Here N streams cost one
    * FileIndex and one scan node regardless of N.
    *
    * Per-stream pruning still works — every manifest entry carries its
    * stream's id and offset/timestamp stats, so a `stream_id = X` or
    * offset/time bound drops whole files before the scan. Correctness of the
    * straddle-trim edge is preserved per stream: a file straddling its
    * stream's trim offset gets an exact `stream_id`-scoped residual filter
    * (rare — only streams trimmed mid-file; untouched streams contribute no
    * residual at all). */
  private[graft] def scanStates(spark: SparkSession,
                                rootDir: String,
                                streams: Seq[(String, StreamState)]): DataFrame = {
    val live = streams.filterNot(_._2.deleted)
    val manifest = live.flatMap { case (dir, st) =>
      st.filesInRange(st.startOffset, st.nextOffset).map(manifestFile(dir, _, st.streamId))
    }
    if (manifest.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RecordBatchRow.schema)
    val base = GraftShims.dfFromRelation(spark,
      EsLogManifestFileIndex.relation(spark, rootDir, manifest,
        RecordBatchRow.schema, Map.empty))
    // Exact straddle residual, per mid-file-trimmed stream only: batches
    // whose span ends at or before the trim offset are no longer readable
    // (fetchState applies the same predicate on the single-stream path).
    val straddled = live.collect {
      case (_, st) if st.allFiles.exists(f => f.startOffset < st.startOffset) => st
    }
    straddled.foldLeft(base) { (df, st) =>
      df.where(col("stream_id") =!= st.streamId ||
        col("base_offset") + col("last_offset_delta") > st.startOffset)
    }
  }

  /** Range-limited multi-stream scan: each stream contributes exactly its
    * `[lo, hi)` slice, all behind ONE manifest-backed relation (the
    * [[scanStates]] shape — one scan node regardless of stream count). The
    * per-stream offset residual is applied as a BROADCAST equi-join against
    * a tiny `(stream_id, lo, hi)` bounds table rather than an OR-chain of
    * per-stream predicates — at 10⁴ streams an OR-chain is a 10⁴-node
    * expression tree (the planning bottleneck all over again, in the
    * filter), while the bounds join is one hash lookup per row regardless
    * of N. The residual matters because compaction may merge files across
    * old slice boundaries: a merged file can straddle `lo`, so file pruning
    * alone over-delivers. `initial = true` applies fetch's trim-straddle
    * form (`base_offset + last_offset_delta > lo`) instead of the
    * batch-aligned `base_offset >= lo`. */
  private[graft] def scanStatesSlices(spark: SparkSession, rootDir: String,
      slices: Seq[(String, StreamState, Long, Long, Boolean)]): DataFrame = {
    val live = slices.filter { case (_, st, lo, hi, _) => !st.deleted && lo < hi }
    val manifest = live.flatMap { case (dir, st, lo, hi, _) =>
      st.filesInRange(lo, hi).map(manifestFile(dir, _, st.streamId))
    }
    if (manifest.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], RecordBatchRow.schema)
    val base = GraftShims.dfFromRelation(spark,
      EsLogManifestFileIndex.relation(spark, rootDir, manifest,
        RecordBatchRow.schema, Map.empty))
    val boundRows = live.map { case (_, st, lo, hi, initial) =>
      Row(st.streamId, lo, hi, initial)
    }
    val boundSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_sid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_lo", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_hi", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_init", org.apache.spark.sql.types.BooleanType)))
    val bounds = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(boundRows).asJava, boundSchema)
    base.join(broadcast(bounds), col("stream_id") === col("_sid"))
      .where(col("base_offset") < col("_hi") &&
        when(col("_init"), col("base_offset") + col("last_offset_delta") > col("_lo"))
          .otherwise(col("base_offset") >= col("_lo")))
      .select(RecordBatchRow.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Typed scan: the record-batch relation as `Dataset[RecordBatchRow]`. */
  def scanTyped(spark: SparkSession, streamDir: String): org.apache.spark.sql.Dataset[RecordBatchRow] = {
    import spark.implicits._
    scan(spark, streamDir).as[RecordBatchRow]
  }

  def startOffset(streamDir: String): Long = MetaLog.load(streamDir).startOffset
  def nextOffset(streamDir: String): Long = MetaLog.load(streamDir).nextOffset

  /** Compaction — the file-size rolling policy (the reference's
    * RangeAccumulator, range_accumulator.rs:37-98, with its 128 MiB object
    * target): rewrite each sealed segment's files into ~targetBytes files and
    * swap them in the manifest atomically ([[graft.meta.ReplaceFiles]]).
    * Readers are never blocked: files are immutable, the swap is one CAS
    * commit, and replaced files are left for [[vacuum]]'s grace-protected
    * sweep by default (`deferDelete`) — a reader pinned on the pre-swap
    * manifest keeps its files for the same horizon trim gives it. At 100 TB
    * this is what keeps a long-lived stream from accumulating unbounded
    * small files.
    *
    * `clusterBy` makes the rewrite LAYOUT-AWARE (the lakehouse
    * OPTIMIZE..ZORDER shape): files are still assigned by base_offset range
    * — file-level offset pruning, contiguity and the footer audit are
    * untouched — but rows inside each file are re-sorted by the given
    * expressions (e.g. `Layout.zValue(...)` or a plain timestamp). Row-group
    * stats then turn tight on the cluster dimensions, so pushed filters on
    * them skip row groups a purely offset-sorted layout has to read — the
    * fix for "late/out-of-order data scrambled time locality". `blockBytes`
    * bounds the parquet row-group size: the skip granularity.
    */
  def compact(spark: SparkSession, streamDir: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
              blockBytes: Long = 16L * 1024 * 1024,
              deferDelete: Boolean = true): StreamState = {
    var st = MetaLog.load(streamDir)
    st.segments.filter(s => s.sealed_ && s.files.size > 1).foreach { seg =>
      val totalBytes = seg.files.map(_.bytes).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      if (nOut < seg.files.size) {
        // Stats pass + write pass share ONE Tungsten plan, same recipe as
        // append: the range shuffle executes once and is reused; rows are
        // written unchanged (offsets are stable across compaction), so no
        // per-row mapping at all.
        val sortCols = if (clusterBy.nonEmpty) clusterBy else Seq(col("base_offset"))
        val internal = GraftShims.internalRdd(
          readFiles(spark, streamDir, seg.files)
            .repartitionByRange(nOut, col("base_offset"))
            .sortWithinPartitions(sortCols: _*))
        val stats = internal.mapPartitionsWithIndex { (pid, it) =>
          var n = 0L; var minOff = Long.MaxValue; var maxEnd = Long.MinValue
          var minTs = Long.MaxValue; var maxTs = Long.MinValue; var maxD = 0
          it.foreach { r =>
            n += 1
            val off = r.getLong(3); val d = r.getInt(4); val ts = r.getLong(5)
            if (off < minOff) minOff = off
            if (off + d > maxEnd) maxEnd = off + d
            if (ts < minTs) minTs = ts
            if (ts > maxTs) maxTs = ts
            if (d > maxD) maxD = d
          }
          Iterator((pid, n, minOff, maxEnd, minTs, maxTs, maxD))
        }.collect().filter(_._2 > 0).sortBy(_._1)

        val outRel = f"seg-${seg.index}%05d/compact-${UUID.randomUUID().toString.take(8)}"
        val outAbs = join(streamDir, outRel)
        // an audit failure deletes the rewrite before the swap
        val added = CommitTasks.writeAudited(spark, internal, streamDir, outRel, blockBytes, stats.toSeq)
        val removed = seg.files.map(_.path)
        st = MetaLog.commitWithRetry(streamDir) { cur =>
          // revalidate against the current state: segment must still hold
          // exactly the files we rewrote (a concurrent trim would change it)
          val curSeg = cur.segments.find(_.index == seg.index)
          if (curSeg.exists(_.files.map(_.path) == removed))
            Seq(ReplaceFiles(seg.index, removed, added))
          else Seq.empty
        }
        if (st.segments.find(_.index == seg.index).exists(_.files.map(_.path) == added.map(_.path))) {
          if (!deferDelete)
            removed.foreach(rel => dataFs(streamDir).delete(hpath(join(streamDir, rel)), false))
          // deferDelete (default): the replaced files stay on disk,
          // unreferenced, until vacuum() sweeps them after its grace period
          // — a reader pinned on the pre-swap manifest keeps its files for
          // the same horizon trim gives it (files are immutable, so the
          // read stays CORRECT; only reclamation is deferred). This is the
          // delayed-GC discipline of every production table format.
        } else {
          // lost the race — drop the rewritten copy instead
          deleteRecursively(outAbs)
        }
      }
    }
    st
  }

  /** close_stream: seal the open segment, releasing the writer session
    * (replication_stream.rs:297-311 — fail inflight, seal last range). */
  def close(streamDir: String): StreamState = seal(streamDir)

  /** Garbage-collect data files the manifest does not reference: a writer
    * that crashed between writing its part files and committing leaves an
    * unreachable staging directory behind (the in-process failure paths
    * clean up after themselves, but a killed JVM cannot). Only files older
    * than `graceMs` are deleted, so an in-flight append's staging files —
    * written but not yet committed — are never swept. Returns deleted paths.
    *
    * Reads one manifest snapshot first and deletes only files that existed
    * before it: anything committed concurrently is newer than the snapshot
    * and is never touched. */
  def vacuum(streamDir: String, nowMs: Long, graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val st = MetaLog.load(streamDir)
    val live: Set[String] = st.allFiles.map(_.path).toSet
    val fs = dataFs(streamDir)
    val root = fs.makeQualified(hpath(streamDir))
    if (!fs.exists(root)) return Seq.empty
    val rootStr = root.toString
    val cutoff = nowMs - graceMs
    def relOf(p: org.apache.hadoop.fs.Path): String =
      p.toString.stripPrefix(rootStr).stripPrefix("/")
    def inLog(rel: String): Boolean =
      rel == MetaLog.LogDirName || rel.startsWith(MetaLog.LogDirName + "/") ||
        // the symlink-manifest export is a deliberate artifact, not debris
        rel == "_symlink_format_manifest" ||
        rel.startsWith("_symlink_format_manifest/")
    // Hadoop writer debris: `_SUCCESS` job markers in committed dirs are
    // harmless and kept; `.X.crc` sidecars are invisible through the
    // (checksummed) FileSystem listing and deleted implicitly with their
    // companion X by fs.delete.
    def sweepable(rel: String, name: String): Boolean =
      if (name == "_SUCCESS" || name.startsWith("._")) false
      else if (name.startsWith(".") && name.endsWith(".crc")) {
        val companion = rel.stripSuffix(name) + name.stripPrefix(".").stripSuffix(".crc")
        !live.contains(companion)
      } else !live.contains(rel)
    val deleted = Seq.newBuilder[String]
    val files = scala.collection.mutable.ArrayBuffer[(org.apache.hadoop.fs.Path, String, Long)]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = relOf(f.getPath)
      if (!inLog(rel)) files += ((f.getPath, rel, f.getModificationTime))
    }
    files.foreach { case (p, rel, mtime) =>
      if (sweepable(rel, p.getName) && mtime < cutoff && fs.delete(p, false))
        deleted += rel
    }
    // Drop now-empty staging/segment directories (bottom-up). The same mtime
    // grace applies to directories: a concurrent append's just-created, still
    // -empty staging dir must not be swept out from under its writer.
    def dirsUnder(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).filter(_.isDirectory).toSeq
        .flatMap(d => dirsUnder(d.getPath) :+ d)
    dirsUnder(root)
      .filterNot(d => inLog(relOf(d.getPath)))
      .filter(_.getModificationTime < cutoff)
      .foreach { d =>
        if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
      }
    deleted.result()
  }

  /** Retention enforcement (components/model/src/stream/mod.rs:5-21:
    * `retention_period` drives trim): advance the trim point past every file
    * whose newest record is older than `now - retentionMs`. Time→offset
    * resolution uses the per-file maxTimestamp already in the manifest, so
    * this is a pure metadata operation — no data scan at any scale. */
  def enforceRetention(streamDir: String, nowMs: Long): StreamState = {
    val st = MetaLog.load(streamDir)
    if (st.retentionMs < 0) return st
    val cutoff = nowMs - st.retentionMs
    // Trim only the contiguous expired PREFIX (Kafka retention semantics):
    // event time need not be monotonic in offset order, and trimming past a
    // fresh file because a later file expired would vacuum in-retention data.
    val prefix = st.allFiles.sortBy(_.startOffset).takeWhile(_.maxTimestamp < cutoff)
    if (prefix.isEmpty) return st
    trim(streamDir, prefix.last.endOffset)
  }

  /** Size-based retention — the `retention.bytes` sibling of
    * [[enforceRetention]]'s time policy: advance the trim point past the
    * oldest contiguous files while the stream's live bytes exceed
    * `maxBytes`. File-granularity (a file is dropped whole or kept whole),
    * metadata-only like every trim (reclamation rides vacuum's grace
    * sweep), and the NEWEST file always survives — a stream never trims
    * its own tail. Pure manifest arithmetic: no data scan at any scale. */
  def enforceRetentionBytes(streamDir: String, maxBytes: Long): StreamState = {
    require(maxBytes >= 0, s"maxBytes must be >= 0, got $maxBytes")
    val st = MetaLog.load(streamDir)
    val files = st.allFiles.sortBy(_.startOffset)
    if (files.isEmpty) return st
    var total = files.map(_.bytes).sum
    var cut = st.startOffset
    var i = 0
    while (total > maxBytes && i < files.size - 1) {
      total -= files(i).bytes; cut = files(i).endOffset; i += 1
    }
    if (cut <= st.startOffset) st else trim(streamDir, cut)
  }

  /** Row-count retention: keep (at least) the newest `keepRows` rows,
    * trimming older whole files — the deterministic twin of
    * [[enforceRetentionBytes]] (row counts are exact manifest facts where
    * byte sizes depend on encoding). Keeps the smallest file SUFFIX whose
    * row sum reaches `keepRows`; like the byte policy, file-granular,
    * metadata-only, and the newest file always survives. */
  def enforceRetentionRows(streamDir: String, keepRows: Long): StreamState = {
    require(keepRows >= 0, s"keepRows must be >= 0, got $keepRows")
    val st = MetaLog.load(streamDir)
    val files = st.allFiles.sortBy(_.startOffset)
    if (files.isEmpty) return st
    var kept = 0L
    var cut = st.startOffset
    var i = files.size - 1
    while (i >= 0 && (kept < keepRows || i == files.size - 1)) {
      kept += files(i).rows; i -= 1
    }
    if (i >= 0) cut = files(i).endOffset
    if (cut <= st.startOffset) st else trim(streamDir, cut)
  }

  // ---- KV surface (PD-hosted etcd-like store: rpc.fbs:780-931, KVClient.java:9-33) ----

  def putKV(streamDir: String, key: String, value: String): Unit =
    MetaLog.commitWithRetry(streamDir) { _ => Seq(KvPut(key, value)) }

  def getKV(streamDir: String, key: String): Option[String] =
    MetaLog.load(streamDir).kv.get(key)

  def delKV(streamDir: String, key: String): Unit =
    MetaLog.commitWithRetry(streamDir) { st => if (st.kv.contains(key)) Seq(KvDel(key)) else Seq.empty }

  /** Range scan [from, until) in key order (etcd RangeRequest, rpc.fbs:780-822).
    * `until = None` means unbounded — no sentinel max-key string, so keys that
    * sort at or above U+FFFF are still covered by a full scan. */
  def rangeKV(streamDir: String, from: String = "",
              until: Option[String] = None): Seq[(String, String)] =
    MetaLog.load(streamDir).kv.toSeq
      .filter { case (k, _) => k >= from && until.forall(k < _) }
      .sortBy(_._1)

  /** DELETE_RANGE [from, until) (etcd DeleteRangeRequest, rpc.fbs:780-931):
    * one ranged tombstone action ([[graft.meta.KvDelRange]]) deletes every
    * key in the range atomically — a reader folds either none or all of the
    * deletions, and the log entry is O(1) in the number of covered keys (a
    * million-key range delete is one action, not a million materialized
    * [[graft.meta.KvDel]]s). `until = None` deletes to the end of the
    * keyspace. No-keys-in-range is a no-op commit. */
  def delRangeKV(streamDir: String, from: String, until: Option[String]): Unit =
    MetaLog.commitWithRetry(streamDir) { st =>
      if (st.kv.keys.exists(k => k >= from && until.forall(k < _)))
        Seq(KvDelRange(from, until))
      else Seq.empty
    }

  /** etcd-parity transaction (TxnRequest, rpc.fbs:904-931): iff EVERY guard
    * in `compares` holds against the current state, apply `onSuccess`,
    * otherwise apply `onFailure`. Guards ([[graft.meta.KvValueIs]] /
    * [[graft.meta.KvPresent]] / [[graft.meta.KvAbsent]]) and the chosen op
    * list are evaluated and committed as ONE atomic CAS unit — a contended
    * retry re-evaluates the guards against the fresh state. Ops: `Some(v)` =
    * put, `None` = del. Returns whether the compares held. */
  def txnKV(streamDir: String, compares: Seq[KvGuard],
            onSuccess: Seq[(String, Option[String])],
            onFailure: Seq[(String, Option[String])]): Boolean = {
    var ok = false
    MetaLog.commitWithRetry(streamDir) { st =>
      ok = compares.forall(_.holds(st.kv))
      (if (ok) onSuccess else onFailure)
        .map { case (k, Some(v)) => KvPut(k, v); case (k, None) => KvDel(k) }
    }
    ok
  }

  /** Single value-compare convenience: iff `key`'s current value equals
    * `expect` (None = absent), apply `ops` atomically. */
  def txnKV(streamDir: String, key: String, expect: Option[String],
            ops: Seq[(String, Option[String])]): Boolean =
    txnKV(streamDir,
      Seq(expect.map(KvValueIs(key, _)).getOrElse(KvAbsent(key))),
      onSuccess = ops, onFailure = Seq.empty)

  // ---- consumer-group committed offsets (on the KV surface) ----

  /** Key prefix for consumer-group positions. A reserved prefix (not a
    * separate store): group offsets ride the SAME CAS commit protocol as
    * every other KV write, so a commit is atomic with any other metadata the
    * consumer stores in the same transaction. */
  val GroupKeyPrefix = "__group/"
  private def groupKey(group: String): String = {
    require(group.nonEmpty && !group.contains("/"),
      s"group name must be non-empty and '/'-free: '$group'")
    GroupKeyPrefix + group
  }

  /** The group's committed position (the next offset it will read), if any.
    *
    * This is the consumer-group shape the reference's PD KV store exists to
    * serve — "used by compute layers (e.g. Kafka-on-ES) for their own
    * metadata" (SURVEY §1.1; rpc.fbs:780-931) — done as a first-class
    * helper: Kafka's OffsetFetch against __consumer_offsets. */
  def groupOffset(streamDir: String, group: String): Option[Long] =
    getKV(streamDir, groupKey(group)).map(_.toLong)

  /** Commit a group's position with CAS fencing (Kafka's OffsetCommit with
    * generation checking): the commit applies iff the current stored
    * position equals `expected` (`None` = no position yet). A consumer that
    * lost a rebalance race — another instance advanced the position since it
    * read — gets `false` and must re-read instead of silently clobbering the
    * winner's progress. Offsets must be monotone per group under this
    * protocol by construction: a successful CAS chain never goes back. */
  def commitGroupOffset(streamDir: String, group: String, offset: Long,
                        expected: Option[Long]): Boolean =
    txnKV(streamDir, groupKey(group), expected.map(_.toString),
      Seq(groupKey(group) -> Some(offset.toString)))

  /** Consumer-group lag surface — the Kafka admin query (`describe-groups`
    * / `kafka-consumer-groups --describe`) every operator of a long-running
    * pipeline runs first: per group, the committed position against the
    * stream head, BOTH read from ONE snapshot (a per-value read could pair
    * a stale position with a fresher head and report phantom lag). One row
    * `(grp, committed, position, next_offset, lag)` per group; with `group`
    * given, exactly that group (uncommitted => `committed=false`, position
    * = start of stream, lag = the whole backlog it would consume);
    * otherwise every group committed on the stream, name-ordered. */
  def groupLags(spark: SparkSession, streamDir: String,
                group: Option[String] = None): DataFrame = {
    val st = MetaLog.load(streamDir)
    val head = st.nextOffset
    val groups: Seq[(String, Option[Long])] = group match {
      case Some(g) => Seq(g -> st.kv.get(groupKey(g)).map(_.toLong))
      case None => st.kv.toSeq.collect {
        case (k, v) if k.startsWith(GroupKeyPrefix) =>
          k.stripPrefix(GroupKeyPrefix) -> Some(v.toLong)
      }.sortBy(_._1)
    }
    val rows = groups.map { case (g, p) =>
      val pos = p.getOrElse(st.startOffset)
      Row(g, p.isDefined, pos, head, head - pos)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("grp", StringType, nullable = false),
      StructField("committed", BooleanType, nullable = false),
      StructField("position", LongType, nullable = false),
      StructField("next_offset", LongType, nullable = false),
      StructField("lag", LongType, nullable = false))))
  }

  /** Read everything from the group's committed position (start of stream if
    * none) to the current head, returning the frame plus the head offset to
    * pass to [[commitGroupOffset]] AFTER processing succeeds — the
    * at-least-once consume loop:
    * {{{
    *   val (df, upTo, prev) = EsLog.readGroup(spark, dir, "etl")
    *   process(df)                                   // may be retried
    *   EsLog.commitGroupOffset(dir, "etl", upTo, prev) // commit last
    * }}}
    * Exactly-once needs the processing to be idempotent or transactional
    * with the commit — the same contract every offset-tracking consumer
    * (including Spark's own streaming sink) lives with. */
  def readGroup(spark: SparkSession, streamDir: String,
                group: String): (DataFrame, Long, Option[Long]) = {
    // position and head from ONE snapshot: a second load could observe a
    // position another consumer committed past this snapshot's head and
    // misreport a plain race as corruption
    val st = MetaLog.load(streamDir)
    val prev = st.kv.get(groupKey(group)).map(_.toLong)
    val from = prev.getOrElse(st.startOffset)
    checkGroupPosition(group, from, st.nextOffset)
    (fetchState(spark, streamDir, st, from, st.nextOffset, 0L), st.nextOffset, prev)
  }

  /** A committed position can only ever come from an observed head, so a
    * position BEYOND the head means the source stream was dropped and
    * recreated (offsets restarted) or the position was corrupted — fail
    * loudly instead of silently consuming nothing forever (the same
    * generation-identity discipline the catalog subscription's vector
    * offset enforces by stream id). */
  private def checkGroupPosition(group: String, from: Long, head: Long): Unit =
    require(from <= head,
      s"group '$group' position $from is beyond the source head $head — " +
        "source stream recreated or position corrupted; reset the position explicitly")

  /** Exactly-once consume-process-produce between two streams — the Kafka
    * transactions role (sendOffsetsToTransaction), re-expressed on the commit
    * protocol with no coordinator: the source group's new position rides the
    * SAME CAS commit as the destination's data files ([[append]]'s
    * `extraActions`), so a crash at any point either lands both or neither.
    * On restart, the position read from the DESTINATION's KV says where to
    * resume in the source — reprocessing never duplicates output.
    *
    * What makes one-log atomicity sufficient: the destination is
    * epoch-fenced single-writer, so a zombie instance of a fenced
    * generation cannot commit a stale batch + position (its append throws
    * [[graft.meta.FencedException]] before anything lands). This is the
    * "store offsets where you store output" pattern (the reference's PD KV
    * exists exactly for compute layers' own metadata, rpc.fbs:780-931) —
    * no two-phase commit, because there is only one commit.
    *
    * `process` sees the `[position, head)` slice; its output needs a
    * `payload` column ([[append]]'s contract). An all-filtered (empty)
    * output still advances the position (a separate commit — safe: either
    * order of crash re-reads an empty slice and emits nothing). Returns the
    * consumed span `(from, upTo)`. */
  def consumeProcessProduce(spark: SparkSession, srcDir: String, dstDir: String,
                            group: String, epoch: Long,
                            sortKey: Option[String] = None)
                           (process: DataFrame => DataFrame): (Long, Long) = {
    val key = groupKey(group)
    val srcSt0 = MetaLog.load(srcDir)
    if (srcSt0.deleted) throw new IllegalStateException(s"stream $srcDir deleted")
    val prev0 = getKV(dstDir, key)
    val from = prev0.map(_.toLong).getOrElse(srcSt0.startOffset)
    // A same-epoch rival can advance the position past OUR source snapshot
    // (its head read was fresher) between the two loads above — that is a
    // benign race, not corruption. Re-load the source once before letting
    // checkGroupPosition conclude the latter: heads only grow, so a
    // position still beyond the FRESH head is genuine (stream recreated).
    // (Surfaced by the FanInProtocol enumeration — the stale-head schedule
    // used to die with a "reset the position explicitly" misdiagnosis.)
    val srcSt = if (from > srcSt0.nextOffset) MetaLog.load(srcDir) else srcSt0
    val upTo = srcSt.nextOffset
    checkGroupPosition(group, from, upTo)
    if (upTo <= from) return (from, from)
    val out = process(fetchState(spark, srcDir, srcSt, from, upTo, 0L))
    // The position put is GUARDED on the position we read (etcd-compare in
    // the same CAS commit): two same-epoch instances racing the same slice
    // can otherwise both append — double-produce. The loser of this guard
    // gets ConcurrentCommitException instead (epoch fencing already blocks
    // cross-generation zombies; the guard closes the same-epoch race).
    val (a, b) = append(spark, dstDir, out, epoch, sortKey = sortKey,
      extraActions = Seq(KvPut(key, upTo.toString)),
      extraGuards = Seq(prev0.map(KvValueIs(key, _)).getOrElse(KvAbsent(key))))
    // Empty processed batch: append fenced the epoch, then returned without
    // committing (no files => no extraActions) — advance the position alone
    // so the loop cannot spin on an all-filtered slice. The advance must be
    // as guarded as the data path: epoch-fenced (a stalled zombie must not
    // move a fenced generation's position) AND CAS'd on the position we
    // read (a concurrent advance wins; rewinding it would re-deliver its
    // slice — the exactly-once violation). Both checks evaluate against the
    // fresh state inside the CAS commit.
    if (b == a) MetaLog.commitWithRetry(dstDir) { st =>
      if (epoch < st.epoch)
        throw new FencedException(s"group advance epoch $epoch < ${st.epoch}")
      if (st.kv.get(key) == prev0) Seq(KvPut(key, upTo.toString)) else Seq.empty
    }
    (from, upTo)
  }

  /** Per-source position group name of a fan-in pipeline: positions are
    * keyed by SOURCE IDENTITY (the stream id), not by list order, so
    * re-ordering the source list or adding a source never mis-resumes an
    * existing one — the (group, topic-partition) discipline of Kafka's
    * __consumer_offsets. Each is an ordinary group, readable by
    * [[groupOffset]] / the lag surface. */
  def fanInGroup(group: String, streamId: Long): String = s"$group@src$streamId"

  /** Fan-in exactly-once ETL: N source streams merge into one destination,
    * with ALL N source positions and the destination's data files in ONE
    * CAS commit — the multi-source extension of [[consumeProcessProduce]]
    * (`extraActions` carries N puts; `extraGuards` carries N position
    * compares). A crash at ANY point — including "between sources", which
    * cannot exist as a commit boundary here — lands either everything or
    * nothing; replay re-reads exactly the unconsumed slices.
    *
    * Sources must carry distinct non-negative stream ids (create via
    * [[EsCatalog]] or `create(streamId = ...)`): ids key the positions
    * ([[fanInGroup]]). `process` receives the N slices in `srcDirs` order
    * (caught-up sources contribute an empty frame). Same-epoch races lose
    * the guard; fenced generations throw before anything lands. Returns
    * the consumed `(from, upTo)` span per source. */
  def consumeProcessProduceMulti(spark: SparkSession, srcDirs: Seq[String],
                                 dstDir: String, group: String, epoch: Long,
                                 sortKey: Option[String] = None)
                                (process: Seq[DataFrame] => DataFrame): Seq[(Long, Long)] = {
    require(srcDirs.nonEmpty, "fan-in needs at least one source")
    val srcSts0 = srcDirs.map(MetaLog.load)
    srcDirs.zip(srcSts0).foreach { case (d, s) =>
      if (s.deleted) throw new IllegalStateException(s"stream $d deleted") }
    val sids = srcSts0.map(_.streamId)
    require(sids.forall(_ >= 0) && sids.distinct.size == sids.size,
      s"fan-in sources must carry distinct non-negative stream ids (got $sids): " +
        "positions are keyed by source identity, not list order")
    val keys = sids.map(id => groupKey(fanInGroup(group, id)))
    // one destination snapshot for ALL positions: a per-key load could see
    // a torn view across another instance's atomic multi-put
    val dstKv = MetaLog.load(dstDir).kv
    val prevs = keys.map(dstKv.get)
    val froms = prevs.zip(srcSts0).map { case (p, s) =>
      p.map(_.toLong).getOrElse(s.startOffset) }
    // a rival advancing a position past OUR stale head snapshot is a race,
    // not corruption: re-load that source once before checkGroupPosition
    // concludes the latter (the single-source path's comment has the full
    // story; surfaced by the FanInProtocol enumeration)
    val srcSts = froms.lazyZip(srcSts0).lazyZip(srcDirs).map { case (f, s, d) =>
      if (f > s.nextOffset) {
        val s2 = MetaLog.load(d)
        // same deleted check the FIRST load applied: a stream deleted
        // between the two loads must fail here, not proceed into
        // checkGroupPosition with the tombstone state's nextOffset
        if (s2.deleted) throw new IllegalStateException(s"stream $d deleted")
        s2
      } else s }
    val upTos = srcSts.map(_.nextOffset)
    froms.lazyZip(upTos).lazyZip(sids).foreach { case (f, u, id) =>
      checkGroupPosition(s"$group@src$id", f, u) }
    val spans = froms.zip(upTos)
    if (spans.forall { case (f, u) => u <= f }) return froms.map(f => (f, f))
    val slices = srcDirs.lazyZip(srcSts).lazyZip(spans).map {
      case (d, s, (f, u)) => fetchState(spark, d, s, f, u, 0L) }
    val out = process(slices)
    val guards = keys.zip(prevs).map { case (k, p) =>
      p.map(KvValueIs(k, _)).getOrElse(KvAbsent(k)) }
    // only advanced positions are re-put (a caught-up source's position is
    // still GUARDED — its slice was [f, f) only if nothing moved it)
    val puts = keys.lazyZip(spans).collect {
      case (k, (f, u)) if u > f => KvPut(k, u.toString) }.toSeq
    val (a, b) = append(spark, dstDir, out, epoch, sortKey = sortKey,
      extraActions = puts, extraGuards = guards)
    // all-filtered output: advance the positions alone, with the same
    // epoch + compare discipline as the single-source path
    if (b == a) MetaLog.commitWithRetry(dstDir) { st =>
      if (epoch < st.epoch)
        throw new FencedException(s"group advance epoch $epoch < ${st.epoch}")
      if (keys.zip(prevs).forall { case (k, p) => st.kv.get(k) == p }) puts
      else Seq.empty
    }
    spans
  }

  /** Reserved KV key of a fan-out pipeline's in-flight intent (in the
    * SOURCE's KV) and per-destination applied marker (in each destination's
    * KV). Distinct prefixes from [[GroupKeyPrefix]] so the lag surface's
    * group scan never lists protocol bookkeeping as a consumer group.
    * The intent prefix is package-visible for the catalog-wide sweep
    * ([[EsCatalog.fanOutIntents]]). */
  private[eslog] val FanOutIntentPrefix = "__fanout/"
  private def fanOutIntentKey(group: String): String = FanOutIntentPrefix + group
  private def fanOutAppliedKey(group: String): String = s"__fanout-applied/$group"

  /** The in-flight fan-out intent for `group` on the source, if any — the
    * operator's stuck-pipeline probe: a long-lived intent means a crashed
    * or fenced run holds the next span; any instance (at a live epoch) can
    * adopt and complete it by re-running the job. Pairs with
    * [[groupLags]] on the source, which reports the committed position. */
  def fanOutIntent(srcDir: String, group: String): Option[(Long, Long)] =
    getKV(srcDir, fanOutIntentKey(group)).map { s =>
      val Array(f, u) = s.split(":", 2); (f.toLong, u.toLong)
    }

  /** Fan-OUT exactly-once ETL: ONE source slice routed to N destination
    * streams, every destination exactly-once — the dual of
    * [[consumeProcessProduceMulti]]. There is no single log whose CAS can
    * carry all N destinations' data, so the commit is coordinated the way
    * the reference's PD coordinates a two-phase seal
    * (`pd/pkg/server/cluster/range.go:127-186` — a coordinator FIXES an
    * outcome, participants idempotently converge to it):
    *
    *  1. **Intent** (source KV, CAS): fix the slice `[from, upTo)` as an
    *     intent record, guarded on the group position unchanged and no
    *     intent in flight. The span is now immutable — every instance that
    *     reads the intent re-derives exactly this slice.
    *  2. **Apply** (each destination, CAS + epoch fence): route the slice
    *     (`process(slice, i)`), append to destination `i` with the
    *     destination's applied-marker advance in the SAME commit, guarded
    *     on the marker's prior value — a replay of an already-applied
    *     intent skips on the marker; a same-epoch racing rival loses the
    *     guard; a fenced zombie generation throws before anything lands.
    *     Intents are strictly sequential per group (a new one is only cut
    *     after the last completed), so ONE marker per (group, destination)
    *     — O(1) bookkeeping, not O(intents).
    *  3. **Complete** (source KV, CAS): advance the group position to
    *     `upTo` and delete the intent, guarded on the intent being ours.
    *
    * A crash anywhere replays safely: before the intent — nothing
    * happened; mid-apply — the next run adopts the intent, already-applied
    * destinations skip on their marker, the rest apply; after all applies —
    * the next run completes the intent. "Crash between destinations"
    * exists as a code point but not as an OBSERVABLE state: each
    * destination's visibility flips atomically with its marker, and the
    * source position only moves after every marker has.
    *
    * `process` must be deterministic over the fixed slice (the replay
    * contract every exactly-once path here shares); outputs need a
    * `payload` column. Returns the consumed `(from, upTo)` span. */
  def consumeProcessProduceFanOut(spark: SparkSession, srcDir: String,
                                  dstDirs: Seq[String], group: String,
                                  epoch: Long, sortKey: Option[String] = None)
                                 (process: (DataFrame, Int) => DataFrame): (Long, Long) =
    fanOutRun(spark, srcDir, dstDirs, group, epoch, sortKey, _ => ())(process)

  /** [[consumeProcessProduceFanOut]] with a post-apply hook — the seam the
    * crash-injection suite uses to kill the job between destination
    * applies; production callers use the public overload (no-op hook). */
  private[graft] def fanOutRun(spark: SparkSession, srcDir: String,
                               dstDirs: Seq[String], group: String,
                               epoch: Long, sortKey: Option[String],
                               afterApply: Int => Unit)
                              (process: (DataFrame, Int) => DataFrame): (Long, Long) = {
    require(dstDirs.nonEmpty, "fan-out needs at least one destination")
    require(dstDirs.distinct.size == dstDirs.size,
      s"fan-out destinations must be distinct: $dstDirs")
    val posKey = groupKey(group)
    val intentKey = fanOutIntentKey(group)
    val appliedKey = fanOutAppliedKey(group)
    def parseSpan(s: String): (Long, Long) = {
      val Array(f, u) = s.split(":", 2); (f.toLong, u.toLong)
    }

    // phase 1: adopt the in-flight intent if one exists (recovery), else
    // cut a new one under CAS. Loop: a rival may land its intent first —
    // adopt it (idempotent applies make N concurrent appliers safe).
    var span: Option[(Long, Long)] = None
    var caughtUpAt = -1L
    while (span.isEmpty && caughtUpAt < 0) {
      val st = MetaLog.load(srcDir)
      if (st.deleted) throw new IllegalStateException(s"stream $srcDir deleted")
      st.kv.get(intentKey) match {
        case Some(s) => span = Some(parseSpan(s))
        case None =>
          val prev0 = st.kv.get(posKey)
          val from = prev0.map(_.toLong).getOrElse(st.startOffset)
          val upTo = st.nextOffset
          checkGroupPosition(group, from, upTo)
          if (upTo <= from) caughtUpAt = from
          else MetaLog.commitWithRetry(srcDir) { s2 =>
            // re-check against the commit snapshot: first writer wins, a
            // loser returns no actions and re-reads (outer loop)
            if (s2.kv.get(intentKey).isEmpty && s2.kv.get(posKey) == prev0)
              Seq(KvPut(intentKey, s"$from:$upTo"))
            else Seq.empty
          }
      }
    }
    if (caughtUpAt >= 0) return (caughtUpAt, caughtUpAt)
    val (from, upTo) = span.get
    val spanStr = s"$from:$upTo"

    // phase 2: apply to each destination, marker-idempotent
    val srcSt = MetaLog.load(srcDir)
    val slice = fetchState(spark, srcDir, srcSt, from, upTo, 0L)
    dstDirs.zipWithIndex.foreach { case (d, i) =>
      val dstSt = MetaLog.load(d)
      val prevApplied = dstSt.kv.get(appliedKey)
      // skip when the marker is AT or BEYOND our intent: spans are
      // sequential per group, so a marker from a later span means a rival
      // already completed ours and moved on — re-applying would
      // double-deliver (the marker guard alone can't catch it because the
      // rival's marker is a perfectly valid compare base)
      val alreadyApplied = prevApplied.exists(s => parseSpan(s)._1 >= from)
      if (!alreadyApplied) {
        val out = process(slice, i)
        val (a, b) = append(spark, d, out, epoch, sortKey = sortKey,
          extraActions = Seq(KvPut(appliedKey, spanStr)),
          extraGuards = Seq(prevApplied.map(KvValueIs(appliedKey, _))
            .getOrElse(KvAbsent(appliedKey))))
        // empty routed slice for this destination: advance the marker alone,
        // with the same epoch + compare discipline as the data path
        if (b == a) MetaLog.commitWithRetry(d) { s2 =>
          if (epoch < s2.epoch)
            throw new FencedException(s"fan-out apply epoch $epoch < ${s2.epoch}")
          if (s2.kv.get(appliedKey) == prevApplied) Seq(KvPut(appliedKey, spanStr))
          else Seq.empty
        }
        afterApply(i)
      }
    }

    // phase 3: complete — position advance + intent delete, one CAS. A
    // rival that completed first makes this a no-op (same outcome).
    MetaLog.commitWithRetry(srcDir) { s2 =>
      if (s2.kv.get(intentKey).contains(spanStr))
        Seq(KvPut(posKey, upTo.toString), KvDel(intentKey))
      else Seq.empty
    }
    (from, upTo)
  }

  /** Commit history as a DataFrame — the batch twin of the streaming
    * metadata watch (`option("watch","metadata")`): one row per committed
    * action, `version` being the snapshot id [[scanAt]] accepts. */
  def history(spark: SparkSession, streamDir: String): DataFrame = {
    val rows = MetaLog.actionsSince(streamDir, -1L).flatMap { case (v, actions) =>
      actions.zipWithIndex.map { case (a, i) => Row(v, i.toLong, a.action) }
    }
    spark.createDataFrame(rows.asJava,
      graft.sources.EsLogMetaWatchSource.schema)
  }

  /** Export a snapshot as a SYMLINK-FORMAT MANIFEST — the lakehouse interop
    * convention (Delta's `GENERATE symlink_format_manifest`, Hive's
    * SymlinkTextInputFormat): a text file of fully-qualified data-file URIs
    * under `_symlink_format_manifest/manifest`, so external engines
    * (Trino/Presto/Athena/Hive) can query the stream's committed snapshot
    * as a plain external table without understanding the metadata log.
    *
    * Semantics and caveats are Delta's exactly: the manifest is a SNAPSHOT
    * (re-generate after appends/compactions to advance it), readers get no
    * straddle-trim filtering (a mid-file-trimmed stream refuses to export
    * rather than hand external readers rows the log says are gone), and
    * vacuum's grace period is what keeps a just-exported manifest's files
    * alive while external readers use it. Pass `version` for a pinned
    * snapshot — pinned exports write to `manifest-v<version>` so a
    * backfill can never clobber the LIVE manifest external engines point
    * at. Returns the manifest file path. */
  def generateSymlinkManifest(streamDir: String, version: Long = -1L): String = {
    val st = if (version < 0L) MetaLog.load(streamDir) else MetaLog.loadAt(streamDir, version)
    if (st.deleted) throw new IllegalStateException(s"stream $streamDir deleted")
    require(!st.allFiles.exists(f => f.startOffset < st.startOffset),
      s"stream $streamDir is trimmed mid-file: an external reader would see " +
        "rows below the trim offset; compact() first to realign files")
    val fs = dataFs(streamDir)
    val root = fs.makeQualified(hpath(streamDir))
    val dir = new org.apache.hadoop.fs.Path(root, "_symlink_format_manifest")
    fs.mkdirs(dir)
    val name = if (version < 0L) "manifest" else s"manifest-v$version"
    val out = new org.apache.hadoop.fs.Path(dir, name)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".manifest.${UUID.randomUUID().toString.take(8)}.tmp")
    val lines = st.allFiles.sortBy(_.startOffset)
      .map(f => fs.makeQualified(hpath(join(streamDir, f.path))).toString)
      .mkString("", "\n", "\n")
    val os = fs.create(tmp, true)
    try os.write(lines.getBytes("UTF-8")) finally os.close()
    // Swap: an OVERWRITING rename (FileContext with Options.Rename.OVERWRITE)
    // where the FS supports it — external readers then see old-or-new with
    // no window where the manifest is missing. Stores without it fall back
    // to delete-then-rename (a brief transient-absence window a concurrent
    // reader can hit — retry-on-missing is the external contract there) and
    // finally to an in-place create; never a half-written list either way
    // (the content lands in the tmp file first).
    val renamed =
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(out.toUri, fs.getConf)
          .rename(tmp, out, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!renamed) {
      if (fs.exists(out)) fs.delete(out, false)
      if (!fs.rename(tmp, out)) {
        val os2 = fs.create(out, true)
        try os2.write(lines.getBytes("UTF-8")) finally os2.close()
        fs.delete(tmp, false)
      }
    }
    out.toString
  }

  /** Segment listing (LIST_RANGE, range.go:49-125) as a DataFrame. */
  def listSegments(spark: SparkSession, streamDir: String): DataFrame = {
    val st = MetaLog.load(streamDir)
    val rows = st.segments.map { s =>
      Row(st.streamId, s.index, s.start, s.sealedEnd.getOrElse(s.confirmedEnd),
        s.sealedEnd.isDefined, s.epoch, s.files.size.toLong, s.files.map(_.rows).sum,
        s.files.map(_.bytes).sum)
    }
    val schema = StructType(Seq(
      StructField("stream_id", LongType), StructField("seg_index", IntegerType),
      StructField("start_offset", LongType), StructField("end_offset", LongType),
      StructField("sealed", BooleanType), StructField("epoch", LongType),
      StructField("num_files", LongType), StructField("num_records", LongType),
      StructField("num_bytes", LongType)))
    spark.createDataFrame(rows.asJava, schema)
  }
}
