package graft.sources


import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.graftshim.{EsLogScanStrategy, OffsetBounds}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.eslog.EsLog
import graft.meta.{KvPut, MetaLog}
import graft.model.RecordBatchRow

/** `format("eslog")` — the DataSource registration for the ES-log table
  * format, wiring all four surfaces to the metadata-log core:
  *
  *  - batch read: manifest-pruned scan with offset/timestamp filter pushdown
  *    (the Spark face of the reference's BTreeMap range routing,
  *    replication_stream.rs:393-421);
  *  - batch write: epoch-fenced contiguous append (SaveMode.Append only —
  *    streams are append-only by definition);
  *  - streaming source: offset-tracked micro-batches with
  *    `maxOffsetsPerTrigger` rate limiting (fetch max_bytes/min_bytes
  *    semantics, rpc.fbs:302-321);
  *  - streaming sink: epoch-fenced, batch-id-idempotent append — the
  *    APPEND_TO_COMMITTED_OFFSET retry semantics (rpc.fbs:40-45) keyed by
  *    micro-batch id, committed atomically with the data files.
  */
class EsLogSourceProvider extends DataSourceRegister
    with RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "eslog"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("eslog requires a path (use .load(dir)/.option(\"path\", dir))"))

  // ---- batch ----

  /** Batch read: the manifest snapshot as Spark's NATIVE parquet relation
    * via a manifest-driven FileIndex (the Delta technique) — vectorized
    * reader, whole-stage codegen, columns pruned and filters pushed into
    * parquet, manifest stats feeding `sizeInBytes` for broadcast decisions.
    * No Row conversion anywhere.
    *
    * Row-level bounds the file-granular index can't express — an explicit
    * `startOffset`/`endOffset` fetch range (straddle semantics,
    * api/Stream.java:36-44), or a stream trimmed mid-file (sub-startOffset
    * batches still live inside a straddling file) — ride on the index, and
    * the optimizer rule [[org.apache.spark.sql.graftshim.EsLogRowBounds]]
    * puts fetch's exact residual above the same scan.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val dir = path(parameters)
    // time travel: .option("asOfVersion", v) pins the manifest snapshot
    val st = parameters.get("asOfVersion") match {
      case Some(v) => MetaLog.loadAt(dir, v.toLong)
      case None    => MetaLog.load(dir)
    }
    if (st.deleted) throw new IllegalStateException(s"stream $dir deleted")
    val lo = math.max(parameters.get("startOffset").map(_.toLong).getOrElse(st.startOffset),
      st.startOffset)
    val hi = math.min(parameters.get("endOffset").map(_.toLong).getOrElse(st.nextOffset),
      st.nextOffset)
    EsLog.filesRelation(sqlContext.sparkSession, dir,
      if (lo >= hi) Nil else st.filesInRange(lo, hi),
      Some(OffsetBounds(lo, hi)), parameters)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data: DataFrame): BaseRelation = {
    require(mode == SaveMode.Append || mode == SaveMode.ErrorIfExists,
      s"eslog is append-only; unsupported SaveMode $mode")
    val dir = path(parameters)
    val spark = sqlContext.sparkSession
    if (!MetaLog.exists(dir)) EsLog.create(dir,
      streamId = parameters.getOrElse("streamId", "0").toLong)
    val epoch = parameters.get("epoch").map(_.toLong)
      .getOrElse(MetaLog.load(dir).epoch)
    EsLog.append(spark, dir, data, epoch,
      sortKey = parameters.get("sortKey"),
      numPartitions = parameters.getOrElse("numPartitions", "0").toInt)
    createRelation(sqlContext, parameters)
  }

  // ---- streaming ----

  private def watchMode(parameters: Map[String, String]): Option[String] =
    parameters.get("watch").map(_.toLowerCase)

  /** Also registers [[org.apache.spark.sql.graftshim.EsLogScanStrategy]]
    * on the reading session: a query plans its micro-batches in a clone of
    * the session taken at `start()`, after this and before any batch. */
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), watchMode(parameters) match {
      case Some("metadata") => EsLogMetaWatchSource.schema
      case Some("registry") => EsLogRegistryWatchSource.schema
      case _ =>
        EsLogScanStrategy.register(sqlContext.sparkSession)
        RecordBatchRow.schema
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    watchMode(parameters) match {
      case Some("metadata") =>
        new EsLogMetaWatchSource(sqlContext.sparkSession, path(parameters))
      case Some("registry") =>
        new EsLogRegistryWatchSource(sqlContext.sparkSession, path(parameters))
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unknown watch mode '$other' (expected 'metadata' or 'registry')")
      case None if parameters.get("scan").exists(_.equalsIgnoreCase("catalog")) =>
        new EsLogCatalogStreamSource(sqlContext.sparkSession, path(parameters), parameters)
      case None =>
        new EsLogStreamSource(sqlContext.sparkSession, path(parameters), parameters)
    }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink =
    new EsLogStreamSink(sqlContext.sparkSession, path(parameters), parameters)
}

/** V1 streaming offset: "all records with base_offset < n are available". */
case class EsLogOffset(offset: Long) extends org.apache.spark.sql.execution.streaming.Offset {
  override def json(): String = offset.toString
}

/** Micro-batch source over a stream's committed offsets. Micro-batch
  * [start, end) contains exactly the batches whose base_offset falls inside —
  * strict partitioning, no straddle duplication across triggers.
  *
  * Implements the admission-control API (the FileStreamSource pattern) so
  * `maxOffsetsPerTrigger` rate limiting and `Trigger.AvailableNow` (drain to
  * a fixed point in rate-limited batches, then stop) both work. */
class EsLogStreamSource(spark: SparkSession, dir: String,
                        parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows, Offset => OffsetV2}

  private val maxOffsetsPerTrigger =
    parameters.get("maxOffsetsPerTrigger").map(_.toLong).filter(_ > 0)

  /** Fetch `max_bytes` semantics (rpc.fbs:302-321): cap a micro-batch at the
    * file-size sum from the manifest, always admitting at least one file. */
  private val maxBytesPerTrigger =
    parameters.get("maxBytesPerTrigger").map(_.toLong).filter(_ > 0)

  /** Position the stream starts from when no checkpoint exists.
    * `startingTimestamp` (epoch ms) resolves through the manifest time index
    * ([[graft.eslog.EsLog.offsetForTimestamp]] — one file read, Kafka's
    * `startingTimestamp` consumer option); mutually exclusive with
    * `startingOffsets`. */
  private val initial: Long = parameters.get("startingTimestamp") match {
    case Some(ts) =>
      require(!parameters.contains("startingOffsets"),
        "startingTimestamp and startingOffsets are mutually exclusive")
      graft.eslog.EsLog.offsetForTimestamp(spark, dir, ts.toLong)
    case None => parameters.getOrElse("startingOffsets", "earliest") match {
      case "earliest" => MetaLog.load(dir).startOffset
      case "latest"   => MetaLog.load(dir).nextOffset
      case n          => n.toLong
    }
  }

  // AvailableNow: a fixed drain target chosen at query start
  private var drainTarget: Option[Long] = None

  // last offset handed out; recovered via the first getBatch after restart
  private var lastEnd: Long = -1L

  private def offsetValue(o: OffsetV2): Long = o match {
    case e: EsLogOffset => e.offset
    case other => other.json().toLong // covers SerializedOffset after recovery
  }

  override def schema: StructType = RecordBatchRow.schema

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = {
    drainTarget = Some(MetaLog.load(dir).nextOffset)
  }

  override def reportLatestOffset(): OffsetV2 = EsLogOffset(MetaLog.load(dir).nextOffset)

  /** Backlog reporting (the REPORT_METRICS intent, rpc.fbs:607-637): how far
    * the query trails the stream's committed head, surfaced per batch in
    * `StreamingQueryProgress.sources[i].metrics`. */
  override def metrics(latestConsumedOffset: java.util.Optional[OffsetV2]): java.util.Map[String, String] = {
    val latest = MetaLog.load(dir).nextOffset
    val consumed =
      if (latestConsumedOffset.isPresent) offsetValue(latestConsumedOffset.get)
      else if (lastEnd >= 0) lastEnd
      else initial
    java.util.Map.of(
      "latestOffset", latest.toString,
      "backlogOffsets", math.max(0L, latest - consumed).toString)
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val st = MetaLog.load(dir)
    val base = Option(startOffset).map(offsetValue)
      .getOrElse(if (lastEnd >= 0) lastEnd else initial)
    val avail = drainTarget.getOrElse(st.nextOffset)
    var capped = limit match {
      case r: ReadMaxRows => math.min(avail, base + r.maxRows())
      case _              => avail
    }
    maxBytesPerTrigger.foreach { maxB =>
      val files = st.filesInRange(math.max(base, st.startOffset), capped).sortBy(_.startOffset)
      if (files.nonEmpty) {
        val cum = files.scanLeft((0L, base)) { case ((acc, _), f) =>
          (acc + f.bytes, math.min(capped, f.endOffset))
        }.tail
        val within = cum.takeWhile(_._1 <= maxB)
        val end = if (within.nonEmpty) within.last._2 else cum.head._2
        capped = math.min(capped, math.max(end, base))
      }
    }
    if (capped <= base) null else EsLogOffset(capped)
  }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val next = MetaLog.load(dir).nextOffset
    val base = if (lastEnd >= 0) lastEnd else initial
    val capped = maxOffsetsPerTrigger match {
      case Some(m) => math.min(next, base + m)
      case None    => next
    }
    if (capped <= base) None else Some(EsLogOffset(capped))
  }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val lo = start.map(o => o.json().toLong).getOrElse(initial)
    val hi = end.json().toLong
    lastEnd = math.max(lastEnd, hi)
    val st = MetaLog.load(dir)
    val effLo = math.max(lo, st.startOffset)
    // First micro-batch of a fresh checkpoint: fetch's straddle lower bound,
    // so a multi-offset batch trimmed mid-span is still delivered (its
    // readable records start at effLo but its base_offset sits below it).
    // Later micro-batches partition strictly on base_offset — the straddling
    // batch was already delivered by whichever trigger contained its base.
    val df = EsLog.readFiles(spark, dir,
      if (effLo >= hi) Nil else st.filesInRange(effLo, hi),
      Some(OffsetBounds(effLo, hi, straddle = start.isEmpty)))
    org.apache.spark.sql.graftshim.GraftShims.asStreamingDF(df)
  }

  override def stop(): Unit = ()
}

object EsLogMetaWatchSource {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("action", StringType, nullable = false)))
}

/** Offsets of a source whose offset is a MetaLog version (the two watch
  * sources): the latest committed version, or, under
  * `Trigger.AvailableNow`, the version pinned when the query starts, so
  * the query delivers every version up to it and then stops. */
abstract class MetaLogVersionSource(logDir: String) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, Offset => OffsetV2}

  private var pinned: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(MetaLog.latestVersion(logDir))

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val v = pinned.getOrElse(MetaLog.latestVersion(logDir))
    if (v < 0) None else Some(EsLogOffset(v))
  }
}

/** WATCH_RESOURCE (rpc.fbs:691-778): the stream's metadata log as a change
  * feed — one row per committed action, offset = log version. Revision-based
  * watch semantics fall out of the versioned log for free. */
class EsLogMetaWatchSource(spark: SparkSession, dir: String)
    extends MetaLogVersionSource(dir) {

  override def schema: StructType = EsLogMetaWatchSource.schema

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val after = start.map(_.json().toLong).getOrElse(-1L)
    val hi = end.json().toLong
    val rows = MetaLog.actionsSince(dir, after)
      .filter(_._1 <= hi)
      .flatMap { case (v, actions) =>
        actions.zipWithIndex.map { case (a, i) =>
          org.apache.spark.sql.Row(v, i.toLong, a.action)
        }
      }
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    org.apache.spark.sql.graftshim.GraftShims.asStreamingViaRdd(df)
  }

  override def stop(): Unit = ()
}

/** V1 streaming offset of the CATALOG source: per stream NAME, the pair
  * `[stream_id, next_offset]` — JSON with sorted keys so equal positions
  * serialize identically (offset equality is string equality after
  * recovery). The stream id is the IDENTITY: a name dropped and recreated
  * carries a fresh id, which is how the source distinguishes "same stream,
  * no progress" from "fresh stream whose head happens to equal the stale
  * position" — a head-only comparison cannot. */
case class EsLogCatalogOffset(
    offsets: scala.collection.immutable.SortedMap[String, (Long, Long)])
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json(): String = {
    val sb = new StringBuilder("{")
    var first = true
    offsets.foreach { case (n, (id, o)) =>
      if (!first) sb.append(',')
      first = false
      sb.append('"')
      n.foreach {
        case '\\'         => sb.append("\\\\")
        case '"'          => sb.append("\\\"")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x") // control chars
        case c            => sb.append(c)
      }
      sb.append("\":[").append(id).append(',').append(o).append(']')
    }
    sb.append('}').toString
  }
}

object EsLogCatalogOffset {
  import scala.collection.immutable.SortedMap

  def parse(json: String): SortedMap[String, (Long, Long)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, Object]])
    var out = SortedMap.empty[String, (Long, Long)]
    m.forEach { (k, v) =>
      v match {
        case l: java.util.List[_] if l.size == 2 =>
          out = out.updated(k, (l.get(0).asInstanceOf[Number].longValue(),
            l.get(1).asInstanceOf[Number].longValue()))
        case other => throw new IllegalStateException(
          s"catalog subscription offset entry '$k' is $other — expected the " +
            "[stream_id, next_offset] pair format; a checkpoint written by an " +
            "older (scalar-offset) build cannot be resumed, start a fresh " +
            "checkpoint")
      }
    }
    out
  }
}

/** Micro-batch source over EVERY stream of a catalog — subscribe to the
  * whole namespace as ONE stream (`option("scan", "catalog")` on the
  * catalog root). Rows carry `stream_id`; the offset is the vector of
  * per-stream next offsets ([[EsLogCatalogOffset]]).
  *
  * Composes the two catalog-scale pieces this engine already proves
  * separately: stream DISCOVERY is live (each getOffset re-lists the
  * registry, so streams created after the query starts begin contributing
  * from their first offset, and dropped streams stop cleanly), and each
  * micro-batch reads all streams' slices behind ONE manifest-backed scan
  * relation ([[graft.eslog.EsLog.scanStatesSlices]]) with the per-stream
  * offset residual applied by a broadcast bounds join — never N relations
  * or an N-term OR-chain. `maxOffsetsPerTrigger` rate-limits the TOTAL
  * offsets per batch, allocated across streams in sorted-name order
  * rotated by a per-trigger round-robin cursor (no starvation; the chosen
  * end vector is checkpointed, so replay never re-runs the allocation);
  * `maxBytesPerTrigger` is a single-stream option and is not supported
  * here. Offsets carry each stream's ID, so drop-and-recreate under the
  * same name is detected by identity, not position heuristics. */
class EsLogCatalogStreamSource(spark: SparkSession, root: String,
                               parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import scala.collection.immutable.SortedMap
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows, Offset => OffsetV2}
  import graft.eslog.{EsCatalog, EsLog}

  private val cat = new EsCatalog(root)
  private val maxOffsetsPerTrigger =
    parameters.get("maxOffsetsPerTrigger").map(_.toLong).filter(_ > 0)

  // AvailableNow: the fixed drain target chosen at query start
  private var drainTarget: Option[SortedMap[String, (Long, Long)]] = None
  // last offsets handed out; recovered via the first getBatch after restart
  private var last: Option[SortedMap[String, (Long, Long)]] = None
  // the sweep getOffset/latestOffset just paid, reusable by the same
  // trigger's getBatch when it covers every promised offset (files are
  // immutable and manifests append-only, so an older state that already
  // covers [.., hi) lists every file getBatch needs)
  @volatile private var sweepCache: Map[String, graft.meta.StreamState] = Map.empty

  private def liveStates(): Map[String, graft.meta.StreamState] = {
    val s = cat.namedStates().filterNot(_._2.deleted).toMap
    sweepCache = s
    s
  }

  private def heads(st: Map[String, graft.meta.StreamState]): SortedMap[String, (Long, Long)] =
    st.foldLeft(SortedMap.empty[String, (Long, Long)]) {
      case (m, (n, s)) => m.updated(n, (s.streamId, s.nextOffset))
    }

  private def offsetMap(o: OffsetV2): SortedMap[String, (Long, Long)] = o match {
    case c: EsLogCatalogOffset => c.offsets
    case other                 => EsLogCatalogOffset.parse(other.json())
  }

  override def schema: StructType = RecordBatchRow.schema

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(m => ReadLimit.maxRows(m)).getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = {
    drainTarget = Some(heads(liveStates()))
  }

  // round-robin cursor: which stream the next trigger's budget allocation
  // starts from (in-memory only — the chosen end vector is checkpointed, so
  // replay never re-runs the allocation)
  private var rr = 0

  /** Advance `base` toward `target`, spending at most `budget` offsets in
    * total. Streams are visited in sorted-name order ROTATED by a
    * per-trigger round-robin cursor: with a binding budget a hot
    * early-sorted stream would otherwise starve later names forever.
    * Streams absent from `base` start at their state's startOffset. A
    * target stream id DIFFERENT from the base entry's id means the name
    * was dropped and recreated (a fresh stream — offsets restart): the
    * position resets to the new stream's start so recreated data is
    * delivered, not pinned behind the stale position — identity-based, so
    * a fresh stream whose head already reached the stale position is still
    * detected. Names absent from the live `states` (dropped mid-drain
    * while a stale AvailableNow target still lists them) get NO new
    * promises — their base entry is carried unchanged, never advanced
    * toward a dead target. */
  private def advance(base: SortedMap[String, (Long, Long)],
                      target: SortedMap[String, (Long, Long)],
                      states: Map[String, graft.meta.StreamState],
                      budget: Long): SortedMap[String, (Long, Long)] = {
    var remaining = budget
    var out = base.filter { case (n, _) => target.contains(n) } // drop deleted
    val names = target.keys.toIndexedSeq // SortedMap => sorted
    val start = if (names.isEmpty) 0 else { val s = rr % names.size; rr += 1; s }
    (names.drop(start) ++ names.take(start)).foreach { n =>
      states.get(n).foreach { st => // no promises for vanished streams
        val (tid, h) = target(n)
        val b = out.get(n) match {
          case Some((bid, off)) if bid == tid => off
          case _                              => st.startOffset // new or recreated
        }
        val step = math.max(0L, math.min(h - b, remaining))
        remaining -= step
        out = out.updated(n, (tid, b + step))
      }
    }
    out
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val states = liveStates()
    val target = drainTarget.getOrElse(heads(states))
    val base = Option(startOffset).map(offsetMap).orElse(last)
      .getOrElse(SortedMap.empty[String, (Long, Long)])
    val budget = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _              => Long.MaxValue
    }
    val end = advance(base, target, states, budget)
    if (end == base && base.nonEmpty || end.isEmpty) null else EsLogCatalogOffset(end)
  }

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val states = liveStates()
    val base = last.getOrElse(SortedMap.empty[String, (Long, Long)])
    val end = advance(base, heads(states), states,
      maxOffsetsPerTrigger.getOrElse(Long.MaxValue))
    if (end == base && base.nonEmpty || end.isEmpty) None else Some(EsLogCatalogOffset(end))
  }

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val endMap = EsLogCatalogOffset.parse(end.json())
    val startMap = start.map(o => EsLogCatalogOffset.parse(o.json()))
      .getOrElse(SortedMap.empty[String, (Long, Long)])
    last = Some(last.map(l => endMap.foldLeft(l) { case (m, (n, e @ (id, o))) =>
      m.get(n) match {
        case Some((pid, po)) if pid == id => m.updated(n, (id, math.max(po, o)))
        case _                            => m.updated(n, e) // new generation wins
      }
    }).getOrElse(endMap))
    val cached = sweepCache
    val states =
      if (endMap.forall { case (n, (id, hi)) =>
            cached.get(n).exists(s => s.streamId == id && s.nextOffset >= hi) })
        cached // this trigger's getOffset sweep already covers every promised offset
      else liveStates() // recovery replay (no prior sweep in this process)
    val slices = endMap.toSeq.flatMap { case (name, (endId, hi)) =>
      states.get(name) match {
        case Some(st) if st.streamId == endId =>
          // a start entry from a DIFFERENT stream generation means the name
          // was dropped and recreated: read the fresh stream like a newly
          // discovered one (first-batch straddle semantics from its start)
          val initial = !startMap.get(name).exists(_._1 == endId)
          val lo =
            if (initial) st.startOffset
            else math.max(startMap(name)._2, st.startOffset)
          Some((cat.streamDir(name), st, lo, hi, initial))
        case other =>
          val lo = startMap.get(name).filter(_._1 == endId).map(_._2).getOrElse(0L)
          if (lo < hi) throw new IllegalStateException(
            s"catalog subscription: stream '$name' (id $endId) " +
              (if (other.isDefined) "was dropped and recreated" else "vanished") +
              s" with undelivered offsets [$lo, $hi) — its rows cannot be " +
              "recovered (exactly-once would be silently violated by skipping them)")
          None
      }
    }
    org.apache.spark.sql.graftshim.GraftShims.asStreamingViaRdd(
      EsLog.scanStatesSlices(spark, root, slices))
  }

  override def stop(): Unit = ()
}

object EsLogRegistryWatchSource {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("revision", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("stream_id", LongType, nullable = true)))

  private val Prefix = "stream."

  /** Registry events in `(after, hi]` of a catalog root's log — shared by the
    * streaming source and [[graft.eslog.EsCatalog.registryHistory]], so the
    * batch twin is the same extraction by construction. `seq` is the action's
    * index within its commit (same convention as the metadata watch). A
    * [[graft.meta.KvDelRange]] touching the registry prefix surfaces as one
    * `delRange` row with a null name — the resync signal (reload the LIST) —
    * rather than being silently dropped; [[graft.eslog.EsCatalog]] itself
    * never issues one against registry keys. */
  private[graft] def events(dir: String, after: Long, hi: Long): Seq[org.apache.spark.sql.Row] =
    MetaLog.actionsSince(dir, after)
      .filter(_._1 <= hi)
      .flatMap { case (v, actions) =>
        actions.zipWithIndex.collect {
          case (graft.meta.KvPut(k, value), i) if k.startsWith(Prefix) =>
            org.apache.spark.sql.Row(v, i.toLong, "put", k.stripPrefix(Prefix), value.toLong)
          case (graft.meta.KvDel(k), i) if k.startsWith(Prefix) =>
            org.apache.spark.sql.Row(v, i.toLong, "del", k.stripPrefix(Prefix), null)
          case (graft.meta.KvDelRange(from, until), i)
              if from.startsWith(Prefix) || until.forall(_ > Prefix) && from <= Prefix =>
            org.apache.spark.sql.Row(v, i.toLong, "delRange", null, null)
        }
      }
}

/** Registry-level WATCH_RESOURCE (rpc.fbs:691-778): the CATALOG's own log as
  * a change feed of streams appearing/disappearing — `put(name, stream_id)`
  * on create, `del(name)` on drop, revision = the catalog log version (the
  * same monotonic revision LIST returns, so a consumer lists-then-watches
  * with no gap: watch from the list's revision). Completes LIST/WATCH parity:
  * [[EsLogMetaWatchSource]] watches ONE stream's metadata, this watches the
  * registry itself (the reference's PD resource watch over etcd,
  * pd/pkg/server/storage/endpoint/stream.go). Name reuse is unambiguous by
  * construction: re-creating a dropped name carries a fresh stream_id at a
  * later revision. */
class EsLogRegistryWatchSource(spark: SparkSession, dir: String)
    extends MetaLogVersionSource(dir) {

  override def schema: StructType = EsLogRegistryWatchSource.schema

  override def getBatch(start: Option[org.apache.spark.sql.execution.streaming.Offset],
                        end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val after = start.map(_.json().toLong).getOrElse(-1L)
    val hi = end.json().toLong
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        EsLogRegistryWatchSource.events(dir, after, hi)).asJava, schema)
    org.apache.spark.sql.graftshim.GraftShims.asStreamingViaRdd(df)
  }

  override def stop(): Unit = ()
}

/** Streaming sink: opens a fenced writer session (epoch bump on creation) and
  * appends each micro-batch with the batch id recorded in the same metadata
  * commit — a replayed batch after recovery is a metadata no-op, giving
  * exactly-once output (the APPEND idempotent-retry semantics). */
class EsLogStreamSink(spark: SparkSession, dir: String,
                      parameters: Map[String, String]) extends Sink {

  // Batch ids are only comparable within one checkpoint lineage: a fresh
  // checkpoint restarts ids at 0, so the idempotence marker must be scoped by
  // the checkpoint location (stable across restarts of the same query, unique
  // per query). No fallback scope: two unnamed queries sharing one marker
  // would silently drop the second query's batches (its ids restart at 0 and
  // compare <= committed), so a missing scope is an error, not a default.
  private val batchKey = {
    val scope = parameters.get("checkpointLocation")
      .orElse(parameters.get("queryName"))
      .getOrElse(throw new IllegalArgumentException(
        "eslog sink needs an explicit idempotence scope: set " +
          ".option(\"checkpointLocation\", dir) (or .option(\"queryName\", name)) " +
          "on the writer — a session-conf checkpoint location is not visible here"))
    "_sink.lastBatch." + java.util.UUID.nameUUIDFromBytes(
      scope.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
  }

  private val epoch: Long = {
    if (!MetaLog.exists(dir)) EsLog.create(dir,
      streamId = parameters.getOrElse("streamId", "0").toLong)
    EsLog.open(dir, MetaLog.load(dir).epoch + 1).epoch
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val committed = EsLog.getKV(dir, batchKey).map(_.toLong).getOrElse(-1L)
    if (batchId <= committed) return // idempotent replay after recovery
    // `data` is backed by the stream's IncrementalExecution; re-root it as a
    // batch frame evaluated through that execution before composing with the
    // append pipeline (transforming it directly would re-plan the streaming
    // relations as a batch query and fail analysis).
    val batchDf = org.apache.spark.sql.graftshim.GraftShims.materializeBatch(data)
    EsLog.append(spark, dir, batchDf, epoch,
      sortKey = parameters.get("sortKey"),
      extraActions = Seq(KvPut(batchKey, batchId.toString)))
  }
}
