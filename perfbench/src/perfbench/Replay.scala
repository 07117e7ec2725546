package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.eslog.EsLog
import graft.meta.{ImportSegment, MetaLog}
import graft.model.{FlatRecordBatch, RecordBatchRow, TieredObject}

/** replay_tier: catch-up reads of a stream with several epochs and segments,
  * built in set-up. A round is `RangesPerRound` random ranges of `Range`
  * batches, each read through all three read forms (`EsLog.fetch`,
  * `EsLog.fetchByTime` of the range's time span, and
  * `spark.read.format("eslog")` with `startOffset`/`endOffset`), the first
  * form rotating from range to range; then one tier migration
  * (`exportObjectFiles` of a random range, `backfillObjectDir` into a fresh
  * stream) and one streaming replay of the stream's last `CatchUp` batches
  * (eslog source to eslog sink, `Trigger.AvailableNow`). Every read must
  * return exactly the generator's batches of its range (so the three forms
  * agree, and they are compared too), every migration must reproduce its
  * range bit for bit, and every replay's sink must hold each source batch
  * exactly once. The append path runs only as the small commits of the
  * backfill and of the replay's sink. */
final class Replay(ctx: Ctx) extends Workload {
  import Replay._
  private val spark = ctx.spark
  private val tr = ctx.tr
  private val seed = ctx.seed
  private val n = Epochs * CommitsPerEpoch * Batches
  private val sums: Array[Long] = Array.tabulate(n)(o =>
    Gen.batchSum(Gen.crc(Gen.payload(seed, Stream, o, BatchBytes)), Gen.timestamp(seed, Stream, o)))

  private def ts(o: Long): Long = Gen.timestamp(seed, Stream, o)

  private def build(): String = {
    val dir = ctx.fresh("replay")
    EsLog.create(dir, streamId = 2L)
    val s = seed
    for (e <- 0 until Epochs) {
      EsLog.open(dir, e + 1L)
      for (c <- 0 until CommitsPerEpoch) {
        val base = (e * CommitsPerEpoch + c).toLong * Batches
        val rdd = spark.sparkContext.parallelize(0 until Batches, ctx.conf.cores).map { i =>
          Row(Gen.payload(s, Stream, base + i, BatchBytes), Gen.timestamp(s, Stream, base + i))
        }
        EsLog.append(spark, dir, spark.createDataFrame(rdd, Ingest.InputSchema), e + 1L)
      }
    }
    dir
  }

  private def columns(df: DataFrame): Array[Row] =
    df.select(col("base_offset"), crc32(col("payload")), col("base_timestamp")).collect()

  /** Rows of a read of [lo, hi), sorted by offset, checked against the
    * generator. */
  private def expect(rows: Array[Row], lo: Long, hi: Long, what: String): Array[Row] = {
    val sorted = rows.sortBy(_.getLong(0))
    ctx.check(sorted.length == hi - lo && sorted.zipWithIndex.forall { case (r, i) =>
      val o = r.getLong(0)
      o == lo + i && Gen.batchSum(r.getLong(1), r.getLong(2)) == sums(o.toInt)
    }, s"$what [$lo, $hi) did not return exactly the range's batches")
    sorted
  }

  private val Forms = Seq("fetch", "fetch_time", "read_eslog")

  private def read(src: String, form: String, lo: Long, hi: Long): DataFrame = form match {
    case "fetch"      => EsLog.fetch(spark, src, lo, hi)
    case "fetch_time" => EsLog.fetchByTime(spark, src, ts(lo), ts(hi))
    case _ => spark.read.format("eslog").option("startOffset", lo.toString)
      .option("endOffset", hi.toString).load(src)
  }

  private val describeMs = mutable.ArrayBuffer.empty[Double]

  /** One range read through the three forms, the first form rotating. */
  private def readRange(src: String, k: Int, lo: Long, timed: Boolean): Unit = {
    val hi = lo + Range
    val results = (0 until 3).map { j =>
      val form = Forms((k + j) % 3)
      def body = {
        val df = tr.span("fetch.call")(read(src, form, lo, hi))
        columns(df)
      }
      val rows = if (timed) ctx.op(form, Range.toLong * BatchBytes)(body) else Some(body)
      if (timed && tr.enabled) {
        val t = Meter.threadNs()
        EsLog.describe(src)
        describeMs += (Meter.threadNs() - t) / 1e6
      }
      rows.map(r => expect(r, lo, hi, form))
    }
    val got = results.flatten.map(_.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    ctx.check(got.distinct.size <= 1, s"the read forms disagree on [$lo, $hi)")
  }

  private val exportObjects = mutable.ArrayBuffer.empty[Double]
  private var stored = 0L

  private def migrate(src: String, lo: Long, timed: Boolean): Unit = {
    val hi = lo + MigrateRange
    val objDir = ctx.fresh("objects"); val dst = ctx.fresh("backfilled")
    def body: Long = {
      val objs = tr.span("export")(EsLog.exportObjectFiles(spark, src, objDir, lo, hi,
        maxObjectBytes = ObjectBytes))
      exportObjects += objs.toDouble
      EsLog.create(dst, streamId = 2L)
      MetaLog.commitWithRetry(dst)(_ => Seq(ImportSegment(0, lo, None, 1L)))
      tr.span("backfill")(EsLog.backfillObjectDir(spark, dst, objDir, 1L))
    }
    val got = if (timed) ctx.op("migrate", MigrateRange.toLong * BatchBytes)(body) else Some(body)
    got.foreach { g =>
      ctx.check(g == MigrateRange, s"backfill of [$lo, $hi) wrote $g batches")
      val rows = EsLog.fetch(spark, dst)
        .select(col("base_offset"), col("base_timestamp"), col("last_offset_delta"), col("payload"))
        .collect().sortBy(_.getLong(0))
      ctx.check(rows.length == MigrateRange && rows.zipWithIndex.forall { case (r, i) =>
        val o = lo + i
        r.getLong(0) == o && r.getLong(1) == ts(o) && r.getInt(2) == 1 &&
          java.util.Arrays.equals(r.getAs[Array[Byte]](3), Gen.payload(seed, Stream, o, BatchBytes))
      }, s"export -> backfill of [$lo, $hi) did not reproduce the range bit for bit")
      if (timed) stored += ctx.dirBytes(objDir) + ctx.dirBytes(dst)
    }
    ctx.rm(objDir); ctx.rm(dst)
  }

  private val replayQueries = mutable.ArrayBuffer.empty[java.util.UUID]

  /** Streaming replay of offsets [n - CatchUp, n) into a fresh sink. */
  private def replay(src: String, timed: Boolean): Unit = {
    val lo = n - CatchUp
    val sink = ctx.fresh("replay-sink"); val ckpt = ctx.fresh("replay-ckpt")
    def body = {
      val q = spark.readStream.format("eslog")
        .option("startingOffsets", lo.toString)
        .option("maxOffsetsPerTrigger", CatchUpPerTrigger.toString)
        .load(src)
        .writeStream.format("eslog").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
      q.id
    }
    val id = if (timed) ctx.op("replay", CatchUp.toLong * BatchBytes)(body) else Some(body)
    id.foreach { q =>
      if (timed) replayQueries += q
      // each sink batch names its source offset through its timestamp
      val rows = EsLog.fetch(spark, sink)
        .select(col("base_offset"), col("base_timestamp"), crc32(col("payload")))
        .collect().sortBy(_.getLong(0))
      val srcOffsets = rows.map(r => (r.getLong(1) - Gen.T0) / 10)
      ctx.check(rows.length == CatchUp && rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i } &&
        srcOffsets.sorted.sameElements(lo until n) &&
        rows.zip(srcOffsets).forall { case (r, o) => Gen.batchSum(r.getLong(2), r.getLong(1)) == sums(o.toInt) },
        s"streaming replay: the sink does not hold each source batch of [$lo, $n) exactly once")
      if (timed) stored += ctx.dirBytes(sink)
    }
    ctx.rm(sink); ctx.rm(ckpt)
  }

  private def round(src: String, r: Int, starts: Array[Long], migrations: Array[Long], timed: Boolean): Unit = {
    for (k <- 0 until RangesPerRound) readRange(src, r * RangesPerRound + k, starts(r * RangesPerRound + k), timed)
    migrate(src, migrations(r), timed)
    replay(src, timed)
  }

  def run(): Unit = {
    val src = build()
    val rounds = ctx.timedRounds(RoundsPerSecond)
    val total = WarmupRounds + rounds
    val starts = Gen.readStarts(seed, 201L, n, Range, total * RangesPerRound)
    val migrations = Gen.readStarts(seed, 202L, n, MigrateRange, total)
    for (r <- 0 until WarmupRounds) round(src, r, starts, migrations, timed = false)
    codecs(warm = true)
    ctx.endSetup()
    for (r <- WarmupRounds until total) round(src, r, starts, migrations, timed = true)
    ctx.finish(Forms, ctx.heapRetainedMb(), stored + ctx.dirBytes(src))
    if (tr.enabled) traceLayers()
  }

  private def traceLayers(): Unit = {
    tr.drain()
    def med(xs: Seq[Double]) = Metrics.pct(xs, 0.5)
    val reads = Forms.flatMap(tr.opsOf)
    val bytes = Range.toDouble * BatchBytes
    ctx.layers("meta.load_cpu_ms") = (med(describeMs.toSeq), "ms")
    ctx.layers("fetch.call_cpu_ms") = (med(tr.spansNamed("fetch.call").map(_.callerCpuMs)), "ms")
    ctx.layers("fetch.task_cpu_ms") = (med(reads.map(o => tr.stagesOf(o.id).map(_.cpuMs).sum)), "ms")
    // the file scan's count; a read through a Row-RDD relation shows none
    ctx.layers("fetch.files_read") =
      (med(reads.map(o => tr.execsOf(o.id).map(_.files).sum.toDouble).filter(_ > 0)), "count")
    ctx.layers("fetch.bytes_read_per_byte") =
      (med(reads.map(o => tr.stagesOf(o.id).map(_.bytesRead).sum / bytes)), "ratio")
    ctx.layers("fetch.rows_read_per_row") =
      (med(reads.map(o => tr.stagesOf(o.id).map(_.recordsRead).sum.toDouble / Range)), "ratio")
    ctx.layers("read.row_rdd_scans") =
      (reads.count(o => tr.execsOf(o.id).exists(_.rowRddScan)).toDouble, "count")
    ctx.layers("sql.planning_ms") = (med(reads.map(o => tr.execsOf(o.id).map(_.planningMs).sum)), "ms")
    ctx.layers("export.cpu_ms") = (med(tr.spansNamed("export").map(_.cpuMs)), "ms")
    ctx.layers("export.objects") = (med(exportObjects.toSeq), "count")
    ctx.layers("backfill.cpu_ms") = (med(tr.spansNamed("backfill").map(_.cpuMs)), "ms")
    ctx.layers("backfill.shuffle_mb") =
      (med(tr.spansNamed("backfill").map(s => tr.stagesIn(s).map(_.shuffleWrite).sum / 1e6)), "MB")
    codecs(warm = false)
    streamLayers()
  }

  /** Micro-batch phases of the timed streaming replays, from the progress
    * reports of the micro-batches that carried data. */
  private def streamLayers(): Unit = {
    val all = tr.progress.synchronized(tr.progress.toSeq).map(_.progress)
      .filter(e => replayQueries.contains(e.id))
      .groupBy(e => (e.id, e.batchId)).values.map(_.head).toSeq.sortBy(_.timestamp)
    val evs = all.filter(_.numInputRows > 0)
    def dur(k: String) =
      Metrics.pct(evs.map(e => Option(e.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)), 0.5)
    ctx.layers("stream.trigger_ms") = (dur("triggerExecution"), "ms")
    ctx.layers("stream.get_batch_ms") = (dur("getBatch"), "ms")
    ctx.layers("stream.add_batch_ms") = (dur("addBatch"), "ms")
    ctx.layers("stream.wal_commit_ms") = (dur("walCommit"), "ms")
    // rows a micro-batch reports per source offset it delivered
    def offset(json: String) = scala.util.Try(json.trim.toLong).getOrElse((n - CatchUp).toLong)
    ctx.layers("stream.input_rows_per_row") = (Metrics.pct(evs.flatMap(_.sources.headOption.map { s =>
      s.numInputRows.toDouble / math.max(1L, offset(s.endOffset) - offset(s.startOffset))
    }), 0.5), "ratio")
    val backlog = all.groupBy(_.id).values.map(_.last).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.metrics)).flatMap(m => Option(m.get("backlogOffsets"))).map(_.toDouble)
    ctx.layers("stream.backlog_offsets") = (backlog.sum, "count")
  }

  private var codecBuf: (Seq[RecordBatchRow], Array[Byte], Double) = null

  /** Single-thread codec rates on a fixed seeded buffer of 64 batches, on
    * the calling thread's CPU clock. */
  private def codecs(warm: Boolean): Unit = {
    if (codecBuf == null) {
      val rows = (0 until 64).map { i =>
        RecordBatchRow(2L, 0, 0, i.toLong, 1, ts(i), Map.empty, Gen.payload(seed, 300L, i, BatchBytes))
      }
      val (obj, _) = TieredObject.encode(rows.map(FlatRecordBatch.encode), 0L)
      codecBuf = (rows, obj, rows.map(_.payload.length).sum / 1e6)
    }
    val (rows, obj, mb) = codecBuf
    def rate(f: => Unit): Double = {
      val t = Meter.threadNs()
      for (_ <- 0 until CodecReps) f
      mb * CodecReps / ((Meter.threadNs() - t) / 1e9)
    }
    val enc = rate { FlatRecordBatch.encodeAll(rows); () }
    val dec = rate { TieredObject.decodeAll(obj); () }
    if (!warm) {
      ctx.layers("codec.flat_encode_mb_per_cpu_s") = (enc, "MB/cpu-s")
      ctx.layers("codec.object_decode_mb_per_cpu_s") = (dec, "MB/cpu-s")
    }
  }
}

object Replay {
  val Stream = 200L
  val BatchBytes = 64 * 1024
  val Batches = 128 // per commit: 8 MiB
  val Epochs = 3
  val CommitsPerEpoch = 1
  val Range = 32 // batches per read: 2 MiB
  val RangesPerRound = 16 // 48 reads
  val MigrateRange = 128 // batches per migration: 8 MiB
  val ObjectBytes: Int = 2 * 1024 * 1024
  val CatchUp = 96 // batches per streaming replay: 6 MiB
  val CatchUpPerTrigger = 32
  val WarmupRounds = 1
  val RoundsPerSecond = 0.125
  val CodecReps = 20
}
