package perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.eslog.EsLog

/** ingest_64k: one closed-loop producer appends commits of seeded 64 KiB
  * record batches (payload and timestamp) into fresh streams; nothing reads
  * them while it runs. A round fills one fresh stream with `CommitsPerRound`
  * commits, which takes it past its first `_eslog` checkpoint. After each
  * round the stream is checked, outside any timed window: it holds exactly
  * the offsets [0, N), and each commit's offset range holds the generator's
  * batches, compared as an order-insensitive checksum of payload and
  * timestamp (the order inside a commit's range is not checked: see
  * CHANGES.md on the write-time coalesce).
  *
  * A commit holds `Batches` batches (32 MiB) unless `--commit-batches` says
  * otherwise; the README explains the size. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val tr = ctx.tr
  private val seed = ctx.seed
  private val batches = ctx.conf.commitBatches
  private val commitBytes = BatchBytes.toLong * batches

  /** Seeded commit `p` of `count` batches, cached as rows. */
  private def commit(p: Int, count: Int): (RDD[Row], DataFrame) = {
    val s = seed
    val rdd = spark.sparkContext.parallelize(0 until count, ctx.conf.cores)
      .map(i => Row(Gen.payload(s, 100L + p, i.toLong, BatchBytes), Gen.timestamp(s, 100L + p, i.toLong)))
      .persist(StorageLevel.MEMORY_ONLY)
    rdd.count()
    (rdd, spark.createDataFrame(rdd, InputSchema))
  }

  private def newStream(): String = {
    val dir = ctx.fresh("ingest")
    EsLog.create(dir, streamId = 1L)
    EsLog.open(dir, 1L)
    dir
  }

  def run(): Unit = {
    val frames = (0 until Pool).map(commit(_, batches))
    val sums = (0 until Pool).map(p => Gen.rangeSum(seed, 100L + p, 0, batches, BatchBytes))
    // warm-up: many small commits run the per-commit code as often as a
    // long run would, a few full ones the per-byte code
    val small = commit(Pool, WarmupSmallBatches)
    val warm = newStream()
    for (_ <- 0 until WarmupSmallCommits) EsLog.append(spark, warm, small._2, 1L)
    for (c <- 0 until WarmupCommits) EsLog.append(spark, warm, frames(c % Pool)._2, 1L)
    small._1.unpersist(blocking = true)
    ctx.rm(warm)
    ctx.endSetup()

    val describeMs = mutable.ArrayBuffer.empty[Double]
    val logFiles = mutable.ArrayBuffer.empty[Double]
    val logKb = mutable.ArrayBuffer.empty[Double]
    val dataFiles = mutable.ArrayBuffer.empty[Double]
    var stored = 0L
    for (_ <- 0 until ctx.timedRounds(RoundsPerSecond)) {
      val dir = newStream()
      for (c <- 0 until CommitsPerRound) {
        ctx.op("append", commitBytes)(EsLog.append(spark, dir, frames(c % Pool)._2, 1L)).foreach {
          case (first, next) =>
            ctx.check(first == c.toLong * batches && next == (c + 1L) * batches,
              s"append returned [$first, $next) for commit $c")
        }
        if (tr.enabled) {
          val t = Meter.threadNs()
          EsLog.describe(dir)
          describeMs += (Meter.threadNs() - t) / 1e6
        }
      }
      verify(dir, sums)
      logFiles += Files.count(dir, "_eslog").toDouble / CommitsPerRound
      logKb += ctx.dirBytes(dir + "/_eslog") / 1e3
      dataFiles += Files.parquet(dir).toDouble / CommitsPerRound
      stored += ctx.dirBytes(dir)
      ctx.rm(dir)
    }
    frames.foreach(_._1.unpersist(blocking = true))
    ctx.finish(Seq("append"), ctx.heapRetainedMb(), stored)
    if (tr.enabled) {
      ctx.layers("meta.load_cpu_ms") = (Metrics.pct(describeMs.toSeq, 0.5), "ms")
      ctx.layers("meta.log_files_per_op") = (Metrics.pct(logFiles.toSeq, 0.5), "count")
      ctx.layers("meta.log_kb") = (Metrics.pct(logKb.toSeq, 0.5), "kB")
      ctx.layers("append.files") = (Metrics.pct(dataFiles.toSeq, 0.5), "count")
      ctx.layers ++= Ingest.appendLayers(tr, "append", batches, commitBytes)
    }
  }

  /** Offsets exactly [0, N) and every commit range's checksum. */
  private def verify(dir: String, sums: Seq[Long]): Unit = {
    val n = CommitsPerRound.toLong * batches
    val rows = EsLog.fetch(spark, dir)
      .select(col("base_offset"), col("last_offset_delta"), crc32(col("payload")), col("base_timestamp"))
      .collect()
    ctx.check(rows.length == n, s"stream holds ${rows.length} batches, expected $n")
    ctx.check(EsLog.describe(dir).nextOffset == n, s"nextOffset != $n")
    val seen = new Array[Boolean](n.toInt)
    val got = new Array[Long](CommitsPerRound)
    rows.foreach { r =>
      val o = r.getLong(0)
      val ok = o >= 0 && o < n && !seen(o.toInt) && r.getInt(1) == 1
      ctx.check(ok, s"offset $o: duplicate or out of range")
      if (ok) {
        seen(o.toInt) = true
        got((o / batches).toInt) += Gen.batchSum(r.getLong(2), r.getLong(3))
      }
    }
    ctx.check(seen.forall(identity), "offsets are not contiguous from 0")
    for (c <- 0 until CommitsPerRound)
      ctx.check(got(c) == sums(c % Pool), s"commit $c's offset range does not hold its batches")
  }
}

object Ingest {
  val BatchBytes = 64 * 1024
  // 32 MiB per commit: about where an append's per-commit CPU cost equals
  // its per-byte cost (README), so a gain in either shows
  val Batches = 512
  val Pool = 2
  // 10 commits take a stream past its first `_eslog` checkpoint
  val CommitsPerRound = 10
  val WarmupSmallCommits = 16
  val WarmupSmallBatches = 64
  val WarmupCommits = 4
  // 3 rounds (30 appends) at `--seconds 8`: at 1 round a run timed about
  // 5 s of appends, and its median followed the host's short swings
  val RoundsPerSecond = 0.375
  val InputSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType), StructField("base_timestamp", LongType)))

  /** Per-append numbers of the traced run, medians over the operations of
    * `kind` (one append each, of `rows` batches and `bytes` payload). */
  def appendLayers(tr: Tracer, kind: String, rows: Long, bytes: Long): Map[String, (Double, String)] = {
    tr.drain()
    val ops = tr.opsOf(kind)
    def med(f: Tracer.Op => Double) = Metrics.pct(ops.map(f), 0.5)
    Map(
      "append.caller_cpu_ms" -> (Metrics.pct(tr.spansNamed(kind).map(_.callerCpuMs), 0.5), "ms"),
      "append.task_cpu_ms" -> (med(o => tr.stagesOf(o.id).map(_.cpuMs).sum), "ms"),
      "append.planning_ms" -> (med(o => tr.execsOf(o.id).map(_.planningMs).sum), "ms"),
      "append.jobs" -> (med(o => tr.jobsOf(o.id).size.toDouble), "count"),
      "append.tasks" -> (med(o => tr.stagesOf(o.id).map(_.tasks).sum.toDouble), "count"),
      "append.input_rows_per_row" -> (med(o => tr.stagesOf(o.id).map(_.recordsRead).sum.toDouble / rows), "ratio"),
      "append.bytes_written_per_byte" -> (med(o => tr.stagesOf(o.id).map(_.bytesWritten).sum.toDouble / bytes), "ratio"))
  }
}

/** File counts of a stream directory. */
object Files {
  def count(dir: String, sub: String): Int =
    Option(new java.io.File(dir, sub).listFiles).map(_.length).getOrElse(0)

  def parquet(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }
}
