package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --cores <k> --dir <scratch> --out <file>
  * --trace-out <file> [--commit-batches <n>] [--corpus-scale <n>]`. Writes
  * the result object to `--out`; `run.py` prints it. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, dir: String, out: String, traceOut: String,
                        commitBatches: Int, corpusScale: Int)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("dir"), kv("out"), kv("trace-out"),
      kv.get("commit-batches").map(_.toInt).getOrElse(Ingest.Batches),
      kv.get("corpus-scale").map(_.toInt).getOrElse(Curate.Scale))
    val code = try { run(conf); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      // the project's deployment settings for compressed payload scans
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // Spark's status store keeps up to 1000 jobs and executions; a bounded
      // retention keeps heap_retained_mb about the program
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(conf: Conf): Unit = {
    val steal0 = Meter.steal()
    val spark = session(conf.cores, conf.dir)
    val tr = new Tracer(spark, conf.trace)
    tr.register()
    val ctx = new Ctx(spark, tr, conf)
    ctx.log(f"session ready at ${ctx.uptimeS()}%.1f s")
    val w: Workload = conf.workload match {
      case "ingest_64k"  => new Ingest(ctx)
      case "replay_tier" => new Replay(ctx)
      case "llm_curate"  => new Curate(ctx)
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.run()
    ctx.layers("host.steal_pct") = (Meter.stealPct(steal0, Meter.steal()), "%")
    if (conf.trace) {
      ctx.layers ++= tr.engineLayers()
      tr.write(conf.traceOut)
    }
    // Wall clock and host steal go to standard error in every run: they
    // explain noise, and only the traced run reports them as metrics. The
    // end-to-end figures go there too, so that a traced run's can be set
    // beside an untraced run's (the tracing overhead).
    def line(ms: Iterable[(String, (Double, String))]) =
      ms.toSeq.sortBy(_._1).map { case (k, (v, _)) => s""""$k": ${Metrics.num(v)}""" }.mkString("{", ", ", "}")
    ctx.log("wall " + line(ctx.layers.filter { case (k, _) => k.startsWith("wall.") || k.startsWith("host.") }))
    ctx.log("e2e " + line(ctx.e2e))
    ctx.log("jvm " + line(ctx.layers.filter { case (k, _) => k.startsWith("jvm.") }))
    // run.py checks these names and units against BENCHMARK.json
    val metrics = if (conf.trace) ctx.layers.toMap else ctx.e2e.toMap
    val json = new StringBuilder
    json ++= s"""{"correct": ${ctx.correct}, "attempted": ${ctx.timed.attempted}, "failed": ${ctx.timed.failed}, "metrics": {"""
    json ++= metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${Metrics.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    java.nio.file.Files.write(java.nio.file.Paths.get(conf.out), json.toString.getBytes("UTF-8"))
    if (!ctx.correct) ctx.log("output checks failed: " + ctx.problems.mkString("; "))
    spark.stop()
  }
}

trait Workload { def run(): Unit }

/** Shared run state: the session, the tracer, scratch directories, output
  * checks, the timed-operation record and the metrics the workload sets. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val conf: Main.Conf) {
  import Ctx._
  val seed: Long = conf.seed
  val e2e = mutable.Map.empty[String, (Double, String)]
  val layers = mutable.Map.empty[String, (Double, String)]
  val problems = mutable.ArrayBuffer.empty[String]
  val timed = new Timed(tr)
  /** Host-speed probe samples (ms), each taken outside every timed window. */
  val probes = mutable.ArrayBuffer.empty[Double]
  private var setupCpuS = 0.0
  private var n = 0

  def correct: Boolean = problems.isEmpty

  def fresh(name: String): String = { n += 1; new File(conf.dir, s"$name-$n").getPath }

  /** A progress line on standard error; `run.py` passes these through. */
  def log(msg: String): Unit = System.err.println("perfbench: " + msg)

  def check(ok: Boolean, what: => String): Unit = if (!ok && problems.size < 20) problems += what

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** How many rounds of timed operations a run makes: `perSecond` rounds
    * per second of the nominal run length `--seconds`, at least one. The
    * count does not depend on how fast the host runs them. */
  def timedRounds(perSecond: Double): Int = math.max(1, math.round(conf.seconds * perSecond).toInt)

  /** Ends set-up: `setup_s` is the process CPU time from JVM start to now
    * (scaled to the probe's reference speed in `finish`). */
  def endSetup(): Unit = {
    setupCpuS = Meter.processNs() / 1e9
    layers("wall.setup_s") = (uptimeS(), "s")
    log(f"set-up done at ${uptimeS()}%.1f s")
    // the first passes run before the JIT has compiled the loop
    for (_ <- 0 until ProbeWarmup) Probe.ms()
    probe(ProbesAtEdges)
    timed.start()
  }

  private def probe(count: Int): Unit = for (_ <- 0 until count) probes += Probe.ms()

  /** One timed operation, after one probe pass; a failure is counted and
    * reported. */
  def op[T](kind: String, payload: Long)(body: => T): Option[T] = {
    probe(1)
    timed.op(kind, payload)(body) match {
      case Right(r) => Some(r)
      case Left(e)  => check(false, s"$kind failed: $e"); None
    }
  }

  /** Heap in use after full collections, in MB. Spark's ContextCleaner
    * releases blocks, shuffles and broadcasts only after a collection has
    * found their owners unreachable, so it gets time between collections. */
  def heapRetainedMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def rm(path: String): Unit = {
    val f = new File(path)
    Option(f.listFiles).foreach(_.foreach(c => rm(c.getPath)))
    f.delete(); ()
  }

  /** The end-to-end metrics from the timed operations. `opKinds` names the
    * kinds of operation `op_cpu_ms_p50` and the wall figures summarise; with
    * several kinds, `op_cpu_ms_p50` is the mean of the kinds' medians, each
    * kind weighing the same however their costs interleave. */
  def finish(opKinds: Seq[String], heapMb: Double, storedBytes: Long): Unit = {
    timed.stop()
    probe(ProbesAtEdges)
    val ops = timed.ops.toSeq.filter(o => opKinds.contains(o.kind))
    val medians = opKinds.map(k => Metrics.pct(ops.filter(_.kind == k).map(_.cpuMs), 0.5))
    val opCpuMs = medians.sum / medians.size
    val mbPerCpuS = timed.payloadBytes / 1e6 / (timed.processCpuNs / 1e9)
    // The CPU metrics in CPU time at the probe's reference speed: the same
    // work costs more CPU time while the host runs instructions slower, and
    // the probe, which the program does not touch, measures by how much.
    val probeMs = Metrics.pct(probes.toSeq, 0.5)
    val scale = Probe.RefMs / probeMs
    e2e("setup_s") = (setupCpuS * scale, "s")
    e2e("op_cpu_ms_p50") = (opCpuMs * scale, "ms")
    e2e("mb_per_cpu_s") = (mbPerCpuS / scale, "MB/cpu-s")
    layers("host.probe_ms") = (probeMs, "ms")
    log("cpu unscaled " + Seq("setup_s" -> setupCpuS, "op_cpu_ms_p50" -> opCpuMs, "mb_per_cpu_s" -> mbPerCpuS)
      .map { case (k, v) => s""""$k": ${Metrics.num(v)}""" }.mkString("{", ", ", "}"))
    e2e("heap_retained_mb") = (heapMb, "MB")
    e2e("stored_mb") = (storedBytes / 1e6, "MB")
    val walls = ops.map(_.wallMs)
    layers("wall.op_ms_p50") = (Metrics.pct(walls, 0.5), "ms")
    layers("wall.op_ms_tail") = (Metrics.pct(walls, Metrics.tailQ(walls.size)), "ms")
    layers("jvm.gc_cpu_ms_per_op") = (timed.gcNs / 1e6 / timed.ops.size, "ms")
    layers("jvm.jit_cpu_ms") = (timed.jitNs / 1e6, "ms")
    layers("jvm.alloc_mb_per_op") = (timed.allocBytes / 1e6 / timed.ops.size, "MB")
    for (k <- opKinds) log(s"$k cpu ms ${ops.filter(_.kind == k).map(o => f"${o.cpuMs}%.0f").mkString(" ")}")
    log(s"wall ms ${walls.map(w => f"$w%.0f").mkString(" ")}")
  }
}

object Ctx {
  val ProbeWarmup = 3
  /** Probe passes at the end of set-up and after the timed phase, beside
    * the one before each timed operation. */
  val ProbesAtEdges = 10
}

object Metrics {
  /** Linear-interpolated percentile (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with ten samples beyond it (the median when
    * there are fewer than twenty samples). */
  def tailQ(n: Int): Double = math.max(0.5, 1.0 - 10.0 / math.max(n, 1))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
