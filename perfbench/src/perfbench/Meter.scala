package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

/** The clocks the benchmark gates on. CPU clocks do not count time the host
  * takes from the machine (steal), so they hold still where wall time does
  * not; `steal` reads how much was taken. */
object Meter {
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process, GC and JIT included (10 ms ticks on
    * Linux: sum it over windows, not per short call). */
  def processNs(): Long = os.getProcessCpuTime

  /** CPU time of the calling thread, in nanoseconds. */
  def threadNs(): Long = threads.getCurrentThreadCpuTime

  /** CPU time of every live Java thread, by thread id, at nanosecond
    * resolution. GC and JIT-compiler threads are not among them. */
  final class Snap(val ids: Array[Long], val ns: Array[Long])

  def javaThreads(): Snap = {
    val ids = threads.getAllThreadIds
    new Snap(ids, threads.getThreadCpuTime(ids))
  }

  /** CPU time the threads live at `after` spent since `before`: a thread
    * started in between counts from 0, one that ended in between is lost
    * (Spark's executor and scheduler threads are pooled and outlive an
    * operation). */
  def since(before: Snap, after: Snap): Long = {
    val base = mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < before.ids.length) { if (before.ns(i) > 0) base(before.ids(i)) = before.ns(i); i += 1 }
    var sum = 0L
    i = 0
    while (i < after.ids.length) {
      if (after.ns(i) > 0) sum += math.max(0L, after.ns(i) - base.getOrElse(after.ids(i), 0L))
      i += 1
    }
    sum
  }

  /** Bytes allocated so far by the live Java threads. */
  def allocBytes(): Long = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  /** CPU nanoseconds of the JVM's own threads by thread id, each marked
    * as garbage collection (true) or JIT compilation (false). Read from the
    * kernel's per-thread accounting, since these threads are not Java
    * threads. With the serial collector the VM thread runs every
    * collection. */
  def vmThreads(): Map[String, (Boolean, Long)] =
    Option(new File("/proc/self/task").list()).getOrElse(Array.empty[String]).flatMap { tid =>
      try {
        val name = new String(Files.readAllBytes(Paths.get(s"/proc/self/task/$tid/comm"))).trim
        val isGc = name.startsWith("VM Thread") || name.startsWith("GC Thread") || name.startsWith("G1 ")
        if (!isGc && !name.contains("CompilerThre")) None
        else Some(tid -> (isGc, new String(Files.readAllBytes(Paths.get(s"/proc/self/task/$tid/schedstat")))
          .trim.split(" ")(0).toLong))
      } catch { case NonFatal(_) => None } // the thread ended while being read
    }.toMap

  /** (GC, JIT) CPU nanoseconds the threads live at `after` spent since
    * `before`. The JVM starts and stops compiler threads as the compile
    * queue grows and shrinks; one that stopped in between is lost. */
  def vmThreadsSince(before: Map[String, (Boolean, Long)], after: Map[String, (Boolean, Long)]): (Long, Long) = {
    val d = after.toSeq.map { case (tid, (gc, ns)) => (gc, ns - before.get(tid).map(_._2).getOrElse(0L)) }
    (d.filter(_._1).map(_._2).sum, d.filterNot(_._1).map(_._2).sum)
  }

  /** (steal, total) jiffies of the whole machine, from /proc/stat. */
  def steal(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}

/** The host-speed probe: a fixed integer loop on the calling thread's CPU
  * clock. It allocates nothing and calls nothing of the library, so its CPU
  * time moves only with how fast the host runs instructions at the moment.
  * That speed changes with the load beside the VM, without steal, and a
  * Spark operation's CPU time changes with it (README.md, "Host speed"). */
object Probe {
  /** The loop's CPU time on the machine the benchmark was built on (4-vCPU
    * Xeon VM), the median of quiet runs: the speed the end-to-end CPU
    * metrics are scaled to. */
  val RefMs = 45.0
  @volatile private var sink = 1L

  /** One pass of the loop; its CPU time in milliseconds. */
  def ms(): Double = {
    val t0 = Meter.threadNs()
    var x = sink
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink = x
    (Meter.threadNs() - t0) / 1e6
  }
}

/** The timed operations of a run, and the clocks over the timed phase. */
final class Timed(tr: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Timed.Op]
  var attempted = 0L
  var failed = 0L
  var payloadBytes = 0L
  var processCpuNs = 0L
  var gcNs = 0L
  var jitNs = 0L
  var allocBytes = 0L
  private var vm0 = Map.empty[String, (Boolean, Long)]
  private var alloc0 = 0L

  def start(): Unit = { vm0 = Meter.vmThreads(); alloc0 = Meter.allocBytes() }

  def stop(): Unit = {
    val (gc, jit) = Meter.vmThreadsSince(vm0, Meter.vmThreads())
    gcNs = gc; jitNs = jit
    allocBytes = Meter.allocBytes() - alloc0
  }

  /** Runs one timed operation of `kind` moving `payload` bytes; a failure
    * is counted and returned. */
  def op[T](kind: String, payload: Long)(body: => T): Either[Throwable, T] = {
    attempted += 1
    val p0 = Meter.processNs()
    val s0 = Meter.javaThreads()
    val w0 = System.nanoTime()
    try {
      val r = tr.op(kind)(body)
      val w1 = System.nanoTime()
      val s1 = Meter.javaThreads()
      processCpuNs += Meter.processNs() - p0
      payloadBytes += payload
      ops += Timed.Op(kind, Meter.since(s0, s1) / 1e6, (w1 - w0) / 1e6)
      Right(r)
    } catch { case NonFatal(e) => failed += 1; Left(e) }
  }
}

object Timed {
  final case class Op(kind: String, cpuMs: Double, wallMs: Double)
}
