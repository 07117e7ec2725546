package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for spans and listener events: epoch milliseconds with the
  * sub-millisecond precision of `nanoTime`. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus Spark's public listeners attributing every job, stage, task,
  * SQL execution and streaming progress event to the operation that issued
  * it through a `perfbench-op-<id>` job tag.
  *
  * With `enabled = false` nothing is registered and [[op]]/[[span]] only run
  * their body: the end-to-end numbers are measured with tracing off. Spans
  * are kept in memory and written out by [[write]] when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val opOf = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private var nextId = 0

  // listener state: the listener-bus thread writes, the driver reads after drain()
  val jobs = mutable.Map.empty[Int, Job]
  val stages = mutable.Map.empty[Int, Stage]
  val execs = mutable.Map.empty[Long, Exec]
  private val execOp = mutable.Map.empty[Long, Int]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  /** Runs one operation of `kind`: a root span, and every Spark job and SQL
    * execution it issues tagged with its id. */
  def op[T](kind: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val sc = spark.sparkContext
    sc.addJobTag(OpTag + id)
    opOf.set(id)
    val t0 = Clock.ms()
    try timed(id, kind, id, body)
    finally {
      val t1 = Clock.ms()
      synchronized { ops += Op(id, kind, t0, t1) }
      sc.removeJobTag(OpTag + id)
      opOf.set(-1)
    }
  }

  /** A child span of the current operation; outside an operation (set-up,
    * warm-up) only the body runs. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled || opOf.get < 0) return body
    val id = synchronized { nextId += 1; nextId }
    timed(id, name, opOf.get, body)
  }

  private def timed[T](id: Int, name: String, op: Int, body: => T): T = {
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val c0 = Meter.threadNs()
    val s0 = Meter.javaThreads()
    val t0 = Clock.ms()
    try body
    finally {
      val t1 = Clock.ms()
      val cpu = Meter.since(s0, Meter.javaThreads())
      val caller = Meter.threadNs() - c0
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, t0, t1, parent, op, cpu / 1e6, caller / 1e6) }
    }
  }

  def opsOf(kind: String): Seq[Op] = synchronized(ops.filter(_.kind == kind).toSeq)
  def allOps: Seq[Op] = synchronized(ops.toSeq)
  def spansNamed(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Jobs, stages and SQL executions an operation issued. */
  def jobsOf(op: Int): Seq[Job] = jobs.values.filter(_.op == op).toSeq
  def stagesOf(op: Int): Seq[Stage] = stages.values.filter(_.op == op).toSeq
  def execsOf(op: Int): Seq[Exec] = execs.values.filter(_.op == op).toSeq

  /** Stages of the jobs that started inside span `s`. */
  def stagesIn(s: Span): Seq[Stage] =
    jobsOf(s.op).filter(j => j.start >= s.start - 1 && j.start <= s.end)
      .flatMap(_.stageIds).flatMap(stages.get)

  def register(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new Listener)
    spark.streams.addListener(new StreamListener)
  }

  /** Lets the asynchronous listener bus deliver every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spark engine numbers per timed operation. */
  def engineLayers(): Map[String, (Double, String)] = {
    drain()
    val all = allOps
    if (all.isEmpty) return Map.empty
    Map(
      "spark.jobs_per_op" -> (all.map(o => jobsOf(o.id).size).sum.toDouble / all.size, "count"),
      "spark.tasks_per_op" -> (all.map(o => stagesOf(o.id).map(_.tasks).sum).sum.toDouble / all.size, "count"))
  }

  /** Every operation, span, job and SQL execution as JSON, one per line. */
  def write(path: String): Unit = if (enabled) {
    drain()
    val sb = new StringBuilder
    synchronized {
      ops.foreach { o =>
        sb ++= f"""{"kind":"op","id":${o.id},"name":"${o.kind}","start":${o.start}%.3f,"end":${o.end}%.3f}""" + "\n"
      }
      spans.foreach { s =>
        sb ++= f"""{"kind":"span","id":${s.id},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent},"op":${s.op},"cpu_ms":${s.cpuMs}%.3f,"caller_cpu_ms":${s.callerCpuMs}%.3f}""" + "\n"
      }
    }
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      sb ++= f"""{"kind":"job","id":${j.id},"op":${j.op},"exec":${j.exec},"start":${j.start}%.3f,"end":${j.end}%.3f,"stages":${j.stageIds.size}}""" + "\n"
    }
    execs.values.toSeq.sortBy(_.id).foreach { e =>
      sb ++= f"""{"kind":"exec","id":${e.id},"op":${e.op},"planning_ms":${e.planningMs}%.3f,"files":${e.files},"row_rdd_scan":${e.rowRddScan}}""" + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
    ()
  }

  private def opOfTags(tags: Iterable[String]): Int =
    tags.find(_.startsWith(OpTag)).map(_.stripPrefix(OpTag).toInt).getOrElse(-1)

  private def opOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.job.tags")))
      .map(t => opOfTags(t.split(",").toSeq)).getOrElse(-1)

  private class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, opOfProps(e.properties), e.time.toDouble, Double.NaN,
        e.stageIds, exec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.synchronized {
      val id = e.stageInfo.stageId
      if (!stages.contains(id)) stages(id) = new Stage(id, opOfProps(e.properties))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, -1))
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.cpuMs += m.executorCpuTime / 1e6
        st.bytesWritten += m.outputMetrics.bytesWritten
        st.recordsRead += m.inputMetrics.recordsRead
        st.bytesRead += m.inputMetrics.bytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    // A SQL execution's op comes from the job tags at its start; its
    // QueryExecution (planning phases, final plan) comes with its end event.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execOp.synchronized { execOp(s.executionId) = opOfTags(s.jobTags) }
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.qe(end).foreach { qe =>
          val planning = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
          val plan = qe.executedPlan
          val files = PlanNodes.fileScans(plan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
          val op = execOp.synchronized(execOp.getOrElse(end.executionId, -1))
          execs.synchronized {
            execs(end.executionId) = Exec(end.executionId, op, planning, files,
              PlanNodes.rowRddScans(plan) > 0)
          }
        }
      case _ => ()
    }
  }

  private class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e; () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  val OpTag = "perfbench-op-"

  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int,
                        cpuMs: Double, callerCpuMs: Double)
  final case class Op(id: Int, kind: String, start: Double, end: Double)
  final case class Job(id: Int, op: Int, start: Double, end: Double, stageIds: Seq[Int], exec: Long)
  final case class Exec(id: Long, op: Int, planningMs: Double, files: Long, rowRddScan: Boolean)
  final class Stage(val id: Int, val op: Int) {
    var tasks = 0; var cpuMs = 0.0
    var bytesWritten = 0L; var recordsRead = 0L; var bytesRead = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
}

/** Nodes of a final physical plan, inside adaptive query stages too. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }

  /** Scans that read rows from an RDD (a V1 `RDD[Row]` relation or an
    * existing RDD) instead of through a file scan. */
  def rowRddScans(p: SparkPlan): Int =
    collect(p) { case s if RowRddNodes(s.getClass.getSimpleName) => s }.size

  private val RowRddNodes = Set("RowDataSourceScanExec", "RDDScanExec")
}
