package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet part files written straight under their final names, one per
  * non-empty partition, with no output committer: no `_temporary` tree, no
  * task or job renames, no `_SUCCESS`, no listing afterwards. A file is
  * published only by the caller's metadata commit naming it, so the
  * committer's job — making a half-written job invisible — is already done
  * by the log. Each task writes through the factory Spark's own Parquet sink
  * uses (same codec, same write support, the session's Hadoop conf), then
  * reads its closed file's footer back, so the caller can audit every file
  * against what it meant to write before the commit. */
object PartFileWriter {

  /** A closed part file as its footer describes it: row count, file length
    * and — when every row group carries statistics for the key column —
    * min/max of that column. */
  final case class Part(pid: Int, name: String, rows: Long, bytes: Long,
                        minKey: Option[Long], maxKey: Option[Long])

  /** Writes partition `p` of `rows` to `dir/part-<p>-<task attempt id><ext>`
    * in one Spark job and returns the parts, by partition id. Attempt ids are
    * unique within the application, so a retried or speculative attempt
    * never collides with an earlier one's file. `rows` must match
    * `schema`. `keyColumn` names the Long column whose footer min/max each
    * part reports. Refuses a `dir` that already exists; a failing task
    * deletes its partial file, so a failed job leaves at most `dir` itself
    * behind. */
  def write(spark: SparkSession, rows: RDD[InternalRow], schema: StructType, dir: String,
            blockBytes: Long, keyColumn: String): Seq[Part] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val options = Map("parquet.block.size" -> blockBytes.toString)
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, schema)
    val out = new Path(dir)
    val fs = out.getFileSystem(job.getConfiguration)
    if (fs.exists(out)) throw new FileAlreadyExistsException(s"output directory $dir already exists")
    val task = new WriteTask(factory,
      session.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      fs.makeQualified(out).toString, schema, keyColumn)
    session.sparkContext.runJob(rows, task).toSeq.flatten
  }

  private final class WriteTask(factory: OutputWriterFactory,
                                conf: Broadcast[SerializableConfiguration],
                                dir: String, schema: StructType, keyColumn: String)
    extends ((TaskContext, Iterator[InternalRow]) => Option[Part]) with Serializable {

    override def apply(tc: TaskContext, it: Iterator[InternalRow]): Option[Part] = {
      if (!it.hasNext) return None
      val pid = tc.partitionId()
      val hconf = conf.value.value
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("eslog", tc.stageId()), TaskType.MAP, pid), tc.attemptNumber())
      val ctx = new TaskAttemptContextImpl(hconf, attempt)
      val name = f"part-$pid%05d-${tc.taskAttemptId()}${factory.getFileExtension(ctx)}"
      val path = new Path(dir, name)
      val writer = factory.newInstance(path.toString, schema, ctx)
      var n = 0L
      try {
        while (it.hasNext) { writer.write(it.next()); n += 1 }
        writer.close()
      } catch {
        case e: Throwable =>
          try writer.close() catch { case s: Throwable => e.addSuppressed(s) }
          try path.getFileSystem(hconf).delete(path, false)
          catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
      val part = readFooter(path, hconf, pid, keyColumn)
      require(part.rows == n, s"$path: footer holds ${part.rows} rows, the task wrote $n")
      val metrics = tc.taskMetrics().outputMetrics
      metrics.setBytesWritten(part.bytes)
      metrics.setRecordsWritten(n)
      Some(part)
    }
  }

  private def readFooter(path: Path, conf: Configuration, pid: Int, keyColumn: String): Part = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var rows = 0L
      var minKey = Long.MaxValue; var maxKey = Long.MinValue; var statsOk = true
      reader.getFooter.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        block.getColumns.asScala.find(_.getPath.toDotString == keyColumn) match {
          case Some(c) =>
            val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
            if (st == null || !st.hasNonNullValue) statsOk = false
            else {
              minKey = math.min(minKey, st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
              maxKey = math.max(maxKey, st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
          case None => statsOk = false
        }
      }
      val haveStats = statsOk && rows > 0
      Part(pid, path.getName, rows, in.getLength,
        if (haveStats) Some(minKey) else None, if (haveStats) Some(maxKey) else None)
    } finally reader.close()
  }
}
