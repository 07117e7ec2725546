package graft

/** Quick per-query timer for optimization work: same session shape as the
  * bench, warm pass + median/min of N timed noop-forced runs per named
  * registry query. Not the instrument of record (Bench is — gates,
  * sentinels, envelopes); this is the tight inner loop between code edits.
  *
  * Usage: runMain graft.QTime <sfDir> <q1,q2,...> [reps] */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = HarnessSession(32)
    def force(name: String): Unit = {
      spark.sparkContext.setJobDescription(s"qtime: $name")
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    names.foreach { n =>
      try force(n) catch { case e: Throwable =>
        System.err.println(s"[qtime] $n warm failed: ${e.getMessage}") }
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        force(n)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[qtime] $n: median ${secs(secs.size / 2)}%.3f s  min ${secs.head}%.3f s  " +
        s"runs ${secs.map(s => f"$s%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
