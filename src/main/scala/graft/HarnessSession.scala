package graft

import org.apache.spark.sql.SparkSession

/** The one session shape of the harness mains (`Bench`, `QTime`,
  * `PlanDump`, `Verify`, `Soak`), so every figure and oracle row they
  * produce comes from the same planner and file-split settings.
  * `local[$SPARK_GRAFT_CPUS]` (default `defaultCpus`) with as many shuffle
  * partitions, UTC, INT64-nanos Parquet read as bigint, no UI, WARN logs. */
object HarnessSession {

  def apply(defaultCpus: Int): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Record-batch payloads compress 10-20x, and Spark bins leaf splits
      // by COMPRESSED bytes — default 128 MiB bins decompress to multi-GB
      // CPU tasks, and a split count equal to the core count leaves zero
      // slack for stragglers (one GC pause or steal burst extends the whole
      // stage). 16 MiB bins ≈ 3-4 tasks per core on payload scans: measured
      // 0.7-0.9 s vs 2.3-9.0 s (unstable) for the same 2.6 GB hash at
      // default binning. Same setting a real deployment makes; documented
      // in the README's deployment notes.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // driver heap comes from the launching JVM (build.sbt javaOptions /
      // SPARK_DRIVER_MEM) — setting spark.driver.memory here would be a no-op
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
