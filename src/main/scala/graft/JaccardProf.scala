package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage decomposition for `dedup_jaccard` — where do its ~1.4 s go?
  * Sequential pieces of [[graft.operators.Dedup.ngramJaccard]]'s plan,
  * each timed in isolation on the registry corpus:
  *
  *  - `postings_cache`: explode + md5 + distinct + df-cap + the TWO
  *    shared() materializations (raw + capped) — forced by a count;
  *  - `sizes`: per-doc set sizes off the capped cache;
  *  - `pair_agg`: the postings self-join + per-pair intersection counts;
  *  - `full_head`: the registry body verbatim.
  *
  * Usage: runMain graft.JaccardProf [reps] [sfDir]
  */
object JaccardProf {
  def main(args: Array[String]): Unit = {
    val reps = if (args.length > 0) args(0).toInt else 5
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, OpUtil}

    def docs = Fixtures.documents(spark, sfDir)
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    force(Dedup.ngramJaccard(docs, "doc_id", "text")) // warm

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def stage(name: String)(body: => Unit): Unit = {
      val runs = (1 to reps).map(_ => timed(body))
      println(f"[jacprof] $name: median ${med(runs)}%.3f s  " +
        runs.map(s => f"$s%.3f").mkString(","))
    }

    def capped() = Dedup.cappedShingles(docs, "doc_id", "text", k = 3,
      maxDf = Dedup.DefaultMaxDf)
    stage("postings_cache") { capped().agg(count(lit(1))).collect(); () }
    stage("sizes") {
      OpUtil.shared(capped().groupBy("doc").agg(count(lit(1)).as("n")))
        .agg(count(lit(1))).collect(); ()
    }
    stage("pair_agg") {
      val sh = capped()
      force(sh.as("a").join(sh.as("b"),
          col("a.hm") === col("b.hm") && col("a.doc") < col("b.doc"))
        .groupBy(col("a.doc").as("i"), col("b.doc").as("j"))
        .agg(count(lit(1)).as("inter")))
    }
    stage("full_head") { force(Dedup.ngramJaccard(docs, "doc_id", "text")) }
    spark.stop()
  }
}
