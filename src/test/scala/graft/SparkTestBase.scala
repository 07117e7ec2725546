package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp trees for a spec's data: each one [[tmpDir]] makes is deleted when
  * the spec ends, so a test run leaves nothing behind in the temp dir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
}

trait SparkTestBase extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"
  /** events with `ts` normalized to epoch-nanos BIGINT (see Fixtures.events). */
  def eventsDf: org.apache.spark.sql.DataFrame =
    Fixtures.events(spark, "/root/testdata/sf0.001")
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the full SQL surface, installed the way a cluster user configures it
      // (GraftSqlSpec ALSO exercises the live-session register() path)
      .config("spark.sql.extensions", "graft.sql.GraftSqlExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
