package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def testDataDir(sf: String = "0.001"): String = s"/root/testdata/sf$sf"
  def resourcePath(rel: String): String =
    new java.io.File(getClass.getClassLoader.getResource(rel).toURI).getAbsolutePath

  /** The number of Spark jobs `body` starts, scoped as [[QueryMetrics.measure]]. */
  def jobsIn(body: => Any): Int = jobStagesIn(body).size

  /** The stage count of each Spark job `body` starts, skipped stages
    * included, in start order, scoped as [[QueryMetrics.measure]]. */
  def jobStagesIn(body: => Any): Seq[Int] =
    QueryMetrics.measure(spark)(body)._2.jobs.map(_.stages)

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new empty directory under `java.io.tmpdir`, named `prefix` plus a
    * random suffix. It is deleted, with all it holds, when the suite ends. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.getAbsolutePath
  }

  override def run(testName: Option[String], args: Args): Status = {
    val status = super.run(testName, args)
    status.whenCompleted { _ =>
      Iterator.continually(tempDirs.poll()).takeWhile(_ != null)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
    status
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
