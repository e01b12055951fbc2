package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for suites (one per JVM, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def testDataDir(sf: String = "0.001"): String = s"/root/testdata/sf$sf"
  def resourcePath(rel: String): String =
    new java.io.File(getClass.getClassLoader.getResource(rel).toURI).getAbsolutePath

  /** The number of Spark jobs `body` starts, counted by job group. */
  def jobsIn(body: => Any): Int = jobStagesIn(body).size

  /** The stage count of each Spark job `body` starts, skipped stages
    * included, in start order, counted by job group. */
  def jobStagesIn(body: => Any): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) stages.add(e.stageInfos.size)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerFlush.flush(sc)
      stages.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

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
