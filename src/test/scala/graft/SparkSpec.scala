package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val Sf = "/root/testdata/sf0.001"

  private var tempDir: java.nio.file.Path = _

  /** This suite's own temporary directory, made on first use and deleted
    * after the suite: no two suites or suite runs share a path.
    */
  protected def suiteTempDir: String = synchronized {
    if (tempDir == null)
      // A neutral prefix: plan-text assertions must not match the path.
      tempDir = java.nio.file.Files.createTempDirectory("graft-spec-")
    tempDir.toString
  }

  override protected def afterAll(): Unit =
    try synchronized {
      if (tempDir != null) org.apache.commons.io.FileUtils.deleteDirectory(tempDir.toFile)
    } finally super.afterAll()
}

object SparkSpec {
  // One session for the whole test JVM (sbt forks a single JVM for tests).
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      // Generated-code compile failures must FAIL tests, not silently
      // de-codegen the stage: Janino errors (e.g. two fused kernels
      // redeclaring a local) otherwise downgrade to interpreted
      // execution with only a log line. CodegenFallback *expressions*
      // (the HOF formulations) are unaffected — this flag governs
      // compile errors only.
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Counts Spark jobs started while a block runs; register it with
  * `sparkContext.addSparkListener` around the measured blocks.
  */
final class JobCounter extends org.apache.spark.scheduler.SparkListener {
  private val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
  override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(): Unit
  }
  // The listener bus is async — wait until the count is stable.
  def during(body: => Unit): Int = {
    jobs.set(0)
    body
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val c = jobs.get()
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
    jobs.get()
  }
}
