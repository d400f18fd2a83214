package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session keeps
  * the suite fast). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  def instant(s: String): java.time.Instant = java.time.Instant.parse(s)

  def ms(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temporary directory (under `parent` when given), deleted
    * with everything in it when the suite ends. */
  def tempDir(prefix: String): Path = keep(Files.createTempDirectory(prefix))

  def tempDir(parent: Path, prefix: String): Path =
    keep(Files.createTempDirectory(parent, prefix))

  private def keep(dir: Path): Path = { tempDirs.add(dir); dir }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally tempDirs.forEach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile))

  /** `body`'s result and the Spark jobs it launched (the listener bus is
    * drained before and after, so no other work's jobs are counted). */
  def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
