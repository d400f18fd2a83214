package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{BusAccess, SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span counters, summed over every instance of the span. */
final class SpanTotals {
  var wallNs = 0L
  var coveredMs = 0L
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val catalystMs = new AtomicLong
  val fsOps = new AtomicLong
}

/** Attributes Spark work to named spans from outside the program.
  *
  * A span sets a job tag (`lb:<name>`) on the calling thread for its
  * duration. A [[SparkListener]] maps every job to the span tag it
  * carries and sums the task metrics of its stages per span; jobs that
  * carry no span tag are counted as unattributed. Catalyst time comes
  * from a [[QueryExecutionListener]]: spans never overlap in a traced
  * run, so the listener bus is drained when a span closes and every
  * query execution reported since the previous close belongs to it.
  * Filesystem operations are counted by [[CountingLocalFs]], which the
  * traced session installs as the `file:` scheme.
  *
  * Untraced runs use [[Tracer.off]]: spans only run their bodies. */
final class Tracer private (val sc: Option[SparkContext]) {
  import Tracer._

  private val totals = new ConcurrentHashMap[String, SpanTotals]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  // (span, startMs, endMs) per finished job and per closed span instance
  private val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val spanIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val pendingCatalystMs = new AtomicLong
  val unattributedJobs = new AtomicLong

  def enabled: Boolean = sc.isDefined

  private def spanTotals(name: String): SpanTotals =
    totals.computeIfAbsent(name, _ => new SpanTotals)

  /** Run `body` as one instance of span `name`. */
  def span[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      BusAccess.drain(ctx)
      pendingCatalystMs.set(0L)
      val tag = TagPrefix + name
      ctx.addJobTag(tag)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        ctx.removeJobTag(tag)
        BusAccess.drain(ctx)
        val st = spanTotals(name)
        st.synchronized { st.wallNs += wall }
        st.catalystMs.addAndGet(pendingCatalystMs.getAndSet(0L))
        spanIntervals.synchronized { spanIntervals += ((name, startMs, endMs)) }
      }
  }

  /** Re-tag the current thread for span `name`: pooled threads inherit
    * the job tags of whichever thread created them, so work handed to a
    * pool must name its span itself. */
  def onThread[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val stale = ctx.getJobTags()
      ctx.clearJobTags()
      ctx.addJobTag(TagPrefix + name)
      try body
      finally {
        ctx.clearJobTags()
        stale.foreach(ctx.addJobTag)
      }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobTagsProperty))).toSeq
        .flatMap(_.split(",")).filter(_.startsWith(TagPrefix))
      if (tags.size != 1) {
        unattributedJobs.incrementAndGet()
        Log.progress(s"job ${e.jobId} carries span tags ${tags.mkString("[", ",", "]")}: " +
          e.stageInfos.headOption.map(_.details.linesIterator.take(12).mkString(" | ")).orNull)
      }
      else {
        val name = tags.head.stripPrefix(TagPrefix)
        jobSpan.put(e.jobId, name)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageSpan.put(s, name))
        spanTotals(name).jobs.incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val name = jobSpan.remove(e.jobId)
      val start = jobStartMs.remove(e.jobId)
      if (name != null && start != null)
        jobIntervals.synchronized { jobIntervals += ((name, start.longValue, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val name = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (name != null && m != null) {
        val st = spanTotals(name)
        st.cpuNs.addAndGet(m.executorCpuTime)
        st.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        st.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        st.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      pendingCatalystMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  private def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    CountingLocalFs.tracer = Some(this)
  }

  /** FS operation issued on the current thread (driver or task). */
  private[lakebench] def countFsOp(): Unit = {
    val tagsProp = Option(TaskContext.get())
      .map(_.getLocalProperty(JobTagsProperty))
      .getOrElse(sc.map(_.getLocalProperty(JobTagsProperty)).orNull)
    Option(tagsProp).toSeq.flatMap(_.split(",")).find(_.startsWith(TagPrefix))
      .foreach(t => spanTotals(t.stripPrefix(TagPrefix)).fsOps.incrementAndGet())
  }

  /** Per-span totals, after the bus has drained. `driver_ms` is span wall
    * time not covered by any of the span's own jobs. */
  def snapshot(): Map[String, SpanTotals] = {
    sc.foreach(BusAccess.drain)
    val jobsBySpan = jobIntervals.synchronized(jobIntervals.toSeq).groupBy(_._1)
    spanIntervals.synchronized(spanIntervals.toSeq).foreach { case (name, lo, hi) =>
      val ivs = jobsBySpan.getOrElse(name, Nil)
        .map { case (_, a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curLo = -1L
      var curHi = -1L
      ivs.foreach { case (a, b) =>
        if (a > curHi) { covered += curHi - curLo; curLo = a; curHi = b }
        else curHi = math.max(curHi, b)
      }
      covered += curHi - curLo
      spanTotals(name).coveredMs += covered
    }
    spanIntervals.synchronized(spanIntervals.clear())
    totals.asScala.toMap
  }
}

object Tracer {
  val TagPrefix = "lb:"
  /** Local property under which Spark carries a thread's job tags. */
  val JobTagsProperty = "spark.job.tags"
  val off: Tracer = new Tracer(None)

  def on(spark: SparkSession): Tracer = {
    val t = new Tracer(Some(spark.sparkContext))
    t.install(spark)
    t
  }
}

/** `file:` filesystem that counts list, rename, delete, create, open and
  * status calls per span (installed only by the traced session). */
class CountingLocalFs extends LocalFileSystem {
  private def count(): Unit = CountingLocalFs.tracer.foreach(_.countFsOp())

  override def listStatus(f: Path): Array[FileStatus] = { count(); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { count(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count(); super.delete(f, recursive) }
  override def mkdirs(f: Path): Boolean = { count(); super.mkdirs(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { count(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { count(); super.getFileStatus(f) }
}

object CountingLocalFs {
  @volatile var tracer: Option[Tracer] = None
}
