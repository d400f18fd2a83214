package lakebench

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AggregatorRunner
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.{Band, BandCollector, SourceBatch}
import graft.schema.Timeframes
import graft.sources.{HtfLakeReader, HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger, Retention}

/** Inputs made by set-up: the canonical history and the late patches as
  * parquet, and the raw source records of the fresh hours on the driver,
  * as a REST collector holds them before it hands them to the builder. */
final case class Inputs(dir: String, gen: Gen, hours: Int, sources: Map[String, Records]) {
  def history(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/history")
  def patches(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/patches")
  /** Patch `i` (0-based), as the frame `writeDeltaPatch` takes. */
  def patch(spark: SparkSession, i: Int): DataFrame =
    patches(spark).where(col("patch") === i).drop("patch")
  /** Records of one source for one symbol and fresh hour (local frame). */
  def source(spark: SparkSession, name: String, symbol: String, hour: Int): DataFrame = {
    val r = sources(name)
    spark.createDataFrame(r.rows.getOrElse((symbol, hour), Nil).asJava, r.schema)
  }
  /** Bytes of the canonical history as one zstd parquet file. */
  def userBytes(spark: SparkSession): Long = Lake.du(spark, s"$dir/history")
}

object Inputs {
  /** Generate and materialize every input of a run. */
  def materialize(spark: SparkSession, gen: Gen, hours: Int, dir: String): Inputs = {
    val history = gen.minutes(spark)
    history.coalesce(1).write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$dir/history")
    val hist = spark.read.parquet(s"$dir/history")
    gen.patches(spark, hist, hours).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/patches")
    Inputs(dir, gen, hours, gen.sources(hours))
  }
}

/** One lake: a day-wide minute lake, a day-wide HTF tree for the `fleet`
  * timeframes, and their state, all under `root`. Fleet ticks are gated
  * by the partition ledger; `lookbackMinutes` is their blind repair
  * window when no tick state is stored yet (the first tick), as long as
  * the history, so that the first tick also catches late patches. */
final class Lake(spark: SparkSession, val root: String, fleet: Seq[String],
                 lookbackMinutes: Long, tracer: Tracer) {
  private def step[T](name: String)(body: => T): T = {
    val r = tracer.span(name)(body)
    Log.progress(name)
    r
  }
  val ledger = new PartitionLedger(s"$root/_state")
  val writer = new MinuteLakeWriter(root, ledger, LakeLayout.DayWide(filesPerDay = 4))
  val reader = new MinuteLakeReader(root)
  val htfRoot = s"$root/htf"
  val htfWriter = new HtfLakeWriter(htfRoot, LakeLayout.DayWide(filesPerDay = 4))
  val htfReader = new HtfLakeReader(htfRoot)
  val state = new AggregatorRunner.AggregatorStateStore(s"$root/_aggstate")
  val specs = fleet.map(Timeframes.parse)

  def bulkWrite(history: DataFrame): Unit =
    step("sources.bulk_write")(writer.writeDaysWide(history))

  def backfillAll(): Seq[AggregatorRunner.BackfillResult] =
    step("operators.backfill_all") {
      specs.map(sp => AggregatorRunner.runBackfillAll(spark, reader, htfWriter, state,
        htfRoot, sp))
    }

  /** Builds fresh hour `h` of every symbol from its raw sources (lazy). */
  def collectAndBuild(in: Inputs, h: Int): DataFrame =
    step("pipeline.collect_and_build") {
      val lo = in.gen.hourStart(h)
      val hi = lo.plus(59, ChronoUnit.MINUTES)
      in.gen.symbols.map { sym =>
        Orchestrator.collectAndBuild(spark, new Collector(in, sym, h), lo, hi, Band.Hot)
          .withColumn("symbol", lit(sym))
      }.reduce(_ unionByName _)
    }

  def appendHour(frame: DataFrame): Unit =
    step("sources.append_hour")(writer.writeDaysWide(frame, merge = true))

  def deltaPatch(patch: DataFrame): Unit =
    step("sources.delta_patch")(writer.writeDeltaPatch(patch))

  private def tick(): Seq[(String, AggregatorRunner.IncrementalResult)] =
    AggregatorRunner.runFleetTick(spark, reader, htfWriter, state, htfRoot, specs,
      sourceLedger = Some(ledger), repairLookbackMinutes = lookbackMinutes)

  def fleetTick(): Seq[(String, AggregatorRunner.IncrementalResult)] =
    step("operators.fleet_tick")(tick())

  def steadyPoll(): Seq[(String, AggregatorRunner.IncrementalResult)] =
    tracer.span("operators.steady_poll")(tick())

  def compact(): Seq[String] =
    step("sources.compact")(writer.compactWideDeltas(spark))

  def retention(cutoff: Instant): Unit =
    step("sources.retention") {
      Retention.dropLakeDaysBefore(spark, root, cutoff, Some(ledger))
      specs.foreach(sp => Retention.dropHtfDaysBefore(spark, htfRoot, sp.name, cutoff))
    }

  def audit(): Seq[graft.sources.PartitionAuditResult] =
    step("sources.audit")(writer.auditPartitions(spark))
}

/** Serves one symbol's raw records for one fresh hour, as a REST
  * collector would. */
final class Collector(in: Inputs, symbol: String, hour: Int) extends BandCollector {
  private def records(name: String): Option[DataFrame] =
    Some(in.source(SparkSession.active, name, symbol, hour))
  def rest(lo: Instant, hi: Instant): SourceBatch = SourceBatch(
    klines = records("klines"),
    markPriceKlines = records("mark"),
    indexPriceKlines = records("index"),
    aggTrades = records("aggTrades"),
    bookTickerSnapshots = records("bookTicker"),
    premiumIndexSnapshots = records("premium"),
    metricsRows = records("metrics"),
    fundingRates = records("funding"))
  def vision(lo: Instant, hi: Instant): SourceBatch = rest(lo, hi)
  def liveAggTrades(lo: Instant, hi: Instant): Option[DataFrame] = None
}

object Lake {
  def du(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
