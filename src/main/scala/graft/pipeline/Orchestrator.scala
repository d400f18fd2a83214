package graft.pipeline

import java.time.{Duration, Instant}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MinuteBuilder
import graft.sources.{CompactionPolicy, MinuteLakeWriter, WatermarkStore}

/** Minute-ingestion orchestrator — the reference's
  * `MinuteIngestionPipeline` lifecycle (`pipeline/orchestrator.py`):
  *
  *  - `run_once` / `run_until_target` (`:99-175`): watermark
  *    read-or-bootstrap, per-hour loop up to the safety-lagged target,
  *    write-then-advance so reruns are idempotent;
  *  - HOT ≤6h / WARM ≤7d / COLD band choice per window age (`:634-641`);
  *  - band collection with fallbacks (`:321-502`): COLD reads Vision
  *    dailies and falls back to REST per empty stream; HOT/WARM read
  *    REST with live-collector aggTrade substitution (`:569-585`,
  *    REST fallback only in HOT).
  *
  * Source access goes through [[BandCollector]], so the loop is fully
  * fixture-testable offline (the reference injects fake providers the
  * same way). Each hour is one bounded builder invocation + one atomic
  * partition write. A symbol-hour builds on one partition in one stage
  * (the builder merges its sources with a union and one aggregate, no
  * exchange), so hours/symbols parallelize as independent partitions of
  * whatever frame unions them.
  */
object Orchestrator {

  sealed trait Band
  object Band {
    case object Hot extends Band
    case object Warm extends Band
    case object Cold extends Band
  }

  /** Age-banded source choice (reference `orchestrator.py:634-641`). */
  def chooseBand(nowUtc: Instant, windowEnd: Instant): Band = {
    val age = Duration.between(windowEnd, nowUtc)
    if (age.compareTo(Duration.ofHours(6)) <= 0) Band.Hot
    else if (age.compareTo(Duration.ofDays(7)) <= 0) Band.Warm
    else Band.Cold
  }

  /** One window's worth of source record frames; `None` = stream absent
    * (fill-policy defaults downstream). Shapes are the
    * [[graft.sources.RestEndpoints]] / [[graft.sources.VisionLoader]]
    * record columns the minute builder consumes. */
  final case class SourceBatch(
      klines: Option[DataFrame] = None,
      markPriceKlines: Option[DataFrame] = None,
      indexPriceKlines: Option[DataFrame] = None,
      aggTrades: Option[DataFrame] = None,
      bookTickerSnapshots: Option[DataFrame] = None,
      premiumIndexSnapshots: Option[DataFrame] = None,
      metricsRows: Option[DataFrame] = None,
      fundingRates: Option[DataFrame] = None,
      topTraderRatioRows: Option[DataFrame] = None,
      globalRatioRows: Option[DataFrame] = None,
      liveFeatures: Option[DataFrame] = None)

  /** Source access per band; implementations wrap VisionLoader /
    * RestEndpoints / the live collector (or fixtures in tests). */
  trait BandCollector {
    /** Vision daily-ZIP streams for [start, endInclusive] (COLD). */
    def vision(windowStart: Instant, windowEndInclusive: Instant): SourceBatch
    /** REST streams for [start, endInclusive] (HOT/WARM primary, COLD
      * fallback). Implementations should also anchor snapshot-style
      * streams (bookTicker/premium/OI) to windowStart, as the reference
      * does (`orchestrator.py:413-457`). */
    def rest(windowStart: Instant, windowEndInclusive: Instant): SourceBatch
    /** Live-collector aggTrades for the window, if the collector has
      * them (`orchestrator.py:569-585`). */
    def liveAggTrades(windowStart: Instant, windowEndInclusive: Instant): Option[DataFrame]
  }

  final case class RunSummary(symbol: String, targetHorizon: Instant,
                              watermarkBefore: Option[Instant],
                              watermarkAfter: Option[Instant],
                              partitionsCommitted: Int,
                              bandsUsed: Seq[Band])

  final case class Settings(symbol: String,
                            safetyLagMinutes: Long = 3,
                            bootstrapLookbackMinutes: Long = 120,
                            compaction: CompactionPolicy = CompactionPolicy())

  final class DataQualityError(msg: String) extends RuntimeException(msg)

  final class MinutePipeline(spark: SparkSession, settings: Settings,
                             collector: BandCollector,
                             writer: MinuteLakeWriter,
                             watermarks: WatermarkStore) {

    private def floorMinute(t: Instant): Instant = t.truncatedTo(ChronoUnit.MINUTES)
    private def floorHour(t: Instant): Instant = t.truncatedTo(ChronoUnit.HOURS)

    /** Reference `run_once` (`orchestrator.py:99-110`): target = now
      * minus the safety lag (late-arrival guard). */
    def runOnce(now: Instant, maxHours: Option[Int] = None): RunSummary =
      runUntilTarget(floorMinute(now.minus(settings.safetyLagMinutes, ChronoUnit.MINUTES)),
        nowForBand = now, maxHours = maxHours)

    /** Reference `run_until_target` (`orchestrator.py:112-175`). */
    def runUntilTarget(targetHorizon: Instant, nowForBand: Instant,
                       maxHours: Option[Int] = None): RunSummary = {
      val target = floorMinute(targetHorizon)
      val before = watermarks.get(settings.symbol)
      val watermark = before.getOrElse {
        val w = target.minus(settings.bootstrapLookbackMinutes + 1, ChronoUnit.MINUTES)
        watermarks.set(settings.symbol, w)
        w
      }
      if (!watermark.isBefore(target)) {
        // idle tick: nothing to ingest, but the age half of the
        // compaction policy must still fire (a quiet lake's stale
        // deltas fold exactly here)
        maybeCompact(nowForBand)
        return RunSummary(settings.symbol, target, Some(watermark), Some(watermark), 0, Nil)
      }

      val missingStart = watermark.plus(1, ChronoUnit.MINUTES)
      val cappedTarget = maxHours.filter(_ > 0).map { h =>
        val maxEnd = missingStart.plus(h.toLong, ChronoUnit.HOURS).minus(1, ChronoUnit.MINUTES)
        if (maxEnd.isBefore(target)) maxEnd else target
      }.getOrElse(target)

      var committed = 0
      var current = watermark
      val bands = Seq.newBuilder[Band]
      var hourStart = floorHour(missingStart)
      while (!hourStart.isAfter(cappedTarget)) {
        val hourEnd = hourStart.plus(59, ChronoUnit.MINUTES)
        val windowStart = if (missingStart.isAfter(hourStart)) missingStart else hourStart
        val windowEnd = if (cappedTarget.isBefore(hourEnd)) cappedTarget else hourEnd
        val band = chooseBand(nowForBand, windowEnd)
        bands += band

        val frame = collectAndTransform(windowStart, windowEnd, band)
        writer.writeHourPartition(settings.symbol, hourStart, frame)
        current = windowEnd
        watermarks.set(settings.symbol, current)
        committed += 1
        hourStart = hourStart.plus(1, ChronoUnit.HOURS)
      }
      maybeCompact(nowForBand)
      RunSummary(settings.symbol, cappedTarget, before, Some(current), committed,
        bands.result())
    }

    /** The tick owns delta compaction (VERDICT r14 #2): late repairs
      * land as delta patches during the hour loop; days whose delta
      * population crossed the policy's threshold-OR-age bound fold
      * here, every tick (busy or idle). Idempotent + crash-safe (the
      * fold is a merge fixpoint) and readers see identical rows either
      * side of it, so cadence is pure economics. The same tick keeps
      * the append-only partition ledger a bounded last-wins snapshot
      * (it grows by one row per symbol-hour commit). */
    private def maybeCompact(now: Instant): Unit = {
      writer.compactWideDeltasIfDue(spark, now, settings.compaction)
      writer.compactLedgerIfLarge(settings.compaction.ledgerMaxBytes)
      ()
    }

    /** See [[Orchestrator.collectAndBuild]]. */
    def collectAndTransform(windowStart: Instant, windowEnd: Instant,
                            band: Band): DataFrame =
      collectAndBuild(spark, collector, windowStart, windowEnd, band)
  }

  /** Band collection + canonical build (`orchestrator.py:321-502`):
    * COLD = Vision with per-stream REST fallback; HOT/WARM = REST with
    * live aggTrade substitution (REST fallback only in HOT). The
    * no-data gate (`orchestrator.py:159-163`) fires here when EVERY
    * stream came back empty — the builder itself always emits spine
    * rows, so a frame-level emptiness check could never trigger.
    *
    * Standalone so the API service's on-demand rebuild path
    * (`live_data_api_service/service.py:1036-1117`) can run one bounded
    * build through the same band/fallback policy without a pipeline. */
  def collectAndBuild(spark: SparkSession, collector: BandCollector,
                      windowStart: Instant, windowEnd: Instant,
                      band: Band): DataFrame = {
      // one minute past the window end, mirroring the reference's
      // window_end_inclusive fetch bound (orchestrator.py:331); the
      // builder cuts every source to the window, dropping that minute
      val endInclusive = windowEnd.plus(1, ChronoUnit.MINUTES)

      def nonEmpty(o: Option[DataFrame]): Option[DataFrame] =
        o.filter(df => !df.isEmpty)

      val batch = band match {
        case Band.Cold =>
          val v = collector.vision(windowStart, endInclusive)
          lazy val r = collector.rest(windowStart, endInclusive)
          val aggTrades = nonEmpty(v.aggTrades)
            .orElse(nonEmpty(collector.liveAggTrades(windowStart, endInclusive)))
            .orElse(nonEmpty(r.aggTrades))
          val merged = v.copy(
            klines = nonEmpty(v.klines).orElse(nonEmpty(r.klines)),
            markPriceKlines = nonEmpty(v.markPriceKlines).orElse(nonEmpty(r.markPriceKlines)),
            indexPriceKlines = nonEmpty(v.indexPriceKlines).orElse(nonEmpty(r.indexPriceKlines)),
            aggTrades = aggTrades,
            // COLD metrics fall back to the REST OI snapshot when the
            // Vision dailies are missing (orchestrator.py:359-381)
            metricsRows = nonEmpty(v.metricsRows).orElse(nonEmpty(r.metricsRows)),
            premiumIndexSnapshots = nonEmpty(v.premiumIndexSnapshots)
              .orElse(nonEmpty(r.premiumIndexSnapshots)),
            fundingRates = nonEmpty(v.fundingRates).orElse(nonEmpty(r.fundingRates)),
            topTraderRatioRows = nonEmpty(v.topTraderRatioRows)
              .orElse(nonEmpty(r.topTraderRatioRows)),
            globalRatioRows = nonEmpty(v.globalRatioRows).orElse(nonEmpty(r.globalRatioRows)),
            bookTickerSnapshots = nonEmpty(v.bookTickerSnapshots),
            liveFeatures = nonEmpty(v.liveFeatures))
          if (merged.productIterator.forall(_ == None))
            throw new DataQualityError(
              s"No source rows for window $windowStart..$windowEnd")
          merged
        case Band.Hot | Band.Warm =>
          val r = collector.rest(windowStart, endInclusive)
          val live = nonEmpty(collector.liveAggTrades(windowStart, endInclusive))
          val rawAggTrades = live.orElse(nonEmpty(r.aggTrades))
          // WARM never falls back to REST trades — but the no-data gate
          // below must see what the SOURCES returned, not the policy's
          // discard, so the drop happens after normalization
          val aggTrades =
            if (band == Band.Hot) rawAggTrades else live
          val normalized = r.copy(aggTrades = rawAggTrades,
            klines = nonEmpty(r.klines),
            markPriceKlines = nonEmpty(r.markPriceKlines),
            indexPriceKlines = nonEmpty(r.indexPriceKlines),
            bookTickerSnapshots = nonEmpty(r.bookTickerSnapshots),
            premiumIndexSnapshots = nonEmpty(r.premiumIndexSnapshots),
            metricsRows = nonEmpty(r.metricsRows),
            fundingRates = nonEmpty(r.fundingRates),
            topTraderRatioRows = nonEmpty(r.topTraderRatioRows),
            globalRatioRows = nonEmpty(r.globalRatioRows),
            liveFeatures = nonEmpty(r.liveFeatures))
          if (normalized.productIterator.forall(_ == None))
            throw new DataQualityError(
              s"No source rows for window $windowStart..$windowEnd")
          // NOTE: no gate after the WARM discard — a WARM window whose only
          // source rows were REST aggTrades already passed the source-level
          // gate above; re-checking the post-policy batch would stall the
          // watermark on data the sources DID return.
          normalized.copy(aggTrades = aggTrades)
      }

      MinuteBuilder.buildCanonicalFrame(spark, windowStart, windowEnd,
        klines = batch.klines,
        markPriceKlines = batch.markPriceKlines,
        indexPriceKlines = batch.indexPriceKlines,
        aggTrades = batch.aggTrades,
        fundingRates = batch.fundingRates,
        bookTickerSnapshots = batch.bookTickerSnapshots,
        premiumIndexSnapshots = batch.premiumIndexSnapshots,
        metricsRows = batch.metricsRows,
        topTraderRatioRows = batch.topTraderRatioRows,
        globalRatioRows = batch.globalRatioRows,
        liveFeatures = batch.liveFeatures)
  }
}
