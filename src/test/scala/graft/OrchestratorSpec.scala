package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.{Band, BandCollector, MinutePipeline, Settings, SourceBatch}
import graft.sources.{MinuteLakeReader, MinuteLakeWriter, PartitionLedger, WatermarkStore}

/** Ingestion-lifecycle semantics from reference
  * `pipeline/orchestrator.py:99-175,321-502,634-641` (test style follows
  * the reference's fake-provider pytest fixtures). */
class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private def klineRecords(startIso: String, minutes: Int, base: Double = 100.0) = {
    val t0 = ms(startIso)
    (0 until minutes).map { i =>
      (t0 + 60000L * i, base + i, base + i + 1.0, base + i - 1.0, base + i + 0.5,
        2.0, 200.0, 10L, 1.0, 100.0)
    }.toDF("open_time", "open", "high", "low", "close", "volume_btc",
      "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")
  }

  private def auxKlineRecords(startIso: String, minutes: Int, prefix: String) = {
    val t0 = ms(startIso)
    (0 until minutes).map { i =>
      (t0 + 60000L * i, 100.0 + i, 100.5 + i)
    }.toDF("open_time", s"${prefix}_open", s"${prefix}_close")
  }

  private def tradeRecords(startIso: String, minutes: Int, qty: Double) = {
    val t0 = ms(startIso)
    (0 until minutes).map { i =>
      (1000L + i, 100.0, qty, 1L, 2L, t0 + 60000L * i + 500, false)
    }.toDF("agg_trade_id", "price", "qty", "first_trade_id", "last_trade_id",
      "transact_time", "is_buyer_maker")
  }

  private def env() = {
    val dir = tempDir("graft-orch").toString
    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      graft.sources.LakeLayout.DayWide(filesPerDay = 4))
    (dir, writer, new MinuteLakeReader(dir), new WatermarkStore(s"$dir/_wm"))
  }

  /** Fixture collector covering any window from full-range record
    * frames (the spine join bounds them); call log for assertions. */
  private class FakeCollector(allKlines: DataFrame, allAux: String => DataFrame,
                              restTrades: DataFrame,
                              visionKlines: Option[DataFrame] = None,
                              liveTrades: Option[DataFrame] = None)
    extends BandCollector {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    def vision(s: Instant, e: Instant): SourceBatch = {
      calls += "vision"
      SourceBatch(klines = visionKlines,
        markPriceKlines = Some(allAux("mark_price")),
        indexPriceKlines = Some(allAux("index_price")),
        aggTrades = Some(restTrades.limit(0))) // empty → triggers fallback
    }
    def rest(s: Instant, e: Instant): SourceBatch = {
      calls += "rest"
      SourceBatch(klines = Some(allKlines),
        markPriceKlines = Some(allAux("mark_price")),
        indexPriceKlines = Some(allAux("index_price")),
        aggTrades = Some(restTrades))
    }
    def liveAggTrades(s: Instant, e: Instant): Option[DataFrame] = {
      calls += "live"
      liveTrades
    }
  }

  test("the ingestion tick owns wide-delta compaction: busy tick folds at threshold, idle tick still compacts") {
    val dir = tempDir("graft-orch-wide").toString
    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      graft.sources.LakeLayout.DayWide(filesPerDay = 2))
    val reader = new MinuteLakeReader(dir)
    val wm = new WatermarkStore(s"$dir/_wm")
    val collector = new FakeCollector(
      klineRecords("2026-01-15T07:55:00Z", 200),
      p => auxKlineRecords("2026-01-15T07:55:00Z", 200, p),
      tradeRecords("2026-01-15T07:55:00Z", 200, qty = 2.0))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    def deltaDays = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$dir/futures/um/minute" + "/year=*/month=*/day=*/_delta")).toSeq.map(_.getPath.toString)

    // age disabled: this row pins the threshold half + the tick wiring
    // (the age half is pinned against controlled `now` in WideLakeSpec)
    val policy = graft.sources.CompactionPolicy(
      minFilesPerDay = 3, maxAgeMinutes = Long.MaxValue / 120000L)
    val pipe = new MinutePipeline(spark,
      Settings("BTCUSDT", compaction = policy), collector, writer, wm)

    // 3-hour bootstrap: hour 08 bulk-creates the wide day, hours 09/10
    // land as 2 delta files — below the 3-file threshold, so the tick
    // keeps them (served through the read overlay)
    val now = instant("2026-01-15T10:03:00Z")
    assert(pipe.runOnce(now).partitionsCommitted == 3)
    assert(deltaDays.size == 1, "below-threshold young deltas survive the tick")
    assert(reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-15T08:00:00Z"), instant("2026-01-15T10:59:00Z")).count() == 121)

    // next tick re-covers hour 10 and adds hour 11: 2 more delta files
    // cross the threshold, so the SAME tick folds the day
    val now2 = instant("2026-01-15T11:03:00Z")
    assert(pipe.runOnce(now2).partitionsCommitted == 2)
    assert(deltaDays.isEmpty, "busy tick compacted its own repairs at the threshold")

    // one repair patch below threshold — kept by its tick
    writer.writeDeltaPatch(
      reader.readWindow(spark, "BTCUSDT", instant("2026-01-15T09:00:00Z"),
        instant("2026-01-15T09:59:00Z")).withColumn("symbol", lit("BTCUSDT")))
    assert(deltaDays.size == 1)

    // an idle tick (nothing to ingest) still runs the policy: with the
    // threshold at 1 the stale delta folds even though no hour commits
    val idlePipe = new MinutePipeline(spark,
      Settings("BTCUSDT", compaction = policy.copy(minFilesPerDay = 1)),
      collector, writer, wm)
    assert(idlePipe.runOnce(now2).partitionsCommitted == 0)
    assert(deltaDays.isEmpty, "idle tick folded the stale delta")
    assert(reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-15T08:00:00Z"), instant("2026-01-15T11:59:00Z")).count() == 181)
  }

  test("the tick also bounds the partition ledger: oversized log rewritten as its live snapshot") {
    val (dir, writer, _, wm) = env()
    val collector = new FakeCollector(
      klineRecords("2026-01-15T07:55:00Z", 130),
      p => auxKlineRecords("2026-01-15T07:55:00Z", 130, p),
      tradeRecords("2026-01-15T07:55:00Z", 130, qty = 2.0))
    // pre-seed superseded history: 120 appends over 3 live keys
    val ledger = new PartitionLedger(s"$dir/_state")
    for (r <- 1 to 40; h <- 0 until 3)
      ledger.upsert(graft.sources.PartitionLedgerEntry(
        "BTCUSDT", "2026-01-14", h, s"$dir/p", r.toLong, "a", "b", "h",
        "COMMITTED", "t"))
    val logPath = java.nio.file.Paths.get(s"$dir/_state/partition_ledger.jsonl")
    assert(java.nio.file.Files.readAllLines(logPath).size == 120)

    val pipe = new MinutePipeline(spark,
      Settings("BTCUSDT",
        compaction = graft.sources.CompactionPolicy(ledgerMaxBytes = 1L)),
      collector, writer, wm)
    assert(pipe.runOnce(instant("2026-01-15T10:03:00Z")).partitionsCommitted == 3)
    val after = java.nio.file.Files.readAllLines(logPath).size
    // 3 pre-seeded live keys + 3 freshly committed hours + the new
    // day's base row (hour 08) and delta row (hours 09–10), nothing else
    assert(after == ledger.all().size && after == 8,
      s"log holds the live snapshot, saw $after lines")
  }

  test("band choice: HOT ≤6h, WARM ≤7d, COLD beyond (orchestrator.py:634-641)") {
    val now = instant("2026-01-15T12:00:00Z")
    assert(Orchestrator.chooseBand(now, instant("2026-01-15T08:00:00Z")) == Band.Hot)
    assert(Orchestrator.chooseBand(now, instant("2026-01-15T06:00:00Z")) == Band.Hot)
    assert(Orchestrator.chooseBand(now, instant("2026-01-12T12:00:00Z")) == Band.Warm)
    assert(Orchestrator.chooseBand(now, instant("2026-01-08T12:00:00Z")) == Band.Warm)
    assert(Orchestrator.chooseBand(now, instant("2026-01-01T12:00:00Z")) == Band.Cold)
  }

  test("run_once ingests 3 hours, advances watermark, reruns are no-ops (orchestrator.py:99-175)") {
    val (dir, writer, reader, wm) = env()
    val collector = new FakeCollector(
      klineRecords("2026-01-15T07:55:00Z", 130),
      p => auxKlineRecords("2026-01-15T07:55:00Z", 130, p),
      tradeRecords("2026-01-15T07:55:00Z", 130, qty = 2.0),
      liveTrades = Some(tradeRecords("2026-01-15T07:55:00Z", 130, qty = 7.0)))
    val pipe = new MinutePipeline(spark, Settings("BTCUSDT"), collector, writer, wm)

    val now = instant("2026-01-15T10:03:00Z")
    val res = pipe.runOnce(now)
    // bootstrap: watermark = target(10:00) - 121min = 07:59 → hours 08/09/10
    assert(res.partitionsCommitted == 3)
    assert(res.watermarkAfter.contains(instant("2026-01-15T10:00:00Z")))
    assert(res.bandsUsed == Seq(Band.Hot, Band.Hot, Band.Hot))
    // all three partitions on disk; hour 10 holds the single target minute
    val got = reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-15T08:00:00Z"), instant("2026-01-15T10:59:00Z"))
    assert(got.count() == 121)
    // live aggTrades substituted for REST ones (qty 7 → net taker 7)
    assert(got.where(col("net_taker_vol_btc") === 7.0).count() == 121)
    // rerun at the same now: watermark >= target → no work
    val res2 = pipe.runOnce(now)
    assert(res2.partitionsCommitted == 0)
    assert(res2.watermarkAfter == res2.watermarkBefore)
  }

  test("COLD band uses Vision and falls back to REST per empty stream (orchestrator.py:321-502)") {
    val (dir, writer, reader, wm) = env()
    // Vision has klines; its aggTrades come back empty → REST fallback
    val collector = new FakeCollector(
      klineRecords("2026-01-01T00:00:00Z", 60, base = 500.0),
      p => auxKlineRecords("2026-01-01T00:00:00Z", 60, p),
      tradeRecords("2026-01-01T00:00:00Z", 60, qty = 3.0),
      visionKlines = Some(klineRecords("2026-01-01T00:00:00Z", 60, base = 900.0)))
    val pipe = new MinutePipeline(spark, Settings("BTCUSDT"), collector, writer, wm)

    wm.set("BTCUSDT", instant("2025-12-31T23:59:00Z"))
    val res = pipe.runUntilTarget(instant("2026-01-01T00:59:00Z"),
      nowForBand = instant("2026-01-20T00:00:00Z"))
    assert(res.bandsUsed == Seq(Band.Cold))
    assert(res.partitionsCommitted == 1)
    val got = reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:59:00Z"))
    // Vision klines won (open 900-series), REST trades filled the gap
    assert(got.where(col("open") >= 900.0).count() == 60)
    assert(got.where(col("net_taker_vol_btc") === 3.0).count() == 60)
    assert(collector.calls.contains("vision") && collector.calls.contains("rest"))
  }

  test("WARM band takes live aggTrades but never REST fallback (orchestrator.py:569-585)") {
    val (dir, writer, reader, wm) = env()
    val collector = new FakeCollector(
      klineRecords("2026-01-10T00:00:00Z", 60),
      p => auxKlineRecords("2026-01-10T00:00:00Z", 60, p),
      tradeRecords("2026-01-10T00:00:00Z", 60, qty = 2.0)) // no live trades
    val pipe = new MinutePipeline(spark, Settings("BTCUSDT"), collector, writer, wm)
    wm.set("BTCUSDT", instant("2026-01-09T23:59:00Z"))
    val res = pipe.runUntilTarget(instant("2026-01-10T00:59:00Z"),
      nowForBand = instant("2026-01-12T00:00:00Z"))
    assert(res.bandsUsed == Seq(Band.Warm))
    val got = reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-10T00:00:00Z"), instant("2026-01-10T00:59:00Z"))
    // WARM: REST aggTrades are NOT used as fallback → no taker flow
    assert(got.where(col("net_taker_vol_btc") === 2.0).count() == 0)
    assert(got.count() == 60)
  }

  test("WARM window whose only source rows are REST aggTrades passes the " +
    "no-data gate (gate sees sources, not the post-policy discard)") {
    val (dir, writer, _, wm) = env()
    // every stream empty EXCEPT REST aggTrades; no live trades -> after the
    // WARM discard the batch is all-None, but the sources DID return data,
    // so the source-level no-data gate must NOT fire. The window still
    // can't commit (klines are HARD_REQUIRED at write time, matching the
    // reference's dq.py:54-63), but the error must be the writer's
    // accurate null-violation, not a bogus "No source rows".
    val collector = new FakeCollector(
      klineRecords("2026-01-10T00:00:00Z", 0),
      p => auxKlineRecords("2026-01-10T00:00:00Z", 0, p),
      tradeRecords("2026-01-10T00:00:00Z", 60, qty = 2.0))
    val pipe = new MinutePipeline(spark, Settings("BTCUSDT"), collector, writer, wm)

    // the gate itself: build succeeds, spine rows come back
    val frame = pipe.collectAndTransform(instant("2026-01-10T00:00:00Z"),
      instant("2026-01-10T00:59:00Z"), Band.Warm)
    assert(frame.count() == 60)

    // full run: the failure surfaces at the DQ write layer with the
    // accurate diagnosis, not the orchestrator's no-data error
    wm.set("BTCUSDT", instant("2026-01-09T23:59:00Z"))
    val ex = intercept[graft.validation.DataQualityException](pipe.runUntilTarget(
      instant("2026-01-10T00:59:00Z"), nowForBand = instant("2026-01-12T00:00:00Z")))
    assert(ex.getMessage.contains("HARD_REQUIRED"))
  }

  test("empty window raises a data-quality error (orchestrator.py:159-163)") {
    val (dir, writer, _, wm) = env()
    val empty = klineRecords("2026-01-10T00:00:00Z", 0)
    val collector = new FakeCollector(empty, p => auxKlineRecords("2026-01-10T00:00:00Z", 0, p),
      tradeRecords("2026-01-10T00:00:00Z", 0, qty = 1.0))
    val pipe = new MinutePipeline(spark, Settings("BTCUSDT"), collector, writer, wm)
    wm.set("BTCUSDT", instant("2026-01-09T23:59:00Z"))
    // every stream comes back empty → the no-data gate fires BEFORE the
    // build (the spine-joined frame itself is never empty)
    assertThrows[Orchestrator.DataQualityError](pipe.runUntilTarget(
      instant("2026-01-10T00:59:00Z"), nowForBand = instant("2026-01-10T01:00:00Z")))
  }
}
