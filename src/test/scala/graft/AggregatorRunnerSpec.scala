package graft

import java.nio.file.Files
import java.time.Instant


import org.apache.spark.sql.functions._

import graft.operators.{AggregatorRunner, MinuteBuilder}
import graft.operators.AggregatorRunner.AggregatorStateStore
import graft.schema.{TimeframeSpec, Timeframes}
import graft.sources.{HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}

/** Lifecycle semantics from reference `tests/test_aggregator.py:130-258`. */
class AggregatorRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def canonicalMinutes(startIso: String, n: Int, baseOpen: Double = 100.0) = {
    val start = instant(startIso)
    val rows = (0 until n).map { i =>
      (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
        baseOpen + i, baseOpen + i + 1.0, baseOpen + i - 1.0, baseOpen + i + 0.5,
        1.0, 100000.0)
    }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
    MinuteBuilder.finalizeSchema(rows
      .withColumn("trade_count", lit(10L))
      .withColumn("mark_price_open", lit(100.0))
      .withColumn("mark_price_close", lit(100.5))
      .withColumn("index_price_open", lit(100.0))
      .withColumn("index_price_close", lit(100.4)))
  }

  private def newEnv() = {
    val dir = tempDir("graft-agg").toString
    val minuteWriter = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    val reader = new MinuteLakeReader(dir)
    val htfWriter = new HtfLakeWriter(s"$dir/htf", LakeLayout.DayWide(filesPerDay = 4))
    val state = new AggregatorStateStore(s"$dir/_aggstate")
    (dir, minuteWriter, reader, htfWriter, state)
  }

  /** A one-spec fleet poll — the incremental daemon's tick. */
  private def tick(reader: MinuteLakeReader, hw: HtfLakeWriter,
                   state: AggregatorStateStore, htfRoot: String,
                   spec: TimeframeSpec,
                   sourceLedger: Option[PartitionLedger] = None,
                   allowIncomplete: Boolean = false,
                   repairLookbackMinutes: Long = 120,
                   maxBucketsPerTick: Int = 0) =
    AggregatorRunner.runFleetTick(spark, reader, hw, state, htfRoot, Seq(spec),
      sourceLedger, allowIncomplete, repairLookbackMinutes, maxBucketsPerTick)
      .head._2

  /** One symbol's stored HTF rows, read straight from the tree. */
  private def htfRows(htfRoot: String, timeframe: String, symbol: String) =
    spark.read.parquet(s"$htfRoot/timeframe=$timeframe").where(col("symbol") === symbol)

  /** One symbol's stored HTF index, (bucket_start, bucket_complete) in
    * bucket order, read straight from the tree. */
  private def htfIndex(htfRoot: String, timeframe: String,
                       symbol: String): Seq[(Instant, Boolean)] =
    htfRows(htfRoot, timeframe, symbol)
      .orderBy("bucket_start").select("bucket_start", "bucket_complete")
      .collect().map(r => (r.getTimestamp(0).toInstant, r.getBoolean(1))).toSeq

  test("backfill writes only complete buckets; incomplete skipped (test_aggregator.py:130,352)") {
    val (dir, mw, reader, hw, state) = newEnv()
    // 14 minutes: two complete 5m buckets + 4 dangling
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 14))
    val res = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    assert(res.bucketsScanned == 2 && res.bucketsWritten == 2)
    val idx = htfIndex(s"$dir/htf", "5m", "BTCUSDT")
    assert(idx.map(_._1) ==
      Seq(instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:05:00Z")))
    assert(idx.forall(_._2))
    // second run is a no-op (idempotent)
    val res2 = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    assert(res2.bucketsScanned == 0 && res2.bucketsWritten == 0)
  }

  test("incremental completes new buckets as minutes arrive (test_aggregator.py:154)") {
    val (dir, mw, reader, hw, state) = newEnv()
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 5))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    // five more minutes arrive → next bucket completes
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10))
    val inc = tick(reader, hw, state, s"$dir/htf", Timeframes.parse("5m"))
    assert(inc.bucketsWritten >= 1)
    assert(htfIndex(s"$dir/htf", "5m", "BTCUSDT").size == 2)
    assert(inc.lagMinutes.contains(0L))
  }

  test("late-arrival repair rewrites a recent bucket idempotently (test_aggregator.py:178,211)") {
    val (dir, mw, reader, hw, state) = newEnv()
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    val before = htfRows(s"$dir/htf", "5m", "BTCUSDT")
      .where(col("bucket_start") === ts("2026-01-01T00:00:00Z"))
      .select("close").head.getDouble(0)
    // a late correction rewrites minute 00:04 with different prices
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:04:00Z", 1, baseOpen = 500.0))
    val inc = tick(reader, hw, state, s"$dir/htf", Timeframes.parse("5m"))
    assert(inc.repaired >= 1)
    val after = htfRows(s"$dir/htf", "5m", "BTCUSDT")
      .where(col("bucket_start") === ts("2026-01-01T00:00:00Z"))
    assert(after.count() == 1) // idempotent rewrite, no duplicate bucket rows
    assert(after.select("close").head.getDouble(0) == 500.5 && before == 104.5)
  }

  test("completable-bucket gate: mid-bucket 1d ticks skip the scan entirely; the boundary tick aggregates") {
    val (dir, mw, reader, hw, state) = newEnv()
    val spec1d = Timeframes.parse("1d")
    // one mid-day hour of minutes: every bucket overlapping any tick
    // window is the (incomplete) current day — the gate must return
    // zeros WITHOUT creating the htf tree (no scan, no aggregation)
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T10:00:00Z"),
      canonicalMinutes("2026-01-01T10:00:00Z", 60))
    val skipped = tick(reader, hw, state, s"$dir/htf", spec1d)
    assert(skipped == AggregatorRunner.IncrementalResult(0, 0, 0, 0, None))
    assert(!new java.io.File(s"$dir/htf/timeframe=1d").exists(),
      "gate skipped before any aggregation or write")
    // allowIncomplete callers bypass the gate (they WANT the partial bucket)
    val partial = tick(reader, hw, state, s"$dir/htf", spec1d,
      allowIncomplete = true)
    assert(partial.bucketsScanned == 1 && partial.bucketsWritten == 1)

    // complete the day + one next-day hour: the boundary tick's window
    // reaches the now-completable bucket, so it aggregates and writes
    (0 until 24).foreach { h =>
      mw.writeHourPartition("BTCUSDT",
        instant("2026-01-01T00:00:00Z").plusSeconds(3600L * h),
        canonicalMinutes(
          instant("2026-01-01T00:00:00Z").plusSeconds(3600L * h).toString, 60))
    }
    mw.writeHourPartition("BTCUSDT", instant("2026-01-02T00:00:00Z"),
      canonicalMinutes("2026-01-02T00:00:00Z", 60))
    val boundary = tick(reader, hw, state, s"$dir/htf", spec1d)
    assert(boundary.bucketsWritten >= 1)
    assert(htfIndex(s"$dir/htf", "1d", "BTCUSDT").filter(_._2).map(_._1) ==
      Seq(instant("2026-01-01T00:00:00Z")))
    // once the tick's lookback has cleared the boundary (repairs of the
    // closed bucket are no longer in-window), mid-bucket ticks skip
    // again — with the watermark set, lag is still reported
    mw.writeHourPartition("BTCUSDT", instant("2026-01-02T03:00:00Z"),
      canonicalMinutes("2026-01-02T03:00:00Z", 60))
    val again = tick(reader, hw, state, s"$dir/htf", spec1d)
    assert(again.bucketsScanned == 0 && again.bucketsWritten == 0 &&
      again.lagMinutes.isDefined)
  }

  test("watermark stops at last WRITTEN-complete bucket, not last missing") {
    val (dir, mw, reader, hw, state) = newEnv()
    // 7 minutes: one complete 5m bucket + an incomplete trailing bucket
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 7))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    // the skipped 00:05 bucket must stay ahead of the watermark…
    assert(state.get("BTCUSDT", "5m").contains(instant("2026-01-01T00:00:00Z")))
    // …so when its minutes arrive (even past any repair lookback) the
    // incremental run still materializes it
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10))
    val inc = tick(reader, hw, state, s"$dir/htf", Timeframes.parse("5m"),
      repairLookbackMinutes = 0)
    assert(inc.bucketsWritten >= 1)
    assert(htfIndex(s"$dir/htf", "5m", "BTCUSDT")
      .count(_._1 == instant("2026-01-01T00:05:00Z")) == 1)
  }

  test("whole-lake backfill aggregates every symbol in one pipeline") {
    val (dir, mw, reader, hw, state) = newEnv()
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10, baseOpen = 100.0))
    mw.writeHourPartition("ETHUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 7, baseOpen = 2000.0)) // 1 complete + dangle
    val res = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    assert(res.bucketsScanned == 3 && res.bucketsWritten == 3)
    val htf = spark.read.parquet(s"$dir/htf/timeframe=5m")
    assert(htf.where(col("symbol") === "BTCUSDT").count() == 2)
    assert(htf.where(col("symbol") === "ETHUSDT").count() == 1)
    // no cross-symbol bleed and per-symbol watermarks advanced
    assert(htf.where(col("symbol") === "ETHUSDT")
      .select("open").head.getDouble(0) == 2000.0)
    assert(state.get("BTCUSDT", "5m").contains(instant("2026-01-01T00:05:00Z")))
    assert(state.get("ETHUSDT", "5m").contains(instant("2026-01-01T00:00:00Z")))
    // idempotent rerun
    val res2 = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    assert(res2.bucketsScanned == 0 && res2.bucketsWritten == 0)
  }

  test("whole-lake incremental repairs every symbol in one pipeline") {
    val (dir, mw, reader, hw, state) = newEnv()
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 5, baseOpen = 100.0))
    mw.writeHourPartition("ETHUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 5, baseOpen = 2000.0))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", Timeframes.parse("5m"))
    // new minutes land for BOTH symbols; BTC also gets a late correction
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10, baseOpen = 100.0))
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:04:00Z", 1, baseOpen = 900.0))
    mw.writeHourPartition("ETHUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10, baseOpen = 2000.0))
    val inc = tick(reader, hw, state, s"$dir/htf", Timeframes.parse("5m"))
    // content-aware write-skip: BTC 00:00 is rewritten (the late
    // correction changed its close), both symbols' new 00:05 buckets
    // are written, but ETH 00:00 re-aggregates to IDENTICAL content and
    // must NOT be rewritten (the steady-state tick would otherwise
    // rewrite lookback-window buckets for every symbol every cadence)
    assert(inc.bucketsWritten == 3)
    assert(inc.repaired == 1) // only BTC 00:00 — changed ∩ existing-complete
    assert(inc.lagMinutes.contains(0L))
    val htf = spark.read.parquet(s"$dir/htf/timeframe=5m")
    assert(htf.where(col("symbol") === "BTCUSDT").count() == 2)
    assert(htf.where(col("symbol") === "ETHUSDT").count() == 2)
    // the late correction reached BTC's first bucket; ETH untouched by it
    assert(htf.where(col("symbol") === "BTCUSDT" &&
      col("bucket_start") === ts("2026-01-01T00:00:00Z"))
      .select("close").head.getDouble(0) == 900.5)
    assert(state.get("BTCUSDT", "5m").contains(instant("2026-01-01T00:05:00Z")))
    assert(state.get("ETHUSDT", "5m").contains(instant("2026-01-01T00:05:00Z")))
  }

  test("bulk write preserves sibling buckets in a partially-rewritten day") {
    val (dir, _, _, hw, _) = newEnv()
    def bucketRow(iso: String, close: Double) =
      Seq(("BTCUSDT", java.sql.Timestamp.from(instant(iso)), close, true))
        .toDF("symbol", "bucket_start", "close", "bucket_complete")
    hw.writeBucketsBulkAllSymbols(spark, "1h",
      bucketRow("2026-01-01T00:00:00Z", 1.0)
        .unionByName(bucketRow("2026-01-01T05:00:00Z", 2.0)))
    // rewrite only the 05:00 bucket; 00:00 (same day partition) must survive
    hw.writeBucketsBulkAllSymbols(spark, "1h", bucketRow("2026-01-01T05:00:00Z", 9.0))
    val rows = htfRows(s"$dir/htf", "1h", "BTCUSDT")
      .orderBy("bucket_start").select("close").collect().map(_.getDouble(0)).toSeq
    assert(rows == Seq(1.0, 9.0))
  }

  test("ledger gate: an unchanged lake token-skips the tick; new data re-arms it") {
    val (dir, mw, reader, hw, state) = newEnv()
    val ledger = Some(new PartitionLedger(s"$dir/_state"))
    val spec = Timeframes.parse("5m")
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 14))
    val full = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(full.bucketsWritten >= 2)
    // steady: same lake bytes, token matches → zeros, lag verbatim
    val skip = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(skip == AggregatorRunner.IncrementalResult(0, 0, 0, 0, full.lagMinutes))
    // parity: the ungated tick on the same lake also finds nothing to
    // write — the skip elides work, never results
    val ungated = tick(reader, hw, state, s"$dir/htf", spec)
    assert(ungated.bucketsWritten == 0)
    // new minutes land → the ledger moves → the gated tick runs
    Thread.sleep(10) // committedAt high-water must strictly advance
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 20))
    val rearmed = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(rearmed.bucketsWritten >= 1)
    // a different poll configuration never reuses this token
    val otherCfg = tick(reader, hw, state, s"$dir/htf", spec,
      sourceLedger = ledger, repairLookbackMinutes = 60)
    assert(otherCfg.bucketsScanned > 0)
  }

  test("data-driven repair window: a late write older than the blind lookback is caught (ledger) where blind misses it") {
    val (dir, mw, reader, hw, state) = newEnv()     // gated env
    val (dir2, mw2, reader2, hw2, state2) = newEnv() // blind env
    val ledger = Some(new PartitionLedger(s"$dir/_state"))
    val spec = Timeframes.parse("5m")
    def seed(w: graft.sources.MinuteLakeWriter): Unit = {
      w.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
        canonicalMinutes("2026-01-01T00:00:00Z", 10))
      w.writeHourPartition("BTCUSDT", instant("2026-01-04T00:00:00Z"),
        canonicalMinutes("2026-01-04T00:00:00Z", 10))
    }
    seed(mw); seed(mw2)
    // backfill owns history; the incremental tick then accounts for the
    // current lake state (and records the ledger token)
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    AggregatorRunner.runBackfillAll(spark, reader2, hw2, state2, s"$dir2/htf", spec)
    tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    tick(reader2, hw2, state2, s"$dir2/htf", spec)
    Thread.sleep(10)
    // a correction lands 3 DAYS back — far outside the 120-min lookback
    def late(w: graft.sources.MinuteLakeWriter): Unit =
      w.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
        canonicalMinutes("2026-01-01T00:04:00Z", 1, baseOpen = 500.0))
    late(mw); late(mw2)
    val gated = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(gated.bucketsWritten >= 1, "ledger window reaches the late write")
    def closeOf(d: String): Double =
      htfRows(s"$d/htf", "5m", "BTCUSDT")
        .where(col("bucket_start") === ts("2026-01-01T00:00:00Z"))
        .select("close").head.getDouble(0)
    assert(closeOf(dir) == 500.5)
    tick(reader2, hw2, state2, s"$dir2/htf", spec)
    // documents the gap the ledger closes: the blind window cannot see
    // a repair older than its lookback (backfill's job until now)
    assert(closeOf(dir2) == 104.5)
  }

  test("single-symbol gate: commits touching only OTHER symbols skip this symbol's tick") {
    // Fleet form: a commit that touched only ETHUSDT makes the tick
    // write only ETHUSDT's buckets. BTCUSDT is re-aggregated inside the
    // ledger window but write-skipped, so its stored HTF rows and
    // watermark stay identical (the day's files are shared with
    // ETHUSDT, so they are rewritten by its merge).
    val (dir, mw, reader, hw, state) = newEnv()
    val ledger = Some(new PartitionLedger(s"$dir/_state"))
    val spec = Timeframes.parse("5m")
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10))
    val first = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(first.bucketsWritten == 2)
    def btcRows(): Seq[String] =
      htfRows(s"$dir/htf", "5m", "BTCUSDT").collect().map(_.toString).sorted.toSeq
    val btcBefore = btcRows()
    val btcWm = state.get("BTCUSDT", spec.name)
    assert(btcBefore.nonEmpty && btcWm.isDefined)
    Thread.sleep(10)
    // another symbol's data lands: the token moves
    mw.writeHourPartition("ETHUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 10, baseOpen = 2000.0))
    val eth = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(eth.bucketsWritten == 2, s"only ETHUSDT's two buckets are written: $eth")
    assert(eth.repaired == 0)
    assert(htfIndex(s"$dir/htf", "5m", "ETHUSDT").size == 2)
    assert(btcRows() == btcBefore, "BTCUSDT's HTF rows must not change")
    assert(state.get("BTCUSDT", spec.name) == btcWm)
    // BTC's own data re-arms BTC
    Thread.sleep(10)
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 15))
    val rearmed = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = ledger)
    assert(rearmed.bucketsWritten == 1)
    assert(htfIndex(s"$dir/htf", "5m", "BTCUSDT").size == 3)
  }

  test("runFleetTick matches per-spec ticks; an unchanged lake skips the whole poll") {
    val (dir, mw, reader, hw, state) = newEnv()     // fleet env
    val (dir2, mw2, reader2, hw2, state2) = newEnv() // per-spec env
    val specs = Seq("5m", "1h", "1d").map(Timeframes.parse)
    def seed(w: graft.sources.MinuteLakeWriter): Unit = (0 until 25).foreach { h =>
      val hs = instant("2026-01-01T00:00:00Z").plusSeconds(3600L * h)
      w.writeHourPartition("BTCUSDT", hs, canonicalMinutes(hs.toString, 60))
    }
    seed(mw); seed(mw2)
    val ledger = Some(new PartitionLedger(s"$dir/_state"))
    val fleet = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", specs, sourceLedger = ledger).toMap
    val perSpec = specs.map(sp => sp.name ->
      tick(reader2, hw2, state2, s"$dir2/htf", sp)).toMap
    specs.foreach { sp =>
      assert(fleet(sp.name).bucketsWritten == perSpec(sp.name).bucketsWritten,
        s"${sp.name}: fleet=${fleet(sp.name)} perSpec=${perSpec(sp.name)}")
      assert(htfIndex(s"$dir/htf", sp.name, "BTCUSDT") ==
        htfIndex(s"$dir2/htf", sp.name, "BTCUSDT"), sp.name)
      assert(state.getAll(sp.name) == state2.getAll(sp.name), sp.name)
    }
    assert(fleet("1d").bucketsWritten == 1L) // Jan 1 closed by the Jan 2 hour
    // steady: the whole fleet poll is token skips
    val steady = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", specs, sourceLedger = ledger).toMap
    assert(steady.values.forall(r =>
      r.bucketsScanned == 0 && r.bucketsWritten == 0))
    // fresh data re-arms every spec through the shared poll
    Thread.sleep(10)
    val hs = instant("2026-01-02T01:00:00Z")
    mw.writeHourPartition("BTCUSDT", hs, canonicalMinutes(hs.toString, 60))
    val busy = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", specs, sourceLedger = ledger).toMap
    assert(busy("1h").bucketsWritten >= 1) // 01:00 hour completes
    assert(busy("1d").bucketsWritten == 0) // Jan 2 still open → gated
  }

  // ---- patch-bound windows on the wide layout (r16: a one-minute
  // merge into today must not re-aggregate day-to-date × width) ----

  private def wideEnv() = {
    val dir = tempDir("graft-agg-wide").toString
    val ledger = new PartitionLedger(s"$dir/_state")
    val mw = new graft.sources.MinuteLakeWriter(dir, ledger,
      graft.sources.LakeLayout.DayWide(filesPerDay = 2))
    (dir, mw, ledger, new MinuteLakeReader(dir),
      new graft.sources.HtfLakeWriter(s"$dir/htf", LakeLayout.DayWide(filesPerDay = 4)),
      new AggregatorStateStore(s"$dir/_aggstate"))
  }

  private def wideMinutes(startIso: String, n: Int, baseOpen: Double = 100.0) =
    canonicalMinutes(startIso, n, baseOpen).withColumn("symbol", lit("BTCUSDT"))

  test("wide-layout day merges: the repair window follows the WRITE's patch bounds, not the day's") {
    val (dir, mw, ledger, reader, hw, state) = wideEnv()
    val lg = Some(ledger)
    val spec = Timeframes.parse("5m")
    // day 1: 1000 minutes (00:00–16:39), then the accounting tick
    mw.writeDaysWide(wideMinutes("2026-01-01T00:00:00Z", 1000))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg)
    // one poll later, five fresh minutes merge INTO the same day: the
    // day's content bounds now span 00:00–16:44, but the write touched
    // only 16:40+ — the tick must scan just the new bucket, not the
    // 200 day-to-date buckets
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T16:40:00Z", 5), merge = true)
    val res = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg)
    assert(res.bucketsWritten == 1, s"the 16:40 bucket completes: $res")
    assert(res.bucketsScanned <= 2,
      s"window must start at the patch floor (16:40), not day start: $res")

    // TWO same-key writes between polls: a mid-day value repair AND a
    // fresh append — the version log carries both patch ranges, so ONE
    // tick repairs both (the deduped entry alone would know only the
    // second write's range and silently skip the 00:00 repair)
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T00:04:00Z", 1, baseOpen = 500.0),
      merge = true)
    mw.writeDaysWide(wideMinutes("2026-01-01T16:45:00Z", 5), merge = true)
    val both = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg)
    assert(both.bucketsWritten == 2 && both.repaired >= 1,
      s"both the 00:00 repair and the 16:45 append must land: $both")
    val repaired = spark.read.parquet(s"$dir/htf/timeframe=5m")
      .where(col("bucket_start") === ts("2026-01-01T00:00:00Z"))
      .select("close").head.getDouble(0)
    assert(repaired == 500.5)

    // compaction that drops an UNACCOUNTED superseded line (two writes
    // since the last tick, then compact: the first write's line is
    // gone) — the tick must fall back to the blind lookback (run,
    // never skip, never trust the holed version log for a too-narrow
    // window). Compacting away only already-accounted lines does NOT
    // trigger the fallback (droppedThrough strictly BEFORE the tick's
    // high-water; a drop stamped exactly AT it falls back too, since it
    // can shrink the tie set the tie-count mechanism relies on —
    // ADVICE r16 #2, boundary pinned in the unit test below).
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T16:50:00Z", 5), merge = true)
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T16:55:00Z", 5), merge = true)
    ledger.compact() // drops the 16:50 write's line — a real hole
    val afterCompact = tick(reader, hw, state, s"$dir/htf", spec,
      sourceLedger = lg)
    assert(afterCompact.bucketsWritten == 2,
      s"16:45 and 16:50 buckets complete: $afterCompact")
    assert(afterCompact.bucketsScanned >= 20,
      s"holed history ⇒ blind 120-min lookback, not a patch-tight window: $afterCompact")
  }

  test("duplicate stored HTF keys: counters don't fan out and the rewrite heals the tree (r21, VERDICT r20 #3)") {
    // The HTF tree is keyed-unique on (symbol, bucket_start) by
    // construction, but a crashed non-manifest publish or a
    // hand-repaired day can leave duplicates. The write-skip compare
    // summarizes the stored side per key, so a duplicate key (a) cannot
    // fan kept rows out through the left join (the r20 shape inflated
    // nWritten/repaired), and (b) always counts as CHANGED even when
    // every copy matches the recomputed content — the forced rewrite
    // heals the tree via the writer's last-wins merge.
    val dir = tempDir("graft-agg-dup").toString
    val ledger = new PartitionLedger(s"$dir/_state")
    val mw = new graft.sources.MinuteLakeWriter(dir, ledger,
      graft.sources.LakeLayout.DayWide(filesPerDay = 2))
    val reader = new MinuteLakeReader(dir)
    val hw = new graft.sources.HtfLakeWriter(s"$dir/htf",
      graft.sources.LakeLayout.DayWide(filesPerDay = 2))
    val state = new AggregatorStateStore(s"$dir/_aggstate")
    val spec = Timeframes.parse("5m")
    val lg = Some(ledger)
    // 10 minutes → buckets 00:00 and 00:05, both complete, indexed
    mw.writeDaysWide(wideMinutes("2026-01-01T00:00:00Z", 10))
    val first = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg)
    assert(first.bucketsWritten == 2)
    // crashed-publish simulation: an EXACT copy of the 00:00 bucket row
    // appended straight into the day dir — content identical, key now
    // duplicated, so only the __n_old guard can see it
    val dayDir = s"$dir/htf/timeframe=5m/year=2026/month=01/day=01"
    val dup = spark.read.parquet(dayDir)
      .where(col("bucket_start") === ts("2026-01-01T00:00:00Z"))
    assert(dup.count() == 1)
    dup.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(dayDir)
    // re-arm the ledger with a same-content minute merge: the recomputed
    // bucket fingerprints EQUAL the stored content, so nothing but the
    // duplicate key itself can mark 00:00 changed
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T00:04:00Z", 1, baseOpen = 104.0),
      merge = true)
    val res = tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg)
    // one bucket written (the dup-keyed one), counted ONCE — the r20
    // left join counted it per stored copy; and it was stored complete,
    // so repaired counts it once too
    assert(res.bucketsWritten == 1, s"dup key must not inflate counters: $res")
    assert(res.repaired == 1, s"repaired counts the bucket once: $res")
    // the rewrite healed the tree: exactly one row per key again
    val healed = spark.read.parquet(s"$dir/htf/timeframe=5m")
      .groupBy("symbol", "bucket_start").count()
      .where(col("count") > 1).count()
    assert(healed == 0, "last-wins merge removes the duplicate")
    assert(spark.read.parquet(s"$dir/htf/timeframe=5m").count() == 2)
  }

  test("bounded drain (r16 #4): capped ticks scan ≤ cap buckets per poll, carry the cursor, and converge to a token skip") {
    val (dir, mw, ledger, reader, hw, state) = wideEnv()
    val lg = Some(ledger)
    val spec = Timeframes.parse("5m")
    def capped() = tick(reader, hw, state, s"$dir/htf", spec,
      sourceLedger = lg, maxBucketsPerTick = 20)
    // day 1: 1000 dense minutes (00:00–16:39 → 200 5m buckets), indexed
    mw.writeDaysWide(wideMinutes("2026-01-01T00:00:00Z", 1000))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    // accounting polls under the capped deployment until steady
    var guard = 0
    while (capped().bucketsScanned > 0 && guard < 20) guard += 1
    assert(capped() == AggregatorRunner.IncrementalResult(0, 0, 0, 0,
      state.getTickState(s"5m|ai=false|lb=120|cap=20").get.lagMinutes),
      "capped deployment reaches the steady token skip")
    // a BIG late repair: minutes 00:04–08:03 rewritten (97 buckets of
    // backlog) — the uncapped tick would drain it in one poll; the
    // capped deployment must drain ≤20 buckets per poll and converge
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T00:04:00Z", 480, baseOpen = 500.0),
      merge = true)
    val polls = scala.collection.mutable.Buffer[AggregatorRunner.IncrementalResult]()
    var steady = false
    var i = 0
    while (!steady && i < 15) {
      val r = capped()
      steady = r.bucketsScanned == 0 && r.bucketsWritten == 0
      if (!steady) polls += r
      i += 1
    }
    assert(steady, s"capped drain must converge: $polls")
    assert(polls.forall(_.bucketsScanned <= 21),
      s"every capped poll stays within budget: ${polls.map(_.bucketsScanned)}")
    assert(polls.size >= 5, s"a 97-bucket backlog needs ≥5 polls at cap 20: ${polls.size}")
    assert(polls.map(_.bucketsWritten).sum == 97L,
      s"the drain repairs exactly the 97 patched buckets: ${polls.map(_.bucketsWritten)}")
    // the repaired content landed (bucket 00:05's open = patched minute
    // 00:05's open = 500 + 1)
    val repaired = spark.read.parquet(s"$dir/htf/timeframe=5m")
      .where(col("bucket_start") === ts("2026-01-01T00:05:00Z"))
      .select("open").head.getDouble(0)
    assert(repaired == 501.0, s"repaired bucket content: $repaired")
  }

  test("per-symbol drain cursor (r17 #3): skewed backlogs — a drained symbol scans ZERO on resume polls while the long one drains") {
    val (dir, mw, ledger, reader, hw, state) = wideEnv()
    val lg = Some(ledger)
    val spec = Timeframes.parse("5m")
    def symMinutes(s: String, startIso: String, n: Int, base: Double = 100.0) =
      canonicalMinutes(startIso, n, base).withColumn("symbol", lit(s))
    def capped() = tick(reader, hw, state, s"$dir/htf", spec,
      sourceLedger = lg, maxBucketsPerTick = 20)
    // heterogeneous frontiers: AAA indexed to its head (16:35), BBB
    // indexed only through 08:35 — then BBB's remaining 8 h lands, so
    // the capped deployment wakes COLD (no token under the cap key)
    // with AAA ~25 lookback-buckets behind and BBB 96 behind
    mw.writeDaysWide(symMinutes("AAAUSDT", "2026-01-01T00:00:00Z", 1000)
      .unionByName(symMinutes("BBBUSDT", "2026-01-01T00:00:00Z", 520)))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    Thread.sleep(10)
    mw.writeDaysWide(symMinutes("BBBUSDT", "2026-01-01T08:40:00Z", 480, 500.0),
      merge = true)
    val polls = scala.collection.mutable.Buffer[AggregatorRunner.IncrementalResult]()
    var steady = false
    var i = 0
    while (!steady && i < 15) {
      val r = capped()
      steady = r.bucketsScanned == 0 && r.bucketsWritten == 0
      if (!steady) polls += r
      i += 1
    }
    assert(steady, s"skewed capped drain must converge: $polls")
    // AAA drains within two polls (blind-lookback window ≈ 25 buckets);
    // from poll 3 on, every poll is BBB alone — ≤ 21 buckets, where the
    // r17 fleet-wide cursor restarted AAA at BBB's frontier and scanned
    // ~40 per poll re-aggregating AAA's already-drained ground
    assert(polls.size >= 5, s"96-bucket backlog at cap 20: ${polls.size}")
    assert(polls.drop(2).forall(_.bucketsScanned <= 21),
      s"drained AAA must scan zero on resume polls: ${polls.map(_.bucketsScanned)}")
    // exactly BBB's 96 fresh complete buckets get written; AAA's
    // lookback re-scan is fully write-skipped
    assert(polls.map(_.bucketsWritten).sum == 96L,
      s"writes = BBB's patched buckets only: ${polls.map(_.bucketsWritten)}")
    // cursor store cleared on convergence
    assert(state.getDrainCursors("5m|ai=false|lb=120|cap=20").isEmpty,
      "converged drain must clear its cursor block")
    // the drained content landed (BBB bucket 08:40 open = 500+0... its
    // first patched minute)
    val landed = spark.read.parquet(s"$dir/htf/timeframe=5m")
      .where(col("symbol") === "BBBUSDT" &&
        col("bucket_start") === ts("2026-01-01T08:40:00Z"))
      .select("open").head.getDouble(0)
    assert(landed == 500.0, s"BBB repaired bucket content: $landed")
  }

  test("budget-derived cap (r17 #4): the daemon sizes the cap from the poll budget and adapts its cost estimate, convergence intact") {
    val (dir, mw, ledger, reader, hw, state) = wideEnv()
    val lg = Some(ledger)
    val spec = Timeframes.parse("5m")
    def tick() = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", Seq(spec), sourceLedger = lg, pollBudgetMs = 6750)
      .head._2
    mw.writeDaysWide(wideMinutes("2026-01-01T00:00:00Z", 1000))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    var guard = 0
    while (tick().bucketsScanned > 0 && guard < 30) guard += 1
    // seed a deliberately-pessimistic cost estimate: 25 ms/bucket at a
    // 6.75 s budget (6 s steady floor) derives cap = 750/25 = 30
    // (above the amortization floor of 20 — a sub-floor derivation
    // clamps to the floor with a loud infeasibility warning instead of
    // death-spiraling into fixed-cost-dominated polls)
    state.setCostPerBucketMs(25.0)
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T00:04:00Z", 480, baseOpen = 900.0),
      merge = true)
    val polls = scala.collection.mutable.Buffer[AggregatorRunner.IncrementalResult]()
    var steady = false
    var i = 0
    while (!steady && i < 30) {
      val r = tick()
      steady = r.bucketsScanned == 0 && r.bucketsWritten == 0
      if (!steady) polls += r
      i += 1
    }
    assert(steady, s"budget-capped drain must converge: $polls")
    // poll 1 honors the derived cap (30 buckets + the boundary bucket)
    assert(polls.head.bucketsScanned <= 31,
      s"first poll must respect the seeded-cost cap: ${polls.map(_.bucketsScanned)}")
    assert(polls.map(_.bucketsWritten).sum == 97L,
      s"the drain repairs exactly the 97 patched buckets: ${polls.map(_.bucketsWritten)}")
    // the estimate adapted toward the measured (much cheaper) reality,
    // so later polls were allowed bigger caps — no hand-tuning needed
    val adapted = state.getCostPerBucketMs.get
    assert(adapted < 25.0, s"cost estimate must EWMA toward measurement: $adapted")
    // the budget polls recorded (scanned, wall) observations for the
    // two-term fit (r18 #2)
    assert(state.getCostObservations.nonEmpty,
      "budget polls must record cost observations")
    // a derivation BELOW the amortization floor clamps to the floor
    // (never the fixed-cost death zone): plant observations implying
    // an absurd FIXED cost (~8 min per scanning spec, clamped to the
    // 60 s model ceiling — still far past this 6.75 s budget) and
    // check one more backlog drains at cap ≥ 20 per poll — the floor
    // path through the REAL model
    state.setCostObservations(
      Seq((1L, 1000L, 500000.0), (2L, 1000L, 1000000.0)))
    Thread.sleep(10)
    mw.writeDaysWide(wideMinutes("2026-01-01T00:04:00Z", 480, baseOpen = 901.0),
      merge = true)
    val floored = tick()
    assert(floored.bucketsScanned >= 20 && floored.bucketsScanned <= 21,
      s"sub-floor derivations clamp to the floor cap: $floored")
    // the steady token lives under the BUDGET key (the realized cap
    // varies per poll and must not fragment tick state)
    assert(state.getTickState("5m|ai=false|lb=120|budget=6750").isDefined,
      "budget deployments key tick state by the budget")
  }

  test("two-term cost fit (r18 #2): separates fixed-per-SPEC from marginal-per-bucket; degenerate inputs fall back to None") {
    import AggregatorRunner.fitCostModel
    // clean synthetic polls: wall = 4000 × liveSpecs + 0.2 × scanned
    // (the r19 width-10k probe's measured shape)
    val obs = Seq((12L, 990000L, 246000.0), (3L, 440000L, 100000.0),
      (2L, 280000L, 64000.0), (1L, 200000L, 44000.0))
    val Some((f, m)) = fitCostModel(obs)
    assert(math.abs(f - 4000.0) < 1.0 && math.abs(m - 0.2) < 0.001,
      s"least squares must recover (4000/spec, 0.2/bucket): ($f, $m)")
    // <2 usable or collinear points cannot separate the terms → None
    // (caller falls back to the r18 seeded closed form)
    assert(fitCostModel(Nil).isEmpty)
    assert(fitCostModel(Seq((1L, 100L, 500.0))).isEmpty)
    assert(fitCostModel(Seq((2L, 200L, 500.0), (4L, 400L, 1000.0))).isEmpty,
      "proportional (live, scanned) rows are collinear")
    // a negative-slope artifact (cache warm-up) clamps the marginal at
    // its floor instead of deriving a runaway cap
    val Some((f2, m2)) = fitCostModel(
      Seq((1L, 100000L, 60000.0), (1L, 200000L, 30000.0)))
    assert(m2 == 0.01 && f2 >= 0.0 && f2 <= 60000.0, s"clamps: ($f2, $m2)")
    // observations round-trip through the tick-state file
    val dir = tempDir("graft-costobs").toString
    val state = new AggregatorStateStore(dir)
    state.addCostObservation(12L, 50000L, 22000.4)
    state.addCostObservation(3L, 100000L, 32000.0)
    assert(state.getCostObservations ==
      Seq((12L, 50000L, 22000.4), (3L, 100000L, 32000.0)))
    // rolling window caps at MaxCostObservations
    (1 to 12).foreach(i => state.addCostObservation(1L, i.toLong, i.toDouble))
    assert(state.getCostObservations.size == AggregatorRunner.MaxCostObservations)
    assert(state.getCostObservations.last == (1L, 12L, 12.0))
  }

  test("backlog-aware budget cap (r19): the sizer fits the predicted wall to the budget using real per-symbol backlogs") {
    import AggregatorRunner.bucketsSpanned
    val m5 = Timeframes.parse("5m")
    assert(bucketsSpanned(m5, instant("2026-01-01T00:00:00Z"),
      instant("2026-01-01T03:59:00Z")) == 48)
    assert(bucketsSpanned(m5, instant("2026-01-01T00:00:00Z"),
      instant("2026-01-01T00:00:00Z")) == 1)
    assert(bucketsSpanned(m5, instant("2026-01-01T01:00:00Z"),
      instant("2026-01-01T00:00:00Z")) == 0, "inverted window spans zero")
    val mo = Timeframes.parse("1M")
    assert(bucketsSpanned(mo, instant("2026-01-01T00:00:00Z"),
      instant("2026-03-15T00:00:00Z")) == 3, "calendar specs step buckets")
  }

  test("drain cursor store: an unparsable cursor discards the key's WHOLE block instead of silently classifying that symbol drained (r18 advice)") {
    val dir = tempDir("graft-cursors").toString
    val state = new AggregatorStateStore(dir)
    val key = "5m|ai=false|lb=120|cap=20"
    state.setDrainCursors(key, Map(
      "AAAUSDT" -> instant("2026-01-01T00:00:00Z"),
      "BBBUSDT" -> instant("2026-01-01T08:00:00Z")))
    assert(state.getDrainCursors(key).size == 2)
    // corrupt ONE entry in place (a hand edit / torn write)
    val f = java.nio.file.Paths.get(dir, "drain_cursors.json")
    java.nio.file.Files.writeString(f, java.nio.file.Files.readString(f)
      .replace("2026-01-01T08:00:00Z", "not-a-timestamp"))
    // a partial map would read BBBUSDT as DRAINED (absent from a
    // non-empty map) and skip its remaining backlog; the empty map is
    // the legacy shape — every symbol falls back to the global floor
    assert(state.getDrainCursors(key).isEmpty,
      "one corrupt cursor must discard the key's whole block")
    // other keys' blocks are untouched by the discard
    state.setDrainCursors("15m|cap=5", Map(
      "CCCUSDT" -> instant("2026-01-02T00:00:00Z")))
    assert(state.getDrainCursors("15m|cap=5").size == 1)
  }

  test("cost-estimate serialization is locale-proof: comma-decimal default locale round-trips (r18 advice)") {
    val dir = tempDir("graft-cost-locale").toString
    val state = new AggregatorStateStore(dir)
    val prev = java.util.Locale.getDefault
    try {
      // France formats 0.15 as "0,15" through locale-sensitive
      // formatting — the stored estimate must still parse back
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      state.setCostPerBucketMs(0.15)
      assert(state.getCostPerBucketMs.contains(0.15),
        s"estimate must survive a comma-decimal locale: ${state.getCostPerBucketMs}")
    } finally java.util.Locale.setDefault(prev)
  }

  test("changedSince compaction-guard boundary: a drop stamped exactly AT the high-water distrusts the version log (ADVICE r16 #2)") {
    import graft.sources.PartitionLedgerEntry
    def entry(at: String, pmin: String) = PartitionLedgerEntry(
      "__ALL__", "2026-01-10", -1, "p", 10,
      "2026-01-10T00:00:00Z", "2026-01-10T23:59:00Z", "h", "COMMITTED", at,
      "c", patchMinTs = pmin, patchMaxTs = pmin)
    val since = Instant.parse("2026-01-10T10:00:00Z")
    // one accounted commit exactly at the high-water, one newer commit
    val versions = Seq(
      entry("2026-01-10T10:00:00Z", "2026-01-10T00:04:00Z"),
      entry("2026-01-10T11:00:00Z", "2026-01-10T16:40:00Z"))
    def scope(dropped: Option[Instant]) = AggregatorRunner.changedSince(
      AggregatorRunner.SourceSnapshot("tok", Some(since), 1, versions, dropped),
      since, sinceTies = 1)
    // drop strictly before the high-water: accounted, the patch-tight
    // window from the newer commit's floor stands
    assert(scope(Some(since.minusSeconds(60))) ==
      AggregatorRunner.ChangeFrom(Instant.parse("2026-01-10T16:40:00Z")))
    // drop stamped exactly AT the high-water: it can have shrunk the
    // same-stamp tie set the tie-count disambiguation counts, so the
    // version log is no longer trustworthy — blind lookback
    assert(scope(Some(since)) == AggregatorRunner.ChangeUnknown)
    // and strictly-after stays blind (the pre-r17 behavior)
    assert(scope(Some(since.plusSeconds(60))) == AggregatorRunner.ChangeUnknown)
  }

  test("a PENDING delta row is no change: the tick snapshot and the ledger's dropped-through mark skip it") {
    import graft.sources.{PartitionLedger, PartitionLedgerEntry}
    val ledger = new PartitionLedger(tempDir("graft-pending-snap").toString)
    def entry(symbol: String, hour: Int, status: String, at: String) = PartitionLedgerEntry(
      symbol, "2026-01-10", hour, "p", 10, "2026-01-10T00:00:00Z", "2026-01-10T23:59:00Z",
      "h", status, at, "c", patchMinTs = "2026-01-10T00:04:00Z", patchMaxTs = "2026-01-10T00:05:00Z")
    ledger.upsert(entry("__ALL__", -1, "COMMITTED", "2026-01-10T10:00:00Z"))
    val before = AggregatorRunner.sourceSnapshot(ledger).get
    ledger.upsert(entry("__DELTA__", -2, "PENDING", "2026-01-10T11:00:00Z"))
    val pending = AggregatorRunner.sourceSnapshot(ledger).get
    assert((pending.token, pending.highWater, pending.versions) ==
      (before.token, before.highWater, before.versions))
    // the COMMITTED row supersedes it; compacting drops only the PENDING line
    ledger.upsert(entry("__DELTA__", -2, "COMMITTED", "2026-01-10T11:00:01Z"))
    assert(AggregatorRunner.sourceSnapshot(ledger).get.token != before.token)
    assert(ledger.compact() == 2)
    assert(ledger.droppedThrough().isEmpty)
  }

  /** `n` dense canonical minutes of one symbol, generated by Spark. */
  private def denseMinutes(symbol: String, startIso: String, n: Long) = {
    val t = timestamp_seconds(lit(instant(startIso).getEpochSecond) + col("id") * 60)
    MinuteBuilder.finalizeSchema(spark.range(n).select(t.as("timestamp"),
      (col("id") % 100 + 100.0).as("open"), (col("id") % 100 + 101.0).as("high"),
      (col("id") % 100 + 99.0).as("low"), (col("id") % 100 + 100.5).as("close"),
      lit(1.0).as("volume_btc"), lit(100000.0).as("volume_usdt"),
      lit(10L).as("trade_count"), lit(100.0).as("mark_price_open"),
      lit(100.5).as("mark_price_close"), lit(100.0).as("index_price_open"),
      lit(100.4).as("index_price_close")))
      .withColumn("symbol", lit(symbol))
  }

  test("1m and 1M keep separate watermarks; the month closes in a fleet that also ticks 1m") {
    // The watermark store upper-cases its keys. `1m` and `1M` once
    // shared one key, so the month read the minute's watermark, its
    // window started at the current month, and a closed month was
    // never written.
    val (dir, mw, _, reader, hw, state) = wideEnv()
    val specs = Seq(Timeframes.parse("1m"), Timeframes.parse("1M"))
    // Jan 1 00:00 – Feb 28 22:59: January complete, February one hour short
    mw.writeDaysWide(denseMinutes("BTCUSDT", "2026-01-01T00:00:00Z", 59L * 1440 - 60))
    specs.foreach(sp =>
      AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", sp))
    assert(state.get("BTCUSDT", "1m").contains(instant("2026-02-28T22:59:00Z")))
    assert(state.get("BTCUSDT", "1M").contains(instant("2026-01-01T00:00:00Z")))
    // the rest of February plus three hours of March: the lookback
    // window starts in March, so only the month's own watermark can
    // reach back to the closed February
    mw.writeDaysWide(denseMinutes("BTCUSDT", "2026-02-28T23:00:00Z", 240), merge = true)
    val res = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", specs).toMap
    assert(res("1m").bucketsWritten == 240)
    assert(res("1M").bucketsWritten == 1, s"February closes: ${res("1M")}")
    assert(htfIndex(s"$dir/htf", "1M", "BTCUSDT") == Seq(
      instant("2026-01-01T00:00:00Z") -> true,
      instant("2026-02-01T00:00:00Z") -> true))
    assert(state.get("BTCUSDT", "1m").contains(instant("2026-03-01T02:59:00Z")))
    assert(state.get("BTCUSDT", "1M").contains(instant("2026-02-01T00:00:00Z")))
    assert(state.getAll("1m").keySet == Set("BTCUSDT") &&
      state.getAll("1M").keySet == Set("BTCUSDT"))

    // keys an older store wrote (whole key upper-cased) still read back
    // for every timeframe whose name has no capital letter
    val legacyDir = tempDir("graft-wm-legacy")
    Files.writeString(legacyDir.resolve("watermarks.json"),
      """{"BTCUSDT|1H":"2026-01-01T05:00:00Z","BTCUSDT|5M":"2026-01-01T05:55:00Z"}""")
    val legacy = new AggregatorStateStore(legacyDir.toString)
    assert(legacy.get("btcusdt", "5m").contains(instant("2026-01-01T05:55:00Z")))
    assert(legacy.getAll("1h") == Map("BTCUSDT" -> instant("2026-01-01T05:00:00Z")))
  }

  test("fleet tick Spark job counts (wide layout): a token-skip poll launches none, a one-spec busy tick a fixed number") {
    val dir = tempDir("graft-agg-jobs").toString
    val ledger = new PartitionLedger(s"$dir/_state")
    val layout = graft.sources.LakeLayout.DayWide(filesPerDay = 2)
    val mw = new MinuteLakeWriter(dir, ledger, layout)
    val reader = new MinuteLakeReader(dir)
    val hw = new HtfLakeWriter(s"$dir/htf", layout)
    val state = new AggregatorStateStore(s"$dir/_aggstate")
    val spec = Timeframes.parse("15m")
    val lg = Some(ledger)
    mw.writeDaysWide(denseMinutes("AAAUSDT", "2026-01-01T00:00:00Z", 600)
      .unionByName(denseMinutes("BBBUSDT", "2026-01-01T00:00:00Z", 600)))
    AggregatorRunner.runBackfillAll(spark, reader, hw, state, s"$dir/htf", spec)
    tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg) // accounting poll

    val (steady, steadyJobs) = jobsOf(
      tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg))
    assert(steady.bucketsScanned == 0 && steady.bucketsWritten == 0)
    assert(steadyJobs == 0, s"a token-skip poll must launch no Spark job: $steadyJobs")

    Thread.sleep(10)
    mw.writeDaysWide(denseMinutes("AAAUSDT", "2026-01-01T10:00:00Z", 60)
      .unionByName(denseMinutes("BBBUSDT", "2026-01-01T10:00:00Z", 60)), merge = true)
    val (busy, busyJobs) = jobsOf(
      tick(reader, hw, state, s"$dir/htf", spec, sourceLedger = lg))
    assert(busy.bucketsWritten == 8, s"four fresh 15m buckets per symbol: $busy")
    assert(busyJobs == BusyTickJobs,
      s"a one-spec busy tick launches $BusyTickJobs Spark jobs, saw $busyJobs")
  }

  /** Jobs of the busy tick above: the latest scan, the aggregation with
    * its per-symbol collect, the write-skip compare and the bulk write.
    * Measured as 20 for the same lifecycle on the single-spec
    * incremental verb this tick replaced (a one-spec fleet tick then
    * cost 21: its persisted shared read added a job). A larger count
    * means a pass came back (a shared read under one spec, a second
    * collect, a re-derived touched-day set). */
  private val BusyTickJobs = 20
}
