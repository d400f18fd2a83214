package graft

import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.service.{QueryService, ResultCache}

class QueryServiceSpec extends SparkSpec {
  import spark.implicits._

  test("result cache: exact hit, TTL expiry, LRU eviction (service.py:192-550)") {
    var clock = Instant.parse("2026-01-15T10:00:00Z")
    val cache = new ResultCache[String, Int](maxEntries = 2,
      stableTtlSeconds = 100, recentTtlSeconds = 5, now = () => clock)
    val computes = new AtomicInteger(0)

    def get(k: String, stable: Boolean): Int =
      cache.getOrCompute(k, stable) { computes.incrementAndGet(); k.length }

    assert(get("a", stable = true) == 1 && computes.get == 1)
    assert(get("a", stable = true) == 1 && computes.get == 1) // exact hit
    assert(cache.lastHitType == cache.ExactHit)

    // recent TTL expires after 5s
    assert(get("bb", stable = false) == 2 && computes.get == 2)
    clock = clock.plusSeconds(6)
    assert(get("bb", stable = false) == 2 && computes.get == 3) // expired → recompute
    // stable entry still fresh at +6s
    assert(get("a", stable = true) == 1 && computes.get == 3)

    // LRU cap of 2: inserting a third evicts the oldest
    get("ccc", stable = true)
    assert(cache.size == 2)
  }

  test("result cache: superset hit slices a covering entry") {
    val cache = new ResultCache[(Int, Int), Seq[Int]]()
    def covers(k2: (Int, Int), k1: (Int, Int)): Boolean =
      k2._1 <= k1._1 && k1._2 <= k2._2
    def slice(k: (Int, Int), v: Seq[Int]): Seq[Int] = v.filter(x => x >= k._1 && x <= k._2)

    cache.getOrCompute((0, 10), stable = true)(0 to 10)
    val got = cache.getOrCompute((2, 5), stable = true, covers, slice)(
      fail("must not compute — superset hit expected"))
    assert(got == Seq(2, 3, 4, 5))
    assert(cache.lastHitType == cache.SupersetHit)
  }

  test("result cache: partial hit extends the window and stores the merge (service.py:444-471,1902-1960)") {
    // key = (end, limit) over a bar list; a smaller-limit entry for the
    // same end is a partial → only the missing head is computed
    val cache = new ResultCache[(String, Int), Seq[Int]]()
    val computed = scala.collection.mutable.ArrayBuffer[String]()
    def load(end: String, limit: Int): Seq[Int] =
      cache.getOrCompute((end, limit), stable = true,
        partialOf = (k2, k1) => k2._1 == k1._1 && k2._2 < k1._2,
        partialRank = k2 => k2._2.toLong,
        extend = (k1, partial) => {
          computed += s"extend-missing-${k1._2 - partial.size}"
          val head = (1 to (k1._2 - partial.size)).map(i => partial.min - i).reverse
          Some((head ++ partial).takeRight(k1._2))
        }) {
        computed += s"full-$limit"
        (1 to limit).map(i => 100 + i)
      }

    assert(load("e1", 2) == Seq(101, 102) && computed.toSeq == Seq("full-2"))
    // limit=4 with a limit=2 entry cached: extend computes only 2 bars
    assert(load("e1", 4) == Seq(99, 100, 101, 102))
    assert(cache.lastHitType == cache.PartialHit)
    assert(computed.toSeq == Seq("full-2", "extend-missing-2"))
    // the merged result is stored under the requested key → exact hit now
    assert(load("e1", 4) == Seq(99, 100, 101, 102))
    assert(cache.lastHitType == cache.ExactHit)
    assert(computed.size == 2)
    // larger cached limits are preferred among partials: both (2) and (4)
    // exist; limit=5 extends from the 4-bar entry, computing 1 bar
    assert(load("e1", 5) == Seq(98, 99, 100, 101, 102))
    assert(computed.last == "extend-missing-1")
    // a different end window never partial-matches
    assert(load("e2", 3) == Seq(101, 102, 103))
    assert(computed.last == "full-3")
  }

  test("premium snapshot cache: 1s TTL, dedup under burst, errors never cached (service.py:863-917,200)") {
    import graft.service.SnapshotCache
    var clock = 0L
    val fetches = new AtomicInteger(0)
    val cache = new SnapshotCache[String](ttlMillis = 1000L, nowMillis = () => clock)
    def fetch(): String = { fetches.incrementAndGet(); s"snap@$clock" }

    // burst inside one TTL window → ONE upstream fetch
    val first = cache.getOrFetch("btcusdt")(fetch())
    (1 to 20).foreach(_ => assert(cache.getOrFetch("BTCUSDT")(fetch()) == first))
    assert(fetches.get == 1) // key normalization: btcusdt == BTCUSDT
    clock = 999L
    assert(cache.getOrFetch("BTCUSDT")(fetch()) == first && fetches.get == 1)
    // past the TTL → exactly one more fetch
    clock = 1001L
    val second = cache.getOrFetch("BTCUSDT")(fetch())
    assert(second == "snap@1001" && fetches.get == 2)
    // per-symbol keying: a different symbol fetches independently
    assert(cache.getOrFetch("ETHUSDT")(fetch()) == "snap@1001" && fetches.get == 3)

    // concurrent burst: N threads, cold key → one fetch, all share it
    val cold = new SnapshotCache[String](ttlMillis = 1000L, nowMillis = () => 0L)
    val n = new AtomicInteger(0)
    val results = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val threads = (1 to 8).map(_ => new Thread(() =>
      results.add(cold.getOrFetch("BTCUSDT") {
        Thread.sleep(50); n.incrementAndGet(); "one"
      })))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(n.get == 1 && results.size == 8)
    results.forEach(r => assert(r == "one"))

    // a failed fetch propagates and is NOT cached — the next call retries
    val failing = new SnapshotCache[String](ttlMillis = 1000L, nowMillis = () => 0L)
    assertThrows[RuntimeException](
      failing.getOrFetch("BTCUSDT")(throw new RuntimeException("boom")))
    assert(failing.getOrFetch("BTCUSDT")("recovered") == "recovered")

    // TTL <= 0 disables storing: every caller fetches (reference max(ttl, 0))
    val off = new SnapshotCache[String](ttlMillis = 0L, nowMillis = () => 0L)
    val m = new AtomicInteger(0)
    off.getOrFetch("X") { m.incrementAndGet(); "a" }
    off.getOrFetch("X") { m.incrementAndGet(); "b" }
    assert(m.get == 2)
  }

  test("result cache: concurrent same-key calls share ONE compute; waiters respect the wait bound") {
    // N threads, one key → exactly one compute, everyone gets its value
    val cache = new ResultCache[String, String]()
    val computes = new AtomicInteger(0)
    val results = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val threads = (1 to 8).map(_ => new Thread(() =>
      results.add(cache.getOrCompute("k", stable = true) {
        Thread.sleep(100); computes.incrementAndGet(); "value"
      })))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(computes.get == 1 && results.size == 8)
    results.forEach(r => assert(r == "value"))

    // a waiter parks no longer than inflightWaitSeconds (was hard-coded 300)
    val bounded = new ResultCache[String, String](inflightWaitSeconds = 0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val finish = new java.util.concurrent.CountDownLatch(1)
    val owner = new Thread(() => {
      bounded.getOrCompute("slow", stable = true) {
        started.countDown(); finish.await(); "late"
      }; ()
    })
    owner.start(); started.await()
    assertThrows[java.util.concurrent.TimeoutException](
      bounded.getOrCompute("slow", stable = true)("never-computed"))
    finish.countDown(); owner.join()
  }

  test("cached candle service: exact/superset/partial front over compute (service.py:1877-1960)") {
    import graft.service.QueryService.CachedCandleService
    val cache = new ResultCache[(String, String, Int, Long), Seq[(Long, String)]]()
    val svc = new CachedCandleService(cache,
      lastCompletedMinute = () => Instant.parse("2026-01-15T12:00:00Z"))
    val computes = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def compute(limit: Int, endExclusive: Long): Seq[(Long, String)] = {
      computes += ((limit, endExclusive))
      // bars at 1-minute spacing ending just before endExclusive
      val lastBar = (endExclusive - 1) / 60000 * 60000
      (0 until limit).reverse.map(i => (lastBar - i * 60000L, s"bar@${lastBar - i * 60000L}"))
    }
    val end = ms("2026-01-15T10:00:00Z")

    val r1 = svc.candleBars("BTCUSDT", "1m", 3, end)(compute)
    assert(r1.size == 3 && r1.last._1 == end && computes.size == 1)
    // exact hit
    assert(svc.candleBars("BTCUSDT", "1m", 3, end)(compute) == r1 && computes.size == 1)
    // superset slice: limit 2 served from the limit-3 entry
    val r2 = svc.candleBars("BTCUSDT", "1m", 2, end)(compute)
    assert(r2 == r1.takeRight(2) && computes.size == 1)
    assert(cache.lastHitType == cache.SupersetHit)
    // partial extension: limit 5 computes ONLY the 2 missing older bars
    val r5 = svc.candleBars("BTCUSDT", "1m", 5, end)(compute)
    assert(r5.size == 5 && computes.size == 2)
    assert(computes.last == ((2, r1.head._1))) // missing head before earliest
    assert(r5.map(_._1) == (0 until 5).reverse.map(i => end - i * 60000L))
    assert(cache.lastHitType == cache.PartialHit)
    // stored under the requested key → exact hit next time
    assert(svc.candleBars("BTCUSDT", "1m", 5, end)(compute) == r5 && computes.size == 2)
  }

  test("serializeFrame: aliases, internal scrub, ISO-8601 ms timestamps (utils.py:73-110)") {
    val df = Seq((ts("2026-01-15T10:00:00Z"), 100.5, 0.01, 7.0))
      .toDF("timestamp", "vwap_1m", "realized_vol_1m", "_internal")
    val out = QueryService.serializeFrame(df)
    assert(out.columns.toSet == Set("timestamp", "vwap_bar", "realized_vol_bar"))
    assert(out.select("timestamp").head.getString(0) == "2026-01-15T10:00:00.000Z")

    val compat = QueryService.serializeFrame(
      Seq((ts("2026-01-15T10:00:00Z"), 100.5)).toDF("timestamp", "vwap_1m"),
      includeDeprecatedFields = true)
    assert(compat.columns.toSet == Set("timestamp", "vwap_1m", "vwap_bar"))
  }

  test("capability planner: native vs legacy vs unavailable (capabilities.py:48-95)") {
    import graft.service.Capabilities
    import graft.service.Capabilities.{CandleFetchMode, FetchPlannerConfig}
    val native = Capabilities.planTimeframeFetch("5m")
    assert(native.candleSource == "binance_native" && !native.fallbackUsed)
    assert(!native.notes.exists(_.startsWith("open_interest"))) // 5m supports OI hist
    val native3m = Capabilities.planTimeframeFetch("3m")
    assert(native3m.notes.contains("open_interest_hist_not_supported_for_3m"))
    val legacy = Capabilities.planTimeframeFetch("45m")
    assert(legacy.candleSource == "legacy_1m" && legacy.fallbackUsed)
    assert(legacy.notes.contains("native_candle_timeframe_not_supported"))
    val unavailable = Capabilities.planTimeframeFetch("45m",
      FetchPlannerConfig(allowLegacy1mFallback = false))
    assert(unavailable.candleSource == "unavailable")
    val forced = Capabilities.planTimeframeFetch("5m",
      FetchPlannerConfig(candleFetchMode = CandleFetchMode.AggregateFrom1m))
    assert(forced.candleSource == "legacy_1m" &&
      forced.notes.contains("candle_fetch_mode_aggregate_from_1m"))
  }

  test("indicator payload: EMA + previous-period pivots from one window (live_indicators/service.py:32-238)") {
    val dir = tempDir("graft-ind").toString
    val writer = new graft.sources.MinuteLakeWriter(dir,
      new graft.sources.PartitionLedger(s"$dir/_state"),
      graft.sources.LakeLayout.DayWide(filesPerDay = 4))
    val reader = new graft.sources.MinuteLakeReader(dir)
    val h0 = instant("2026-01-15T10:00:00Z")
    // two hours of minutes, close ramps upward
    for (hour <- 0 until 2) {
      val start = h0.plusSeconds(hour * 3600L)
      val rows = (0 until 60).map { i =>
        val v = 100.0 + hour * 60 + i
        (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
          v, v + 1.0, v - 1.0, v + 0.5, 1.0, 100000.0)
      }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
      writer.writeHourPartition("BTCUSDT", start,
        graft.operators.MinuteBuilder.finalizeSchema(rows
          .withColumn("trade_count", lit(10L))
          .withColumn("mark_price_open", lit(100.0))
          .withColumn("mark_price_close", lit(100.5))
          .withColumn("index_price_open", lit(100.0))
          .withColumn("index_price_close", lit(100.4))))
    }
    val payload = graft.service.QueryService.indicatorPayload(spark, reader,
      "BTCUSDT", emaTf = "5m", emaLength = 3, pivotTf = "1h",
      endTime = instant("2026-01-15T12:00:00Z"))
    assert(payload.ema.isDefined && payload.ema.get > 100.0)
    // pivots from the 11:00-12:00 hour: high=160+59+1=... h=max high, l=min low, c=last close
    val p = payload.pivots
    assert(p.keySet == Set("p", "r1", "r2", "s1", "s2"))
    val (hi, lo, cl) = (160.0 + 59 + 1.0, 160.0 - 1.0, 160.0 + 59 + 0.5)
    assert(math.abs(p("p") - (hi + lo + cl) / 3.0) < 1e-9)
    // every pivot follows the pivotPoints formula, not only p
    val pv = (hi + lo + cl) / 3.0
    val wantPivots = Map("p" -> pv, "r1" -> (pv * 2.0 - lo), "r2" -> (pv + (hi - lo)),
      "s1" -> (pv * 2.0 - hi), "s2" -> (pv - (hi - lo)))
    wantPivots.foreach { case (k, v) => assert(math.abs(p(k) - v) < 1e-9, k) }
    // the EMA is TradingView's over the window's complete 5m bars (the
    // window opens at 11:00, the pivot period's start, which reaches
    // further back than the 9-bar warm-up): SMA seed over the first 3
    // closes, then the α-blend; it is served at the last complete bar
    val closes = (0 until 12).map(j => 164.5 + 5 * j)
    val a = 2.0 / (3 + 1.0)
    val wantEma = closes.drop(3).foldLeft(closes.take(3).sum / 3.0) { (e, x) =>
      a * x + (1.0 - a) * e
    }
    assert(math.abs(payload.ema.get - wantEma) < 1e-9)
    assert(payload.emaBarTs.contains("2026-01-15T11:55:00Z"))

    def at(end: String, emaLength: Int) = graft.service.QueryService.indicatorPayload(
      spark, reader, "BTCUSDT", emaTf = "5m", emaLength = emaLength, pivotTf = "1h",
      endTime = instant(end))
    // fewer complete bars (24) than the EMA length: no EMA, but the bar
    // it would be served at is still reported
    val short = at("2026-01-15T12:00:00Z", emaLength = 100)
    assert(short.ema.isEmpty && short.emaBarTs.contains("2026-01-15T11:55:00Z"))
    assert(short.pivots == p)
    // no complete bar at all (10:00-10:03 only): neither is reported
    val none = at("2026-01-15T10:03:00Z", emaLength = 3)
    assert(none.ema.isEmpty && none.emaBarTs.isEmpty && none.pivots.isEmpty)
    // an empty previous pivot period (09:00-10:00) serves no pivots
    val noPivots = at("2026-01-15T10:30:00Z", emaLength = 3)
    assert(noPivots.pivots.isEmpty)
    assert(noPivots.ema.isDefined && noPivots.emaBarTs.contains("2026-01-15T10:25:00Z"))
  }

  test("canonical window load reports coverage (service.py:1036-1117)") {
    val dir = tempDir("graft-qs").toString
    val writer = new graft.sources.MinuteLakeWriter(dir,
      new graft.sources.PartitionLedger(s"$dir/_state"),
      graft.sources.LakeLayout.DayWide(filesPerDay = 4))
    val reader = new graft.sources.MinuteLakeReader(dir)
    val start = instant("2026-01-15T10:00:00Z")
    val rows = (0 until 5).map { i =>
      (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
        100.0, 101.0, 99.0, 100.5, 1.0, 100000.0)
    }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
    writer.writeHourPartition("BTCUSDT", start,
      graft.operators.MinuteBuilder.finalizeSchema(rows
        .withColumn("trade_count", lit(10L))
        .withColumn("mark_price_open", lit(100.0))
        .withColumn("mark_price_close", lit(100.5))
        .withColumn("index_price_open", lit(100.0))
        .withColumn("index_price_close", lit(100.4))))
    val cov = QueryService.loadCanonicalWindow(spark, reader, "BTCUSDT",
      start, start.plusSeconds(9 * 60)).coverage
    assert(cov.expectedMinutes == 10 && cov.observedMinutes == 5 && !cov.complete)

    // end-to-end: candleBars over the 5 stored minutes at 5m
    val bars = QueryService.candleBars(spark, reader, "BTCUSDT", "5m",
      start, start.plusSeconds(4 * 60))
    assert(bars.count() == 1)
    assert(bars.select("timestamp").head.getString(0) == "2026-01-15T10:00:00.000Z")
    assert(bars.columns.contains("cvd_btc") && bars.columns.contains("vwap_bar"))
  }

  test("O4: frame granularity inference + aggregate-vs-passthrough routing (service.py:2293-2301)") {
    def frameOf(gapsSecs: Seq[Long]): org.apache.spark.sql.DataFrame = {
      val t0 = instant("2026-01-15T10:00:00Z")
      gapsSecs.scanLeft(0L)(_ + _).dropRight(1)
        .map(s => Tuple1(java.sql.Timestamp.from(t0.plusSeconds(s))))
        .toDF("timestamp")
    }
    // < 2 rows, missing column, null leading ts → 1 (reference fallbacks)
    assert(QueryService.inferFrameMinutes(frameOf(Seq(60L))) == 1)
    assert(QueryService.inferFrameMinutes(Seq(1).toDF("x")) == 1)
    assert(QueryService.inferFrameMinutes(
      Seq(Option.empty[java.sql.Timestamp], Some(java.sql.Timestamp.from(Instant.now)))
        .toDF("timestamp")) == 1)
    // 5m gap → 5; 90s gap floors to 1; sub-minute clamps to 1
    assert(QueryService.inferFrameMinutes(frameOf(Seq(300L, 300L))) == 5)
    assert(QueryService.inferFrameMinutes(frameOf(Seq(90L, 90L))) == 1)
    assert(QueryService.inferFrameMinutes(frameOf(Seq(10L, 10L))) == 1)
    // inference sorts first — reversed input gives the same answer
    val t0 = instant("2026-01-15T10:00:00Z")
    val rev = Seq(600L, 300L, 0L)
      .map(s => Tuple1(java.sql.Timestamp.from(t0.plusSeconds(s)))).toDF("timestamp")
    assert(QueryService.inferFrameMinutes(rev) == 5)

    // routing: a 1m canonical window AGGREGATES; the resulting 5m frame
    // replayed through the same entry point passes through only when the
    // CALLER says so (preAggregated=true — re-aggregating it as minute
    // data would gate every bucket incomplete and drop all bars; the
    // reference's cached-frame replay case). Passthrough is never
    // inferred from the data.
    val spec = graft.schema.Timeframes.parse("5m")
    val minutes = (0 until 10).map { i =>
      (java.sql.Timestamp.from(t0.plusSeconds(60L * i)),
        100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 1.0, 100000.0)
    }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
    val window = graft.operators.MinuteBuilder.finalizeSchema(
      minutes.withColumn("trade_count", lit(10L)))
    val viaAggregate = QueryService.candleBarsFromFrame(window, spec, 10)
    assert(viaAggregate.count() == 2)

    val fiveMin = graft.operators.QueryAggregator
      .aggregateCanonicalFrame(window, spec, 10)
    assert(QueryService.inferFrameMinutes(fiveMin) == 5)
    val viaPassthrough =
      QueryService.candleBarsFromFrame(fiveMin, spec, 10, preAggregated = true)
    val pt = viaPassthrough.select("timestamp", "close").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val ag = viaAggregate.select("timestamp", "close").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(pt.toSeq == ag.toSeq) // same bars, no re-bucketing
    // and the naive path really does destroy the frame: every 5m bucket
    // sees 1 row != 5 expected minutes → complete-bar gate drops it
    assert(graft.operators.QueryAggregator
      .aggregateCanonicalFrame(fiveMin, spec, 10).count() == 0)
    // limit applies on the passthrough path too
    assert(QueryService.candleBarsFromFrame(fiveMin, spec, 1,
      preAggregated = true).count() == 1)

    // regression (round-7 advice): a SPARSE 1m window whose leading gap
    // equals the bar width (minutes 10:00 and 10:05 present, 10:01-10:04
    // missing) must still take the aggregation path — the old 2-row
    // inference read the 5-minute gap as "already 5m data" and served
    // minute OHLC rows raw, skipping the complete-bar gate. With the
    // explicit-marker design the default aggregates, the gate sees
    // 1 observed != 5 expected minutes per bucket, and drops both bars.
    val sparse = graft.operators.MinuteBuilder.finalizeSchema(
      Seq(0L, 300L).map { s =>
        (java.sql.Timestamp.from(t0.plusSeconds(s)),
          100.0, 101.0, 99.0, 100.5, 1.0, 100000.0)
      }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
        .withColumn("trade_count", lit(10L)))
    assert(QueryService.inferFrameMinutes(sparse) == 5) // the trap the heuristic falls into
    assert(QueryService.candleBarsFromFrame(sparse, spec, 10).count() == 0)

    // overlay consumer (service.py:1174-1186): the INFERRED 5m width
    // drives the bucket floor — an OI row at 10:07 floors to the 10:05
    // bucket and attaches to the 10:05 bar exactly; the 10:00 bar picks
    // it up through the one-bar as-of fallback (exact pass didn't fill
    // every bar, so aligned-wins applies — same semantics as j2). With
    // a naive 1m width the row would floor to 10:07, past both bar
    // closes, and attach to NOTHING.
    val oi = Seq((t0.plusSeconds(7 * 60).toEpochMilli, 1234.0, 5678.0))
      .toDF("create_time", "oi_contracts", "oi_value_usdt")
    val overlaid = graft.service.NativeCandles.overlayOiHist(fiveMin, Some(oi))
    val got = overlaid.select("timestamp", "oi_contracts").collect()
      .map(r => (r.getTimestamp(0).toInstant, Option(r.get(1))))
      .toMap
    assert(got(t0.plusSeconds(300)) == Some(1234.0))
    assert(got(t0) == Some(1234.0))
    // empty frame / absent series pass through untouched
    assert(graft.service.NativeCandles.overlayOiHist(fiveMin, None) eq fiveMin)
  }

  test("BTC local-only route: HTF direct, 1m fallback, best-partial (service.py:1729-1831)") {
    import java.nio.file.Files
    import graft.operators.{AggregatorRunner, MinuteBuilder}
    import graft.sources.{HtfLakeReader, HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
    val dir = tempDir("graft-btc").toString
    val mw = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    val reader = new MinuteLakeReader(dir)
    val hw = new HtfLakeWriter(s"$dir/htf", LakeLayout.DayWide(filesPerDay = 4))
    val hr = new HtfLakeReader(s"$dir/htf")

    // 2 hours of minutes → backfill 5m HTF buckets
    val start = instant("2026-01-15T08:00:00Z")
    val rows = (0 until 120).map { i =>
      (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
        100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 1.0, 100000.0)
    }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
    val canonical = MinuteBuilder.finalizeSchema(rows
      .withColumn("trade_count", lit(10L))
      .withColumn("mark_price_open", lit(100.0))
      .withColumn("mark_price_close", lit(100.5))
      .withColumn("index_price_open", lit(100.0))
      .withColumn("index_price_close", lit(100.4)))
    // backfill HTF from hour 1 only, THEN land hour 2 minutes — the HTF
    // lake lags the minute lake by an hour (12 vs 24 complete buckets)
    mw.writeHourPartition("BTCUSDT", start, canonical.where(
      col("timestamp") < java.sql.Timestamp.from(start.plusSeconds(3600))))
    AggregatorRunner.runBackfillAll(spark, reader, hw,
      new AggregatorRunner.AggregatorStateStore(s"$dir/_agg"),
      s"$dir/htf", graft.schema.Timeframes.parse("5m"))
    mw.writeHourPartition("BTCUSDT", start.plusSeconds(3600), canonical.where(
      col("timestamp") >= java.sql.Timestamp.from(start.plusSeconds(3600))))

    val end = instant("2026-01-15T10:00:00Z")
    // HTF lake covers the 08:40-09:00 window for limit=4 → direct read
    val direct = QueryService.btcLocalOnlyBars(spark, reader, hr,
      "BTCUSDT", "5m", instant("2026-01-15T09:00:00Z"), limit = 4)
    assert(direct.fetchMode == "direct_local_higher_tf")
    assert(direct.notes == Seq("using_local_btc_higher_timeframe_lake"))
    assert(direct.frame.count() == 4)
    // limit=20 exceeds the 12 HTF buckets but not the 24 from 1m agg
    val viaMinutes = QueryService.btcLocalOnlyBars(spark, reader, hr,
      "BTCUSDT", "5m", end, limit = 20)
    assert(viaMinutes.fetchMode == "aggregate_from_1m")
    assert(viaMinutes.notes.contains("btc_higher_tf_local_lake_partial_window"))
    assert(viaMinutes.notes.contains("btc_local_path_selected"))
    // limit=100 exceeds everything → best partial, no Binance fallback
    val partial = QueryService.btcLocalOnlyBars(spark, reader, hr,
      "BTCUSDT", "5m", end, limit = 100)
    assert(partial.source == "local")
    assert(partial.notes.contains("btc_local_only_no_binance_fallback"))
    assert(partial.frame.count() == 24) // all complete 5m buckets from 1m agg
  }

  test("usage tracker: weight estimation, header progression, retry wiring (binance_usage.py)") {
    import graft.service.UsageTracker
    import graft.sources.RestClient.{HttpError, HttpResponse, RetryingClient, Transport}
    assert(UsageTracker.estimateKlineWeight("/fapi/v1/klines", Map("limit" -> "1500")).contains(10))
    assert(UsageTracker.estimateKlineWeight("/fapi/v1/klines", Map("limit" -> "99")).contains(1))
    assert(UsageTracker.estimateKlineWeight("/fapi/v1/aggTrades", Map("limit" -> "1000")).isEmpty)
    assert(UsageTracker.estimateKlineWeight("/fapi/v1/klines", Map.empty).isEmpty)

    var calls = 0
    val transport = new Transport {
      def get(p: String, q: Map[String, String]): String = ""
      override def getResponse(p: String, q: Map[String, String]): HttpResponse = {
        calls += 1
        if (calls == 1) throw HttpError(429, retryAfterSeconds = Some(3))
        HttpResponse("[]", 200, Map("x-mbx-used-weight-1m" -> (calls * 10).toString))
      }
    }
    val client = new RetryingClient(transport, minIntervalMs = 0,
      sleep = _ => (), jitterMs = () => 0, now = () => 0)
    val fields = UsageTracker.scope("/api/v1/perpetual-data") { tracker =>
      client.get("/fapi/v1/klines", Map("limit" -> "500", "symbol" -> "BTCUSDT"))
      client.get("/fapi/v1/klines", Map("limit" -> "500", "symbol" -> "BTCUSDT"))
      tracker.asLogFields
    }
    assert(fields("binance_rest_call_count") == 3) // 429 + 2 successes
    assert(fields("binance_retry_count") == 1)
    assert(fields("binance_429_count") == 1)
    assert(fields("binance_max_retry_after_seconds") == Some(3.0))
    assert(fields("binance_estimated_kline_weight_total") == 15) // 3 × weight 5
    assert(fields("binance_estimated_kline_weight_remaining_1m") == 2400 - 15)
    val progress = fields("binance_observed_weight_headers")
      .asInstanceOf[Map[String, Map[String, Any]]]("x-mbx-used-weight-1m")
    assert(progress("first") == Some(20) && progress("last") == Some(30) &&
      progress("delta_after_first") == 10)
    // outside a scope: recording is a no-op
    UsageTracker.recordRetry()
    assert(UsageTracker.currentTracker.isEmpty)

    // HTTP header names are case-insensitive: a transport surfacing
    // canonical casing must still record weight + retry-after
    val cased = UsageTracker.scope("/api/v1/perpetual-data") { tracker =>
      tracker.recordRestResponse("/fapi/v1/klines", 200,
        headers = Map("X-MBX-USED-WEIGHT-1M" -> "42"))
      tracker.recordRestResponse("/fapi/v1/klines", 429,
        headers = Map("Retry-After" -> "7"))
      tracker.asLogFields
    }
    assert(cased("binance_max_retry_after_seconds") == Some(7.0))
    val casedProgress = cased("binance_observed_weight_headers")
      .asInstanceOf[Map[String, Map[String, Any]]]("x-mbx-used-weight-1m")
    assert(casedProgress("first") == Some(42))
  }

  test("perpetual payload assembly: fan-out, mixed-source, usage block (service.py:2174-2197)") {
    import graft.service.QueryService.TimeframeResult
    val payload = QueryService.perpetualPayload(
      "BTCUSDT", Seq("1m", "5m"), limit = 2,
      endTime = instant("2026-01-15T10:00:00Z"),
      fetch = {
        case "1m" =>
          graft.service.UsageTracker.recordCacheEvent("timeframe_cache_hit_exact")
          TimeframeResult(Seq("""{"t":1}""", """{"t":2}"""), "local",
            "aggregate_from_1m", fallbackUsed = false, Seq("n1"), 0.01)
        case "5m" =>
          TimeframeResult(Seq("""{"t":3}"""), "binance_native",
            "direct_tf", fallbackUsed = false, Nil, 0.02)
      })
    assert(payload.source == "mixed")
    assert(payload.data("1m").size == 2 && payload.data("5m").size == 1)
    assert(payload.timeframeMetadata("1m").notes == Seq("n1"))
    assert(payload.endTime == "2026-01-15T10:00:00Z")
    // cache events recorded on fan-out threads land in the request tracker
    assert(payload.usage("binance_cache_events")
      .asInstanceOf[Map[String, Int]]("timeframe_cache_hit_exact") == 1)
  }

  test("native route: klines→frame, enrichment joins, derived fields (service.py:1136-1551)") {
    import graft.service.{Capabilities, NativeCandles}
    val h = 3600000L
    val t0 = ms("2026-01-15T10:00:00Z")
    // three 1h native bars; middle one has zero volume → vwap falls back
    // to close, taker ratio NULL (test_live_data_api_service.py native path)
    val klines = Seq(
      (t0,         100.0, 110.0, 95.0, 105.0, 10.0, 1050000.0, 50L, 6.0, 630000.0),
      (t0 + h,     105.0, 106.0, 99.0, 101.0,  0.0,       0.0,  0L, 0.0,      0.0),
      (t0 + 2 * h, 101.0, 120.0, 98.0, 118.0, 20.0, 2360000.0, 80L, 8.0, 944000.0))
      .toDF("open_time", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")

    val frame = NativeCandles.nativeKlinesToFrame(klines)
    val f = frame.orderBy("timestamp").collect()
    assert(f.length == 3)
    val iVwap = frame.columns.indexOf("vwap_1m")
    val iRatio = frame.columns.indexOf("taker_buy_ratio")
    assert(f(0).getDouble(iVwap) == 105000.0) // usdt/btc
    assert(f(1).getDouble(iVwap) == 101.0)    // zero-volume → close
    assert(f(1).isNullAt(iRatio))             // NULL, not 0 (null-gate)
    assert(f(0).getDouble(iRatio) == 0.6)
    val iNet = frame.columns.indexOf("net_taker_vol_btc")
    assert(f(0).getDouble(iNet) == 2.0) // 6 - max(10-6, 0)

    // enrichment: mark klines cover bars 1+3 only (bar 2 exercises the
    // fallback's no-fill path); index klines cover all 3; OI history is
    // stamped at period END (next bucket boundary) → only the as-of
    // fallback can attach it; funding events are sparse → as-of at close
    val aux = NativeCandles.AuxSeries(
      markPriceKlines = Some(Seq((t0, 100.1, 105.2), (t0 + 2 * h, 101.2, 118.3))
        .toDF("open_time", "mark_price_open", "mark_price_close")),
      indexPriceKlines = Some(Seq((t0, 100.0, 105.0), (t0 + h, 105.0, 101.0),
        (t0 + 2 * h, 101.0, 118.0))
        .toDF("open_time", "index_price_open", "index_price_close")),
      openInterestHist = Some(Seq((t0 + h, 1000.0, 105000.0), (t0 + 3 * h, 1200.0, 141600.0))
        .toDF("create_time", "oi_contracts", "oi_value_usdt")),
      fundingRate = Some(Seq((t0 - h, 0.0001), (t0 + 2 * h + 1800000L, 0.0003))
        .toDF("funding_time", "funding_rate")))
    val enriched = NativeCandles.enrichNativeFrame(
      frame, aux, graft.schema.Timeframes.parse("1h"), "1h")
    val e = enriched.frame.orderBy("timestamp").collect()
    def colIdx(n: String) = enriched.frame.columns.indexOf(n)

    assert(e(0).getDouble(colIdx("mark_price_close")) == 105.2)
    // gap bar: the 12:00 kline sits exactly at bar 2's close boundary, so
    // the one-bar as-of fallback attaches it (age vs source ts = 0) —
    // the same boundary semantics that make period-END-stamped OI attach
    assert(e(1).getDouble(colIdx("mark_price_close")) == 118.3)
    // OI stamped at bucket END attaches to the bar it closes (fallback
    // path); the 11:00 point is also exactly one bar old at bar 2's close
    // and max-age is inclusive (alignment.py:88), so it carries one bar
    assert(e(0).getDouble(colIdx("oi_contracts")) == 1000.0)
    assert(e(1).getDouble(colIdx("oi_contracts")) == 1000.0)
    assert(e(2).getDouble(colIdx("oi_contracts")) == 1200.0)
    // funding: last event at-or-before each bar CLOSE
    assert(e(0).getDouble(colIdx("funding_rate")) == 0.0001)
    assert(e(2).getDouble(colIdx("funding_rate")) == 0.0003)
    // derived: premium from mark/index close; delta funding between bars
    assert(math.abs(e(0).getDouble(colIdx("premium_index")) - (105.2 / 105.0 - 1.0)) < 1e-12)
    assert(e(2).getDouble(colIdx("delta_funding_rate")) == 0.0003 - 0.0001)
    assert(!e(0).getBoolean(colIdx("has_ls_ratio"))) // no ratio series
    assert(enriched.notes.contains("mark_price_alignment_exact_timestamp"))
    assert(enriched.notes.contains("oi_hist_alignment_asof_backward_max_age_1bar"))
    assert(enriched.notes.contains("funding_rate_aligned_asof_backward"))

    // planner-gated service wrapper tails + serializes
    val native = QueryService.nativeCandleBars(klines, aux, "1h", limit = 2)
    assert(native.frame.count() == 2)
    assert(native.frame.select("timestamp").orderBy("timestamp").head.getString(0) ==
      "2026-01-15T11:00:00.000Z")
    assert(native.notes.contains("historical_depth_not_available_from_binance_rest"))
    native.release() // enrichment stage unpersisted after materialization
    // a non-native timeframe refuses the native route
    assertThrows[IllegalArgumentException](
      QueryService.nativeCandleBars(klines, aux, "2h"))

    // premium snapshot overlay (service.py:1524-1543): an event inside
    // the LATEST bar's open span overwrites next_funding_time on that
    // bar only (live-only column, NULL historically)
    val nextFunding = t0 + 8 * h
    val snap = graft.sources.RestEndpoints.PremiumSnapshot(
      105.0, 104.9, 0.0001, nextFunding, 0.0002,
      event_time = t0 + 2 * h + 1800000L)
    val withSnap = QueryService.nativeCandleBars(klines, aux, "1h", limit = 2,
      premiumSnapshot = Some(() => snap))
    val nf = withSnap.frame.select("timestamp", "next_funding_time")
      .orderBy("timestamp").collect()
    assert(nf(0).isNullAt(1))
    assert(nf(1).getLong(1) == nextFunding)
    assert(withSnap.notes.contains("using_current_snapshot_only_for_next_funding_time"))
    // a snapshot from OUTSIDE the latest bar's span attaches nothing
    val stale = snap.copy(event_time = t0)
    val noOv = QueryService.nativeCandleBars(klines, aux, "1h", limit = 2,
      premiumSnapshot = Some(() => stale))
    assert(noOv.frame.select("next_funding_time").collect().forall(_.isNullAt(0)))
    assert(!noOv.notes.contains("using_current_snapshot_only_for_next_funding_time"))
    // a failed snapshot fetch degrades to the un-overlaid frame
    val failed = QueryService.nativeCandleBars(klines, aux, "1h", limit = 2,
      premiumSnapshot = Some(() => throw new RuntimeException("snapshot down")))
    assert(failed.frame.count() == 2)
    assert(failed.notes.contains("premium_index_snapshot_fetch_failed"))
  }

  test("resolve_end_time: explicit floor, watermark clamp within tolerance (service.py:944-966)") {
    val last = instant("2026-01-15T10:07:00Z")
    // explicit end: floored to the minute, watermark ignored
    assert(QueryService.resolveEndTime(Some(instant("2026-01-15T09:30:45Z")), last,
      Some(instant("2026-01-15T09:00:00Z")), Some(5L)) == instant("2026-01-15T09:30:00Z"))
    // ISO-string form: parsed as-is; garbage falls back to last completed
    assert(QueryService.resolveEndTime("2026-01-15T09:30:00Z", last) ==
      instant("2026-01-15T09:30:00Z"))
    assert(QueryService.resolveEndTime("not-a-time", last) == last)
    // omitted end, no watermark → last completed minute
    assert(QueryService.resolveEndTime(None, last) == last)
    // watermark within tolerance → clamp down to the watermark
    assert(QueryService.resolveEndTime(None, last,
      Some(instant("2026-01-15T10:04:00Z")), Some(5L)) == instant("2026-01-15T10:04:00Z"))
    // watermark beyond tolerance → assumed stale, wall-clock end wins
    assert(QueryService.resolveEndTime(None, last,
      Some(instant("2026-01-15T09:00:00Z")), Some(5L)) == last)
    // no tolerance configured → always the effective min
    assert(QueryService.resolveEndTime(None, last,
      Some(instant("2026-01-15T09:00:00Z")), None) == instant("2026-01-15T09:00:00Z"))
    // watermark ahead of wall clock → wall clock wins the min
    assert(QueryService.resolveEndTime(None, last,
      Some(instant("2026-01-15T11:00:00Z")), Some(5L)) == last)
  }

  test("on-demand rebuild: incomplete coverage fetches via the collector, " +
    "local rows win the merge, patch persists back (service.py:1036-1117,694-751)") {
    import java.nio.file.Files
    import graft.pipeline.Orchestrator
    import graft.pipeline.Orchestrator.{Band, BandCollector, SourceBatch}
    import graft.sources.{MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
    import spark.implicits._

    def klines(startIso: String, minutes: Int, base: Double) = {
      val t0 = ms(startIso)
      (0 until minutes).map { i =>
        (t0 + 60000L * i, base + i, base + i + 1.0, base + i - 1.0, base + i + 0.5,
          2.0, 200.0, 10L, 1.0, 100.0)
      }.toDF("open_time", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")
    }
    def aux(startIso: String, minutes: Int, prefix: String) = {
      val t0 = ms(startIso)
      (0 until minutes).map(i => (t0 + 60000L * i, 100.0 + i, 100.5 + i))
        .toDF("open_time", s"${prefix}_open", s"${prefix}_close")
    }
    class Fake(startIso: String, minutes: Int, base: Double) extends BandCollector {
      var restCalls = 0
      def vision(s: Instant, e: Instant): SourceBatch = SourceBatch()
      def rest(s: Instant, e: Instant): SourceBatch = {
        restCalls += 1
        SourceBatch(klines = Some(klines(startIso, minutes, base)),
          markPriceKlines = Some(aux(startIso, minutes, "mark_price")),
          indexPriceKlines = Some(aux(startIso, minutes, "index_price")))
      }
      def liveAggTrades(s: Instant, e: Instant): Option[org.apache.spark.sql.DataFrame] = None
    }

    val dir = tempDir("graft-rebuild").toString
    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      graft.sources.LakeLayout.DayWide(filesPerDay = 4))
    val reader = new MinuteLakeReader(dir)
    val h10 = instant("2026-01-15T10:00:00Z")

    // seed the lake with ONLY minute 10:00 (open=100)
    writer.writeHourPartition("BTCUSDT", h10,
      Orchestrator.collectAndBuild(spark,
        new Fake("2026-01-15T10:00:00Z", 1, base = 100.0), h10, h10, Band.Hot))

    // request 10:00..10:01 — 10:01 is missing → patch via the collector
    // (patch klines use base=900 so provenance is visible per minute)
    val patcher = new Fake("2026-01-15T10:00:00Z", 2, base = 900.0)
    val res = QueryService.loadCanonicalWindowWithRebuild(
      spark, reader, "BTCUSDT", h10, instant("2026-01-15T10:01:00Z"),
      patcher, persistTo = Some(writer),
      nowForBand = instant("2026-01-15T10:05:00Z"))
    assert(res.source == "local+binance")
    assert(res.coverage.complete)
    assert(res.notes.contains("binance_patch_persisted_partitions:1"))
    val rows = res.frame.orderBy("timestamp").select("open").collect()
    assert(rows(0).getDouble(0) == 100.0) // local row WINS over the patch
    assert(rows(1).getDouble(0) == 901.0) // patched minute
    res.release()

    // persisted rows must avoid another patch (reference GuardProvider)
    object Guard extends BandCollector {
      def vision(s: Instant, e: Instant) = throw new AssertionError(
        "persisted missing rows should avoid another Binance patch")
      def rest(s: Instant, e: Instant) = throw new AssertionError(
        "persisted missing rows should avoid another Binance patch")
      def liveAggTrades(s: Instant, e: Instant) = throw new AssertionError(
        "persisted missing rows should avoid another Binance patch")
    }
    val res2 = QueryService.loadCanonicalWindowWithRebuild(
      spark, reader, "BTCUSDT", h10, instant("2026-01-15T10:01:00Z"),
      Guard, persistTo = Some(writer),
      nowForBand = instant("2026-01-15T10:05:00Z"))
    assert(res2.source == "local")
    assert(res2.coverage.complete)
    val rows2 = res2.frame.orderBy("timestamp").select("open").collect()
    assert(rows2(0).getDouble(0) == 100.0)
    assert(rows2(1).getDouble(0) == 901.0)

    // a too-large fully-missing window refuses on-demand retrieval
    assertThrows[IllegalArgumentException](QueryService.loadCanonicalWindowWithRebuild(
      spark, reader, "ETHUSDT", h10, instant("2026-03-01T00:00:00Z"),
      Guard, onDemandMaxMinutes = 60))
  }

  test("multi-symbol enrichment: alignment and exact/fallback gate are keyed " +
    "by partitionCols (no cross-symbol bleed)") {
    import graft.service.NativeCandles
    import spark.implicits._
    val t0 = ms("2026-01-15T10:00:00Z")
    val h = 3600000L

    def symBars(sym: String) = {
      val klines = Seq(
        (t0, 100.0, 110.0, 95.0, 105.0, 10.0, 1050000.0, 100L, 6.0, 630000.0),
        (t0 + h, 105.0, 112.0, 101.0, 101.0, 10.0, 1010000.0, 100L, 6.0, 606000.0),
        (t0 + 2 * h, 101.0, 120.0, 100.0, 118.0, 10.0, 1180000.0, 100L, 6.0, 708000.0))
        .toDF("open_time", "open", "high", "low", "close", "volume_btc",
          "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")
      NativeCandles.nativeKlinesToFrame(klines).withColumn("symbol", lit(sym))
    }
    val bars = symBars("A").unionByName(symBars("B"))

    // A covers every bucket exactly → A must keep EXACT values: if the
    // gate were frame-global (B is incomplete), A's bars would flip to
    // the as-of-at-close values (bar0 → the t0+1h row). B misses bar 1
    // → B's fallback must pull B's own t0+2h close-boundary row, never
    // A's t0+1h value.
    val mark = Seq(
      ("A", t0, 1.0, 101.0), ("A", t0 + h, 2.0, 102.0), ("A", t0 + 2 * h, 3.0, 103.0),
      ("B", t0, 10.0, 110.0), ("B", t0 + 2 * h, 20.0, 120.0))
      .toDF("symbol", "open_time", "mark_price_open", "mark_price_close")
    val aux = NativeCandles.AuxSeries(markPriceKlines = Some(mark))

    val enriched = NativeCandles.enrichNativeFrame(
      bars, aux, graft.schema.Timeframes.parse("1h"), "1h",
      partitionCols = Seq("symbol"))
    val rows = enriched.frame.orderBy("symbol", "timestamp").collect()
    val iClose = enriched.frame.columns.indexOf("mark_price_close")
    // A: exact values survive (per-symbol gate)
    assert(rows(0).getDouble(iClose) == 101.0)
    assert(rows(1).getDouble(iClose) == 102.0)
    assert(rows(2).getDouble(iClose) == 103.0)
    // B: bar0 exact/asof, bar1 via B's own close-boundary fallback row
    assert(rows(3).getDouble(iClose) == 110.0)
    assert(rows(4).getDouble(iClose) == 120.0)
    assert(rows(5).getDouble(iClose) == 120.0)
    // B used the fallback → the note fires; A alone would not
    assert(enriched.notes.contains("mark_price_alignment_asof_backward_max_age_1bar"))
    assert(enriched.notes.contains("mark_price_alignment_exact_timestamp"))
    enriched.release()
  }

  /** A day-wide lake with an HTF tree: `hours` hours of minutes for
    * BTCUSDT and ETHUSDT from `from`, and BTCUSDT's `htfTf` buckets
    * backfilled. */
  private def lakeWithHtf(from: java.time.Instant, hours: Int, htfTf: String)
      : (graft.sources.MinuteLakeReader, graft.sources.HtfLakeReader) = {
    import graft.sources.{HtfLakeReader, HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
    val dir = tempDir("graft-served").toString
    val base = Seq("BTCUSDT", "ETHUSDT").toDF("symbol")
      .crossJoin(spark.range(hours * 60L).select(
        timestamp_millis(lit(from.toEpochMilli) + col("id") * 60000L).as("timestamp"),
        (lit(100.0) + col("id") % 50).as("open")))
      .withColumn("high", col("open") + 1.0).withColumn("low", col("open") - 1.0)
      .withColumn("close", col("open") + 0.5)
      .withColumn("volume_btc", lit(1.2)).withColumn("volume_usdt", lit(120000.0))
      .withColumn("trade_count", lit(10L))
    val minutes = graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
      if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
      else df.withColumn(c.name, lit(null).cast(c.sparkType))
    }
    new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.DayWide(filesPerDay = 4)).writeDaysWide(minutes)
    val reader = new MinuteLakeReader(dir)
    graft.operators.AggregatorRunner.runBackfillAll(spark, reader,
      new HtfLakeWriter(s"$dir/htf", LakeLayout.DayWide(filesPerDay = 4)),
      new graft.operators.AggregatorRunner.AggregatorStateStore(s"$dir/_agg"),
      s"$dir/htf", graft.schema.Timeframes.parse(htfTf))
    (reader, new HtfLakeReader(s"$dir/htf"))
  }

  /** Six hours from 2026-01-15T00:00Z, 15m buckets (no 5m tree). */
  private lazy val servedLake = lakeWithHtf(instant("2026-01-15T00:00:00Z"), 6, "15m")

  private val ServedEnd = instant("2026-01-15T06:00:00Z")

  test("served routes cost one pass: per-route job budget") {
    val (reader, htfReader) = servedLake
    // both readers name their file schema, so no count includes a
    // parquet schema-inference job
    val (bars, candleJobs) = jobsOf(QueryService.candleBars(spark, reader, "ETHUSDT",
      "5m", instant("2026-01-15T05:00:00Z"), ServedEnd, limit = 12).toJSON.collect())
    assert(bars.length == 12)
    assert(candleJobs == 1, s"candleBars + collect: $candleJobs jobs")

    val (ind, indicatorJobs) = jobsOf(QueryService.indicatorPayload(spark, reader,
      "ETHUSDT", emaTf = "15m", emaLength = 3, pivotTf = "1h", endTime = ServedEnd))
    assert(ind.ema.isDefined && ind.pivots.size == 5)
    assert(indicatorJobs == 2, s"indicatorPayload: $indicatorJobs jobs")

    val ((btc, btcRows), btcJobs) = jobsOf {
      val r = QueryService.btcLocalOnlyBars(spark, reader, htfReader, "BTCUSDT",
        "15m", ServedEnd, limit = 8)
      (r, r.frame.toJSON.collect())
    }
    assert(btc.fetchMode == "direct_local_higher_tf" && btcRows.length == 8)
    assert(btcJobs == 2, s"btcLocalOnlyBars (HTF direct) + collect: $btcJobs jobs")
  }

  test("bounded single-symbol reads are one partition; candleBars plans no exchange") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import graft.tools.PlanCheck
    val (reader, htfReader) = servedLake
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      PlanCheck.nodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec => e.simpleString(80)
        case e: BroadcastExchangeExec => e.simpleString(80)
      }
    val lo = instant("2026-01-15T05:00:00Z")
    val minuteWindow = reader.readWindow(spark, "ETHUSDT", lo, ServedEnd)
    val htfWindow = htfReader.readWindow(spark, "15m", "BTCUSDT", lo, ServedEnd).get
    for ((what, w) <- Seq("MinuteLakeReader" -> minuteWindow, "HtfLakeReader" -> htfWindow)) {
      assert(w.rdd.getNumPartitions == 1, what)
      assert(exchanges(w).isEmpty, s"$what.readWindow: ${exchanges(w)}")
    }
    assert(minuteWindow.count() == 60 && htfWindow.count() == 4)

    // the AQE final plan of a served collect
    val bars = QueryService.candleBars(spark, reader, "ETHUSDT", "5m", lo, ServedEnd,
      limit = 12)
    assert(bars.collect().length == 12)
    assert(exchanges(bars).isEmpty, s"candleBars: ${exchanges(bars)}")
  }

  test("a window over more than SingleTaskMaxDays day dirs keeps a parallel scan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.sources.DayDirs
    val n = DayDirs.SingleTaskMaxDays
    val from = instant("2026-01-01T00:00:00Z")
    val (reader, htfReader) = lakeWithHtf(from, (n + 1) * 24, "1d")
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      graft.tools.PlanCheck.nodes(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e }.size
    val end = from.plus(java.time.Duration.ofDays(n + 1L)).minusSeconds(60)
    val lastN = from.plus(java.time.Duration.ofDays(1))
    // n day dirs: one partition, no exchange
    val minuteN = reader.readWindow(spark, "ETHUSDT", lastN, end)
    val htfN = htfReader.readWindow(spark, "1d", "BTCUSDT", lastN, end).get
    for ((what, w) <- Seq("MinuteLakeReader" -> minuteN, "HtfLakeReader" -> htfN)) {
      assert(w.rdd.getNumPartitions == 1, what)
      assert(shuffles(w) == 0, what)
    }
    // n + 1 day dirs: the scan stays parallel and the dedup shuffles
    val minuteAll = reader.readWindow(spark, "ETHUSDT", from, end)
    val htfAll = htfReader.readWindow(spark, "1d", "BTCUSDT", from, end).get
    for ((what, w) <- Seq("MinuteLakeReader" -> minuteAll, "HtfLakeReader" -> htfAll))
      assert(shuffles(w) > 0, what)
    assert(minuteN.count() == n * 1440L && minuteAll.count() == (n + 1) * 1440L)
    assert(htfN.count() == n && htfAll.count() == n + 1)
  }

  test("served requests leave no cached state") {
    val (reader, htfReader) = servedLake
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache() // start empty: other specs share this session
    def btc(tf: String, limit: Int) = {
      val r = QueryService.btcLocalOnlyBars(spark, reader, htfReader, "BTCUSDT", tf,
        ServedEnd, limit)
      assert(r.frame.collect().nonEmpty)
      assert(cacheManager.isEmpty, s"${r.fetchMode}/${r.sourceStrategy} left a cache entry")
      r.release() // harmless: nothing to release
      r.release()
      assert(r.frame.count() > 0)
      r
    }
    assert(btc("15m", 8).fetchMode == "direct_local_higher_tf")
    // no 5m tree: the minute lake fills the limit
    assert(btc("5m", 12).notes.contains("btc_local_path_selected"))
    // nothing fills 100 bars: the best partial
    assert(btc("15m", 100).notes.contains("btc_local_only_no_binance_fallback"))

    QueryService.candleBars(spark, reader, "ETHUSDT", "5m",
      instant("2026-01-15T05:00:00Z"), ServedEnd, limit = 12).toJSON.collect()
    assert(cacheManager.isEmpty, "candleBars left a cache entry")
    QueryService.indicatorPayload(spark, reader, "ETHUSDT", emaTf = "15m",
      emaLength = 3, pivotTf = "1h", endTime = ServedEnd)
    assert(cacheManager.isEmpty, "indicatorPayload left a cache entry")
  }
}
