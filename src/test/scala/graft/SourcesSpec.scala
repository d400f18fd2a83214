package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.{RestClient, VisionLoader}
import graft.sources.RestClient.{HttpError, RetryingClient, Transport, WeightBudget}

/** S6–S10 semantics from reference `tests/test_vision_loader.py` and
  * `tests/test_rest_client.py`. */
class SourcesSpec extends SparkSpec {

  private def writeZip(dir: String, name: String, csvContent: String): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(s"$dir/$name"))
    zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".csv"))
    zos.write(csvContent.getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
  }

  test("CSV-in-ZIP kline load: executor-side unzip, rename, window filter (vision_loader.py:28-66,264-312)") {
    val dir = tempDir("vision").toString
    val t0 = ms("2026-01-15T10:00:00Z")
    // 3 rows, one outside the window; 12 declared columns
    val rows = Seq(t0, t0 + 60000, t0 + 120000).zipWithIndex.map { case (t, i) =>
      s"$t,100.$i,101.$i,99.$i,100.5,2.5,${t + 59999},250000.0,20,1.2,120000.0,0"
    }.mkString("\n")
    writeZip(dir, "BTCUSDT-1m-2026-01-15.zip", rows)

    val df = VisionLoader.klinesFromZips(spark, s"$dir/*.zip", t0, t0 + 60000)
    val got = df.orderBy("open_time").collect()
    assert(got.length == 2)
    assert(df.columns.toSeq == Seq("open_time", "open", "high", "low", "close",
      "volume_btc", "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt"))
    assert(got.head.getDouble(1) == 100.0 && got.head.getDouble(5) == 2.5)
  }

  test("schema tolerance: missing columns become typed NULLs, extras dropped (vision_loader.py:303-310)") {
    val dir = tempDir("vision2").toString
    val t0 = ms("2026-01-15T10:00:00Z")
    // only 5 of 12 kline columns present (plus junk column)
    writeZip(dir, "short.zip", s"$t0,100.0,101.0,99.0,100.5")
    val df = VisionLoader.readZipCsv(spark, s"$dir/*.zip", VisionLoader.klineCsvSchema)
    val r = df.collect().head
    assert(r.getLong(0) == t0 && r.getDouble(1) == 100.0)
    assert(r.isNullAt(df.columns.indexOf("quote_volume")))
    assert(df.columns.length == 12)
  }

  test("retrying client: backoff on 429/5xx, honors Retry-After, rate limit spacing (rest.py:27-148)") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val transport = new Transport {
      def get(path: String, params: Map[String, String]): String = {
        calls += 1
        if (calls == 1) throw HttpError(429, retryAfterSeconds = Some(2))
        else if (calls == 2) throw HttpError(503)
        else "ok"
      }
    }
    var clock = 0L
    val client = new RetryingClient(transport, minIntervalMs = 100,
      sleep = d => { sleeps += d; clock += d }, jitterMs = () => 0,
      now = () => clock)
    assert(client.get("/klines", Map()) == "ok")
    assert(calls == 3)
    assert(sleeps.contains(2000L)) // Retry-After honored
    // 4xx other than 429 is not retried
    val badTransport = new Transport {
      def get(p: String, q: Map[String, String]): String = throw HttpError(400)
    }
    val client2 = new RetryingClient(badTransport, sleep = _ => (), jitterMs = () => 0, now = () => 0)
    assertThrows[HttpError](client2.get("/x", Map()))
  }

  test("weight budget: 2400/min with tier weights (binance_usage.py:18-30)") {
    assert(RestClient.klineRequestWeight(99) == 1)
    assert(RestClient.klineRequestWeight(499) == 2)
    assert(RestClient.klineRequestWeight(1000) == 5)
    assert(RestClient.klineRequestWeight(1500) == 10)
    var t = 0L
    val budget = new WeightBudget(maxPerMinute = 10, now = () => t)
    assert(budget.tryAcquire(6) && budget.tryAcquire(4))
    assert(!budget.tryAcquire(1)) // exhausted
    t += 61000
    assert(budget.tryAcquire(10)) // window reset
  }

  test("pagination advances the cursor and stops on short pages (binance_provider.py:477-651)") {
    // rows every 10 ms in [0, 100]; pages of 4
    val all = (0L to 100L by 10).toSeq
    var fetches = 0
    def fetch(cursor: Long, size: Int): Seq[Long] = {
      fetches += 1
      all.filter(_ >= cursor).take(size)
    }
    val got = RestClient.paginate[Long](5, 95, 4, fetch, identity)
    assert(got == (10L to 90L by 10).toSeq)
    assert(fetches >= 3)
  }

  test("ratio dedup keeps the last row per data_time (binance_provider.py:643-651)") {
    val rows = Seq((100L, "a"), (200L, "b"), (100L, "c"))
    val got = RestClient.dedupByTimeKeepLast[(Long, String)](rows, _._1)
    assert(got == Seq((100L, "c"), (200L, "b")))
  }

  test("parallel fan-out returns all group results (parallel_provider.py:380-466)") {
    val got = RestClient.fanOut(Seq(() => 1, () => 2, () => 3))
    assert(got == Seq(1, 2, 3))
  }

  test("metrics inspector lists the first CSV's header columns (metrics_inspector.py)") {
    val dir = tempDir("vision-insp").toString
    writeZip(dir, "metrics.zip", "create_time,symbol,sum_open_interest\n1,BTCUSDT,2.0")
    assert(VisionLoader.listZipCsvColumns(s"$dir/metrics.zip") ==
      Seq("create_time", "symbol", "sum_open_interest"))
    writeZip(dir, "empty.zip", "")
    assertThrows[IllegalArgumentException](
      VisionLoader.listZipCsvColumns(s"$dir/empty.zip"))
  }

  test("aggTrades + bookTicker Vision loaders: renames and window filters (vision_loader.py:96-182)") {
    val dir = tempDir("vision3").toString
    val t0 = ms("2026-01-15T10:00:00Z")
    writeZip(dir, "BTCUSDT-aggTrades-2026-01-15.zip",
      Seq(s"1001,100.25,0.5,2000,2003,$t0,true",
          s"1002,100.30,0.7,2004,2004,${t0 + 60000},false",
          s"1003,100.40,0.1,2005,2005,${t0 + 999999},true").mkString("\n"))
    val trades = VisionLoader.aggTradesFromZips(
      spark, s"$dir/BTCUSDT-aggTrades-*.zip", t0, t0 + 60000)
    val tr = trades.orderBy("agg_trade_id").collect()
    assert(trades.columns.toSeq == Seq("agg_trade_id", "price", "qty",
      "first_trade_id", "last_trade_id", "transact_time", "is_buyer_maker"))
    assert(tr.length == 2) // window filter drops the 3rd row
    assert(tr.head.getDouble(2) == 0.5 && tr.head.getBoolean(6))

    writeZip(dir, "BTCUSDT-bookTicker-2026-01-15.zip",
      Seq(s"555,100.1,3.0,100.2,2.0,${t0 - 100},$t0",
          s"556,100.2,1.0,100.3,4.0,${t0 + 70000},${t0 + 70100}").mkString("\n"))
    val book = VisionLoader.bookTickerFromZips(
      spark, s"$dir/BTCUSDT-bookTicker-*.zip", t0, t0 + 60000)
    val bk = book.collect()
    assert(book.columns.toSeq == Seq("update_id", "bid_price", "bid_qty",
      "ask_price", "ask_qty", "transaction_time", "event_time"))
    assert(bk.length == 1 && bk.head.getDouble(1) == 100.1 && bk.head.getDouble(4) == 2.0)
  }

  test("trades + bookDepth loaders complete the addendum's 9-stream table (§B1.1)") {
    val dir = tempDir("vision9").toString
    val t0 = ms("2026-01-15T10:00:00Z")

    // trades: raw per-trade rows (id,price,qty,quote_qty,time,is_buyer_maker)
    writeZip(dir, "BTCUSDT-trades-2026-01-15.zip",
      Seq(s"9001,100.25,0.5,50.125,$t0,true",
          s"9002,100.30,0.7,70.21,${t0 + 60000},false",
          s"9003,100.40,0.1,10.04,${t0 + 999999},true").mkString("\n"))
    val trades = VisionLoader.tradesFromZips(
      spark, s"$dir/BTCUSDT-trades-*.zip", t0, t0 + 60000)
    val tr = trades.orderBy("trade_id").collect()
    assert(trades.columns.toSeq == Seq("trade_id", "price", "qty",
      "quote_qty", "transact_time", "is_buyer_maker"))
    assert(tr.length == 2) // window filter drops the 3rd row
    assert(tr.head.getLong(0) == 9001L && tr.head.getDouble(3) == 50.125
      && tr.head.getBoolean(5))

    // bookDepth: datetime-string timestamps + header row (percentage
    // offsets from mid); the loader parses to epoch ms and windows on it
    writeZip(dir, "BTCUSDT-bookDepth-2026-01-15.zip",
      Seq("timestamp,percentage,depth,notional",
          "2026-01-15 10:00:00,1,120.5,12050000.0",
          "2026-01-15 10:00:00,-1,110.25,11025000.0",
          "2026-01-15 10:01:00,1,121.0,12100000.0",
          "2026-01-15 10:30:00,1,999.0,9.9").mkString("\n"))
    val depth = VisionLoader.bookDepthFromZips(
      spark, s"$dir/BTCUSDT-bookDepth-*.zip", t0, t0 + 60000)
    val dp = depth.orderBy("snapshot_time", "percentage").collect()
    assert(depth.columns.toSeq == Seq("snapshot_time", "percentage", "depth", "notional"))
    assert(dp.length == 3) // 10:30 row is outside the window
    assert(dp.head.getLong(0) == t0 && dp.head.getLong(1) == -1L
      && dp.head.getDouble(2) == 110.25)
    assert(dp.last.getLong(0) == t0 + 60000 && dp.last.getDouble(3) == 12100000.0)
  }

  test("all 11 typed endpoints parse their fixture payloads (rest.py:154-519)") {
    import graft.sources.RestEndpoints._
    val requests = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
    val fixtures = Map(
      "/fapi/v1/klines" ->
        """[[1700000000000,"100.1","101.2","99.3","100.5","2.5",1700000059999,
          |"250000.0",20,"1.2","120000.0","0"]]""".stripMargin.replace("\n", ""),
      "/fapi/v1/markPriceKlines" ->
        """[[1700000000000,"100.0","101.0","99.0","100.4",1700000059999,"0",0,"0","0","0"]]""",
      "/fapi/v1/indexPriceKlines" ->
        """[[1700000000000,"99.9","100.9","98.9","100.3",1700000059999,"0",0,"0","0","0"]]""",
      "/fapi/v1/premiumIndexKlines" ->
        """[[1700000000000,"0.0001","0.0002","-0.0001","0.00015",1700000059999,"0",0,"0","0","0"]]""",
      "/fapi/v1/aggTrades" ->
        """[{"a":1001,"p":"100.25","q":"0.5","f":2000,"l":2003,"T":1700000001234,"m":true}]""",
      "/fapi/v1/ticker/bookTicker" ->
        """{"symbol":"BTCUSDT","bidPrice":"100.1","bidQty":"3.0","askPrice":"100.2","askQty":"2.0","time":1700000002000}""",
      "/fapi/v1/premiumIndex" ->
        """{"symbol":"BTCUSDT","markPrice":"100.15","indexPrice":"100.05",
          |"lastFundingRate":"0.0001","nextFundingTime":1700028800000,"time":1700000003000}""".stripMargin.replace("\n", ""),
      "/fapi/v1/openInterest" ->
        """{"symbol":"BTCUSDT","openInterest":"12345.6","time":1700000004000}""",
      "/fapi/v1/depth" ->
        """{"lastUpdateId":555,"E":1700000005000,"T":1700000004900,
          |"bids":[["100.1","3.0"],["100.0","1.0"]],"asks":[["100.2","2.0"]]}""".stripMargin.replace("\n", ""),
      "/futures/data/topLongShortAccountRatio" ->
        """[{"symbol":"BTCUSDT","longShortRatio":"1.25","longAccount":"0.5556","shortAccount":"0.4444","timestamp":1700000000000}]""",
      "/futures/data/globalLongShortAccountRatio" ->
        """[{"symbol":"BTCUSDT","longShortRatio":"0.8","longAccount":"0.4444","shortAccount":"0.5556","timestamp":1700000000000}]""",
      "/futures/data/topLongShortPositionRatio" ->
        """[{"symbol":"BTCUSDT","longShortRatio":"1.1","longAccount":"0.5238","shortAccount":"0.4762","timestamp":1700000000000}]""",
      "/futures/data/openInterestHist" ->
        """[{"symbol":"BTCUSDT","sumOpenInterest":"12000.5","sumOpenInterestValue":"1200050000.0","timestamp":1700000000000}]""",
      "/fapi/v1/fundingRate" ->
        """[{"symbol":"BTCUSDT","fundingRate":"0.0001","fundingTime":1700000000000,"markPrice":"100.2"},
          |{"symbol":"BTCUSDT","fundingRate":"0.0002","fundingTime":1700028800000,"markPrice":""}]""".stripMargin.replace("\n", ""))
    val transport = new Transport {
      def get(path: String, params: Map[String, String]): String = {
        requests += ((path, params)); fixtures(path)
      }
    }
    val api = new BinanceEndpoints(
      new RetryingClient(transport, minIntervalMs = 0, sleep = _ => (), now = () => 0))

    val k = api.klines("btcusdt", 1700000000000L, 1700000060000L).head
    assert(k == KlineRecord(1700000000000L, 100.1, 101.2, 99.3, 100.5, 2.5,
      1700000059999L, 250000.0, 20L, 1.2, 120000.0))
    assert(requests.last._2("symbol") == "BTCUSDT" && requests.last._2("interval") == "1m")

    assert(api.markPriceKlines("BTCUSDT", 0, 1).head.mark_price_close == 100.4)
    assert(api.indexPriceKlines("BTCUSDT", 0, 1).head.index_price_open == 99.9)
    assert(requests.last._2.contains("pair") && !requests.last._2.contains("symbol"))
    assert(api.premiumIndexKlines("BTCUSDT", 0, 1).head.premium_index_close == 0.00015)

    val t = api.aggTrades("BTCUSDT", 0, 1700000002000L).head
    assert(t == AggTradeRecord(1001L, 100.25, 0.5, 2000L, 2003L, 1700000001234L, true))

    val bt = api.bookTicker("BTCUSDT")
    assert(bt == BookTickerSnapshot(100.1, 3.0, 100.2, 2.0, 1700000002000L))

    val pi = api.premiumIndex("BTCUSDT")
    assert(pi.mark_price == 100.15 && pi.predicted_funding == 0.0 &&
      pi.next_funding_time == 1700028800000L)

    assert(api.openInterest("BTCUSDT") ==
      OpenInterestSnapshot("BTCUSDT", 12345.6, 1700000004000L))

    val d = api.depth("btcusdt", limit = 100)
    assert(d.symbol == "BTCUSDT" && d.last_update_id == 555L &&
      d.bids == Seq((100.1, 3.0), (100.0, 1.0)) && d.asks == Seq((100.2, 2.0)) &&
      d.transact_time == 1700000004900L)

    assert(api.topTraderLongShortAccountRatio("BTCUSDT").head.ratio == 1.25)
    // optional bounds stay off the query string when absent
    assert(!requests.last._2.contains("startTime"))
    assert(api.globalLongShortAccountRatio("BTCUSDT",
      startMs = Some(1L), endMs = Some(2L)).head.ratio == 0.8)
    assert(requests.last._2("startTime") == "1" && requests.last._2("endTime") == "2")
    assert(api.topTraderLongShortPositionRatio("BTCUSDT").head.long_account == 0.5238)

    val oi = api.openInterestHist("BTCUSDT").head
    assert(oi.oi_contracts == 12000.5 && oi.oi_value_usdt == 1200050000.0)

    val fr = api.fundingRate("BTCUSDT")
    assert(fr.head.mark_price.contains(100.2))
    assert(fr(1).mark_price.isEmpty) // blank markPrice → None
  }

  test("typed kline records flow into the minute builder as a Dataset") {
    import spark.implicits._
    import graft.sources.RestEndpoints._
    val recs = parseKlines(
      """[[1700000000000,"100.1","101.2","99.3","100.5","2.5",1700000059999,
        |"250000.0",20,"1.2","120000.0","0"]]""".stripMargin.replace("\n", ""))
    val frame = graft.operators.MinuteBuilder.klinesFrame(recs.toDS().toDF())
    val r = frame.collect().head
    assert(r.getTimestamp(0).toInstant == instant("2023-11-14T22:13:00Z"))
    assert(frame.columns.contains("taker_buy_vol_usdt"))
  }

  /** Counting fake of the Vision transport: serves a fixed set of
    * remote objects, recording every probe and download. */
  private final class FakeVisionTransport(available: Map[String, String]) extends graft.sources.VisionTransport {
    var existsCalls: List[String] = Nil
    var downloadCalls: List[String] = Nil
    def exists(url: String): Boolean = { existsCalls ::= url; available.contains(url) }
    def downloadZip(url: String, destination: java.nio.file.Path): Unit = {
      downloadCalls ::= url
      val name = destination.getFileName.toString
      val zos = new ZipOutputStream(new FileOutputStream(destination.toFile))
      zos.putNextEntry(new ZipEntry(name.stripSuffix(".zip") + ".csv"))
      zos.write(available(url).getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
    }
  }

  test("vision ZIP cache: second load hits disk, no re-probe or re-download (vision_loader.py:264-312)") {
    import java.time.LocalDate
    val cacheDir = tempDir("vision-cache")
    val day = LocalDate.parse("2026-01-15")
    val url = "https://data.example.com/klines/BTCUSDT/1m/BTCUSDT-1m-2026-01-15.zip"
    val t0 = ms("2026-01-15T00:00:00Z")
    val transport = new FakeVisionTransport(Map(
      url -> s"$t0,100.0,101.0,99.0,100.5,2.5,${t0 + 59999},250000.0,20,1.2,120000.0,0"))
    val cache = new graft.sources.VisionCache(transport, cacheDir,
      "https://data.example.com")

    // layout + URL conventions (vision.py:30-68)
    assert(cache.expectedFilename("klines", "btcusdt", day) == "BTCUSDT-1m-2026-01-15.zip")
    assert(cache.expectedFilename("aggTrades", "BTCUSDT", day) == "BTCUSDT-aggTrades-2026-01-15.zip")
    assert(cache.buildDailyZipUrl("klines", "BTCUSDT", day) == url)
    assertThrows[IllegalArgumentException](cache.buildDailyZipUrl("nope", "BTCUSDT", day))

    val first = cache.fetchDailyZip("klines", "BTCUSDT", day)
    assert(first.isDefined && Files.exists(first.get))
    assert(transport.existsCalls.size == 1 && transport.downloadCalls.size == 1)

    // second fetch: cache hit, transport untouched
    val second = cache.fetchDailyZip("klines", "BTCUSDT", day)
    assert(second == first)
    assert(transport.existsCalls.size == 1 && transport.downloadCalls.size == 1)

    // the cached ZIP reads through the normal Spark loader
    val df = VisionLoader.klinesFromZips(spark,
      first.get.getParent.toString + "/*.zip", t0, t0 + 60000)
    assert(df.count() == 1)

    // deleteCachedFiles removes the ZIP (vision_loader.py:221-243)
    assert(cache.deleteCachedFiles("BTCUSDT", day, day, Seq("klines")) == 1)
    assert(!Files.exists(first.get))
  }

  test("vision ZIP cache: .missing marker suppresses re-probe until TTL expiry (vision_loader.py:314-346)") {
    import java.time.{Instant, LocalDate}
    val cacheDir = tempDir("vision-miss")
    val day = LocalDate.parse("2026-01-16")
    val transport = new FakeVisionTransport(Map.empty) // nothing remote
    var clock = Instant.parse("2026-01-17T00:00:00Z")
    val cache = new graft.sources.VisionCache(transport, cacheDir,
      "https://data.example.com", missingCacheTtlSeconds = 1800, now = () => clock)

    // first fetch probes remote, records a .missing marker
    assert(cache.fetchDailyZip("metrics", "BTCUSDT", day).isEmpty)
    assert(transport.existsCalls.size == 1)
    val marker = cache.cachePath("metrics", "BTCUSDT", day)
      .resolveSibling("BTCUSDT-metrics-2026-01-16.zip.missing")
    assert(Files.exists(marker))

    // within TTL: marker hit, no second probe
    clock = clock.plusSeconds(60)
    assert(cache.fetchDailyZip("metrics", "BTCUSDT", day).isEmpty)
    assert(transport.existsCalls.size == 1)

    // marker survives cache eviction (delete_cached_files docstring)
    cache.deleteCachedFiles("BTCUSDT", day, day, Seq("metrics"))
    assert(Files.exists(marker))

    // past TTL: marker expires, remote is probed again
    clock = clock.plusSeconds(3600)
    assert(cache.fetchDailyZip("metrics", "BTCUSDT", day).isEmpty)
    assert(transport.existsCalls.size == 2)
  }

  test("vision ZIP cache: fetchWindow caches each present day across streams (vision_loader.py:206-219)") {
    import java.time.LocalDate
    val cacheDir = tempDir("vision-win")
    val base = "https://data.example.com"
    val row = "1,2.0,3.0,4.0,5.0"
    // klines present both days; aggTrades only the first
    val transport = new FakeVisionTransport(Map(
      s"$base/klines/ETHUSDT/1m/ETHUSDT-1m-2026-01-15.zip" -> row,
      s"$base/klines/ETHUSDT/1m/ETHUSDT-1m-2026-01-16.zip" -> row,
      s"$base/aggTrades/ETHUSDT/ETHUSDT-aggTrades-2026-01-15.zip" -> row))
    val cache = new graft.sources.VisionCache(transport, cacheDir, base)
    val got = cache.fetchWindow("ETHUSDT", LocalDate.parse("2026-01-15"),
      LocalDate.parse("2026-01-16"), Seq("klines", "aggTrades"))
    assert(got.size == 3 && got.forall(Files.exists(_)))
    // the absent aggTrades day left a negative marker
    assert(Files.exists(cache.cachePath("aggTrades", "ETHUSDT",
      LocalDate.parse("2026-01-16")).resolveSibling(
      "ETHUSDT-aggTrades-2026-01-16.zip.missing")))
  }

  test("bucketed lake tables join WITHOUT a shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-bucketed").toString
    val left = spark.range(0, 1000)
      .select(col("id").as("user_id"), (col("id") % 7).as("v"))
    val right = spark.range(0, 1000)
      .select(col("id").as("user_id"), (col("id") % 11).as("w"))
    graft.sources.BucketedLake.writeBucketed(
      left, "bkt_left", s"$dir/left", "user_id", numBuckets = 8,
      sortCols = Seq("user_id"))
    graft.sources.BucketedLake.writeBucketed(
      right, "bkt_right", s"$dir/right", "user_id", numBuckets = 8,
      sortCols = Seq("user_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path so the assertion targets the Exchange,
      // not a broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "user_id")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      // the whole point: both sides arrive pre-bucketed, NO shuffle
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
      // and values survive the bucketed round-trip
      val sums = joined.agg(sum("v"), sum("w")).collect().head
      val expect = left.join(right, "user_id").agg(sum("v"), sum("w")).collect().head
      assert(sums.getLong(0) == expect.getLong(0) && sums.getLong(1) == expect.getLong(1))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
