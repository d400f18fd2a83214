package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.MinuteBuilder
import graft.sources.{HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}

/** Usage example + smoke driver for the lake write/read path: writes an
  * hour twice (a new day, then a delta patch — the last-wins merge),
  * reads the
  * window back with latest-wins dedup, prints the ledger entry and the
  * pruned-scan physical plan. The demo lake lives in a temporary
  * directory that is deleted on exit. Run:
  * `sbt "runMain graft.tools.LakeDemo"`. */
object LakeDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    val dir = java.nio.file.Files.createTempDirectory("demo-lake").toString
    try demo(spark, dir)
    finally {
      spark.stop()
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      ()
    }
  }

  private def demo(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._

    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    val reader = new MinuteLakeReader(dir)

    def row(t: String, o: Double) = MinuteBuilder.finalizeSchema(
      Seq((java.sql.Timestamp.from(java.time.Instant.parse(t)),
        o, o + 1.0, o - 1.0, o + 0.5, 1.2, 120000.0, 10L, o + 0.1, o + 0.4, o, o + 0.2))
        .toDF("timestamp", "open", "high", "low", "close", "volume_btc",
          "volume_usdt", "trade_count", "mark_price_open", "mark_price_close",
          "index_price_open", "index_price_close"))

    val h = java.time.Instant.parse("2026-01-15T10:00:00Z")
    writer.writeHourPartition("BTCUSDT", h, row("2026-01-15T10:00:00Z", 100.0))
    writer.writeHourPartition("BTCUSDT", h, row("2026-01-15T10:00:00Z", 200.0))

    val back = reader.readWindow(spark, "BTCUSDT", h,
      java.time.Instant.parse("2026-01-15T10:59:00Z"))
    println(s"ROWS=${back.count()} OPEN=${back.select("open").head.getDouble(0)}")
    println("LEDGER=" + new PartitionLedger(s"$dir/_state")
      .latestPartition("BTCUSDT").map(e => s"${e.path} rows=${e.rowCount}"))
    back.select("timestamp", "open").explain("formatted")

    // end-to-end lifecycle: 10 minutes → HTF backfill → API candle bars
    val tenMinutes = MinuteBuilder.finalizeSchema(
      (0 until 10).map { i =>
        (java.sql.Timestamp.from(h.plusSeconds(60L * i)),
          100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 1.0, 100000.0, 10L,
          100.0, 100.5, 100.0, 100.4)
      }.toDF("timestamp", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "mark_price_open", "mark_price_close",
        "index_price_open", "index_price_close"))
    writer.writeHourPartition("BTCUSDT", h, tenMinutes)
    val htfWriter = new HtfLakeWriter(s"$dir/htf", LakeLayout.DayWide(filesPerDay = 4))
    val state = new graft.operators.AggregatorRunner.AggregatorStateStore(s"$dir/_aggstate")
    val bf = graft.operators.AggregatorRunner.runBackfillAll(spark, reader,
      htfWriter, state, s"$dir/htf", graft.schema.Timeframes.parse("5m"))
    println(s"BACKFILL scanned=${bf.bucketsScanned} written=${bf.bucketsWritten}")
    val bars = graft.service.QueryService.candleBars(spark, reader, "BTCUSDT",
      "5m", h, h.plusSeconds(9 * 60))
    println("BARS=" + bars.select("timestamp", "open", "close", "cvd_btc")
      .collect().map(_.toString).mkString(" | "))
    val ind = graft.service.QueryService.indicatorPayload(spark, reader,
      "BTCUSDT", emaTf = "3m", emaLength = 2, pivotTf = "5m",
      endTime = h.plusSeconds(10 * 60))
    println(s"INDICATORS ema=${ind.ema.map(v => f"$v%.2f")} pivots=" +
      ind.pivots.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.2f" }.mkString(","))

    // round-2 routes: BTC local-only (HTF-first) and the native candle
    // path with enrichment, through the planner-gated wrapper
    val htfReader = new graft.sources.HtfLakeReader(s"$dir/htf")
    val local = graft.service.QueryService.btcLocalOnlyBars(spark, reader, htfReader,
      "BTCUSDT", "5m", h.plusSeconds(10 * 60), limit = 2)
    println(s"BTC_LOCAL mode=${local.fetchMode} rows=${local.frame.count()} " +
      s"notes=${local.notes.mkString(",")}")

    val t0 = h.toEpochMilli
    val klines = Seq(
      (t0, 100.0, 101.0, 99.0, 100.5, 2.0, 200.0, 20L, 1.0, 100.0),
      (t0 + 300000L, 100.5, 102.0, 100.0, 101.5, 3.0, 303.0, 30L, 1.5, 151.5))
      .toDF("open_time", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")
    val aux = graft.service.NativeCandles.AuxSeries(
      markPriceKlines = Some(Seq((t0, 100.1, 100.6), (t0 + 300000L, 100.6, 101.6))
        .toDF("open_time", "mark_price_open", "mark_price_close")),
      fundingRate = Some(Seq((t0 - 3600000L, 0.0001))
        .toDF("funding_time", "funding_rate")))
    val native = graft.service.QueryService.nativeCandleBars(
      klines, aux, "5m", limit = 2)
    println("NATIVE=" + native.frame
      .select("timestamp", "close", "mark_price_close", "funding_rate")
      .collect().map(_.toString).mkString(" | "))
    println(s"NATIVE_NOTES=${native.notes.take(4).mkString(",")}")
    native.release()
    local.release()

    // HTTP façade over the real payload builders: one valid request per
    // route, one validation rejection, one service-error rejection
    import graft.service.HttpFacade
    val router = new HttpFacade.Router(
      perpetual = q => {
        val symbol = graft.service.ApiTimeframes.normalizeSymbol(q.coin)
        val requests = graft.service.ApiTimeframes.parseTimeframeRequests(q.tfs)
        val end = q.endTime.map(java.time.Instant.parse)
          .getOrElse(h.plusSeconds(10 * 60))
        HttpFacade.perpetualBody(graft.service.QueryService.perpetualPayload(
          symbol, requests.map(_.apiName), q.limit.getOrElse(200), end,
          fetch = tf => {
            val spec = graft.schema.Timeframes.parse(tf)
            val frame = graft.service.QueryService.candleBars(spark, reader,
              symbol, spec.name, h, end)
            graft.service.QueryService.TimeframeResult(
              rows = frame.toJSON.collect().toSeq, source = "local",
              fetchMode = "aggregate_from_1m", fallbackUsed = false,
              notes = Nil, latencySecs = 0.0)
          }))
      },
      indicators = q => HttpFacade.indicatorBody(
        graft.service.QueryService.indicatorPayload(spark, reader,
          graft.service.ApiTimeframes.normalizeSymbol(q.coin),
          q.emaTf, q.emaLength, q.pivotTf,
          q.endTime.map(java.time.Instant.parse).getOrElse(h.plusSeconds(10 * 60)))))
    val ok = router.handle(HttpFacade.HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "btc", "tfs" -> "5m", "limit" -> "2")))
    val okBars = ok.body("data").asInstanceOf[Map[String, Seq[String]]]("5m")
    println(s"HTTP_PERP status=${ok.status} bars=${okBars.size} " +
      s"timed=${ok.headers.contains("X-Response-Time-Secs")}")
    val okInd = router.handle(HttpFacade.HttpRequest("/api/v1/live-indicators",
      Map("coin" -> "BTC", "ema_tf" -> "3m", "ema_length" -> "2", "pivot_tf" -> "5m")))
    println(s"HTTP_IND status=${okInd.status} ema=${okInd.body("ema_value")}")
    val bad = router.handle(HttpFacade.HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC")))
    val unsupported = router.handle(HttpFacade.HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC", "tfs" -> "2h")))
    println(s"HTTP_ERRS validation=${bad.status} service=${unsupported.status}")
  }
}
