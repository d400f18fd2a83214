package graft

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.operators.MinuteBuilder
import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.{Band, BandCollector, SourceBatch}
import graft.schema.CanonicalSchema

/** Golden values ported from reference `tests/test_transform_engine.py`. */
class MinuteBuilderSpec extends SparkSpec {
  import spark.implicits._

  private def kline(openTimeMs: Long, open: Double = 100.0, high: Double = 101.0,
                    low: Double = 99.0, close: Double = 100.5,
                    volBtc: Double = 2.0, volUsdt: Double = 200000.0,
                    tc: Long = 20, tbBtc: Double = 1.1, tbUsdt: Double = 110000.0) =
    (openTimeMs, open, high, low, close, volBtc, volUsdt, tc, tbBtc, tbUsdt)

  private def klinesDf(rows: Seq[(Long, Double, Double, Double, Double, Double, Double, Long, Double, Double)]): DataFrame =
    rows.toDF("open_time", "open", "high", "low", "close", "volume_btc",
      "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")

  private def markDf(rows: Seq[(Long, Double, Double)]): DataFrame =
    rows.toDF("open_time", "mark_price_open", "mark_price_close")

  private def indexDf(rows: Seq[(Long, Double, Double)]): DataFrame =
    rows.toDF("open_time", "index_price_open", "index_price_close")

  test("single kline minute → 66 canonical columns, vwap falls back to close (test_transform_engine.py:15-64)") {
    val start = instant("2026-01-15T10:00:00Z")
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, start,
      klines = Some(klinesDf(Seq(kline(start.toEpochMilli)))),
      markPriceKlines = Some(markDf(Seq((start.toEpochMilli, 100.1, 100.4)))),
      indexPriceKlines = Some(indexDf(Seq((start.toEpochMilli, 100.0, 100.2)))))
    val rows = frame.collect()
    assert(rows.length == 1)
    assert(frame.columns.toSeq == CanonicalSchema.columnNames)
    val r = rows.head
    def v(c: String): Any = r.get(frame.columns.indexOf(c))
    assert(v("vwap_1m") == v("close"))
    assert(v("open") == 100.0)
    assert(v("avg_trade_size_btc") == 2.0 / 20)
    // premium_index = mark/index - 1
    assert(math.abs(v("premium_index").asInstanceOf[Double] - (100.4 / 100.2 - 1.0)) < 1e-12)
    // no live features → coverage flags false, gated fields NULL
    assert(v("has_liq") == false && v("liq_long_vol_usdt") == null)
    assert(v("ws_latency_bad") == null)
  }

  test("book-ticker snapshot forward-fills within limit (test_transform_engine.py:66-150)") {
    val start = instant("2026-01-15T10:00:00Z")
    val next = instant("2026-01-15T10:01:00Z")
    val bt = Seq((start.toEpochMilli, 100.0, 10.0, 101.0, 8.0))
      .toDF("event_time", "bid_price", "bid_qty", "ask_price", "ask_qty")
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, next,
      klines = Some(klinesDf(Seq(kline(start.toEpochMilli), kline(next.toEpochMilli, open = 101.0)))),
      markPriceKlines = Some(markDf(Seq((start.toEpochMilli, 100.1, 100.4), (next.toEpochMilli, 101.1, 101.4)))),
      indexPriceKlines = Some(indexDf(Seq((start.toEpochMilli, 100.0, 100.2), (next.toEpochMilli, 101.0, 101.2)))),
      bookTickerSnapshots = Some(bt))
    val got = frame.select("avg_spread_usdt", "micro_price_close").collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(1.0, 1.0))
    assert(got.forall(!_.isNullAt(1)))
  }

  test("direct OI metrics rows forward-fill (test_transform_engine.py:152-231)") {
    val start = instant("2026-01-15T10:00:00Z")
    val next = instant("2026-01-15T10:01:00Z")
    val metrics = Seq((start.toEpochMilli, 12345.0, 987654321.0))
      .toDF("create_time", "oi_contracts", "oi_value_usdt")
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, next,
      klines = Some(klinesDf(Seq(kline(start.toEpochMilli), kline(next.toEpochMilli)))),
      metricsRows = Some(metrics))
    val got = frame.select("oi_contracts", "oi_value_usdt").collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(12345.0, 12345.0))
    assert(got.map(_.getDouble(1)).toSeq == Seq(987654321.0, 987654321.0))
  }

  test("L/S ratio as-of with 30-minute freshness gate (test_transform_engine.py:252-358)") {
    val start = instant("2026-01-15T10:00:00Z")
    val end = instant("2026-01-15T10:40:00Z")
    val top = Seq(
      (ms("2026-01-15T10:00:00Z"), 1.2, 0.55, 0.45),
      (ms("2026-01-15T10:05:00Z"), 1.3, 0.57, 0.43)
    ).toDF("data_time", "ratio", "long_account", "short_account")
    val global = Seq(
      (ms("2026-01-15T10:00:00Z"), 1.0, 0.51, 0.49),
      (ms("2026-01-15T10:05:00Z"), 1.1, 0.52, 0.48)
    ).toDF("data_time", "ratio", "long_account", "short_account")
    val klineRows = (0 to 40).map(i => kline(start.plusSeconds(60L * i).toEpochMilli))
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, end,
      klines = Some(klinesDf(klineRows)),
      topTraderRatioRows = Some(top), globalRatioRows = Some(global))
      .select("timestamp", "top_trader_ls_ratio_acct", "global_ls_ratio_acct",
        "ls_ratio_divergence", "has_ls_ratio")
      .collect().map(r => r.getTimestamp(0).toInstant -> r).toMap

    val r1004 = frame(instant("2026-01-15T10:04:00Z"))
    assert(r1004.getDouble(1) == 1.2 && r1004.getDouble(2) == 1.0 && r1004.getBoolean(4))
    val r1006 = frame(instant("2026-01-15T10:06:00Z"))
    assert(r1006.getDouble(1) == 1.3 && r1006.getDouble(2) == 1.1)
    assert(math.abs(r1006.getDouble(3) - 0.2) < 1e-9)
    val r1036 = frame(instant("2026-01-15T10:36:00Z"))
    assert(r1036.isNullAt(1) && r1036.isNullAt(2) && !r1036.getBoolean(4))
  }

  test("live features preserve 0-vs-NULL semantics (test_transform_engine.py:360-430)") {
    val start = instant("2026-01-15T10:00:00Z")
    val live = spark.createDataFrame(
      java.util.List.of(Row(start.toEpochMilli, false, false, true, false,
        null, null, null, null, null, null, null, null, null, null, null,
        0.0, 0.0, 0L, 0L, null, null, true, null, null)),
      org.apache.spark.sql.types.StructType(Seq(
        ("timestamp_ms", "long"), ("has_ws_latency", "boolean"),
        ("has_depth", "boolean"), ("has_liq", "boolean"), ("has_ls_ratio", "boolean"),
        ("event_time", "long"), ("transact_time", "long"), ("arrival_time", "long"),
        ("latency_engine", "long"), ("latency_network", "long"),
        ("ws_latency_bad", "boolean"), ("update_id_start", "long"),
        ("update_id_end", "long"), ("price_impact_100k", "double"),
        ("impact_fillable", "boolean"), ("depth_degraded", "boolean"),
        ("liq_long_vol_usdt", "double"), ("liq_short_vol_usdt", "double"),
        ("liq_long_count", "long"), ("liq_short_count", "long"),
        ("liq_avg_fill_price", "double"), ("liq_unfilled_ratio", "double"),
        ("liq_unfilled_supported", "boolean"), ("predicted_funding", "double"),
        ("next_funding_time", "long")
      ).map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DataType.fromDDL(t), nullable = true)
      }))
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, start,
      klines = Some(klinesDf(Seq(kline(start.toEpochMilli, tbBtc = 1.0, tbUsdt = 100000.0)))),
      markPriceKlines = Some(markDf(Seq((start.toEpochMilli, 100.0, 100.5)))),
      indexPriceKlines = Some(indexDf(Seq((start.toEpochMilli, 100.0, 100.4)))),
      liveFeatures = Some(live))
    val r = frame.collect().head
    def v(c: String): Any = r.get(frame.columns.indexOf(c))
    assert(v("ws_latency_bad") == null)
    assert(v("depth_degraded") == null)
    assert(v("liq_long_vol_usdt") == 0.0 && v("liq_short_vol_usdt") == 0.0)
    assert(v("liq_long_count") == 0L && v("liq_short_count") == 0L)
    assert(v("liq_avg_fill_price") == null && v("liq_unfilled_ratio") == null)
    assert(v("liq_unfilled_supported") == true)
  }

  test("agg trades: whale/retail split, vwap, realized vol (minute_builder.py:195-259)") {
    val start = instant("2026-01-15T10:00:00Z")
    val t0 = start.toEpochMilli
    // (agg_trade_id, price, qty, first_id, last_id, transact_time, is_buyer_maker)
    val trades = Seq(
      (1L, 100.0, 1.0, 1L, 1L, t0 + 1000, false),   // taker buy, notional 100 → retail
      (2L, 101.0, 1000.0, 2L, 2L, t0 + 2000, true), // taker sell, notional 101000 → whale
      (3L, 102.0, 0.005, 3L, 3L, t0 + 3000, false)  // taker buy, notional 0.51 → retail
    ).toDF("agg_trade_id", "price", "qty", "first_trade_id", "last_trade_id",
      "transact_time", "is_buyer_maker")
    val frame = MinuteBuilder.buildCanonicalFrame(spark, start, start,
      klines = Some(klinesDf(Seq(kline(t0)))),
      aggTrades = Some(trades))
    val r = frame.collect().head
    def v(c: String): Any = r.get(frame.columns.indexOf(c))
    val totalNotional = 100.0 * 1.0 + 101.0 * 1000.0 + 102.0 * 0.005
    val totalQty = 1.0 + 1000.0 + 0.005
    assert(math.abs(v("vwap_1m").asInstanceOf[Double] - totalNotional / totalQty) < 1e-9)
    assert(v("max_trade_size_btc") == 1000.0)
    assert(v("count_buy_trades") == 2L && v("count_sell_trades") == 1L)
    assert(v("vol_sell_whale_btc") == 1000.0 && v("vol_buy_whale_btc") == 0.0)
    assert(math.abs(v("vol_buy_retail_btc").asInstanceOf[Double] - 1.005) < 1e-12)
    assert(v("whale_trade_count") == 1L)
    assert(math.abs(v("net_taker_vol_btc").asInstanceOf[Double] - (1.005 - 1000.0)) < 1e-9)
    val expVol = math.sqrt(math.pow(math.log(101.0 / 100.0), 2) + math.pow(math.log(102.0 / 101.0), 2))
    assert(math.abs(v("realized_vol_1m").asInstanceOf[Double] - expVol) < 1e-12)
    // taker_buy_ratio = buy_qty / (buy+sell)
    assert(math.abs(v("taker_buy_ratio").asInstanceOf[Double] - 1.005 / totalQty) < 1e-12)
  }

  test("raw trades reuse the aggTrades minute aggregation; bookDepth normalizes last+mean per (minute, offset) (addendum §I)") {
    val t0 = instant("2026-01-15T10:00:00Z").toEpochMilli
    // identical per-trade content through both loaders' shapes must
    // produce identical minute features (shared aggregation, one rename)
    val agg = Seq(
      (1L, 100.0, 1.0, 1L, 1L, t0 + 1000, false),
      (2L, 101.0, 1000.0, 2L, 2L, t0 + 2000, true),
      (3L, 102.0, 0.005, 3L, 3L, t0 + 3000, false)
    ).toDF("agg_trade_id", "price", "qty", "first_trade_id", "last_trade_id",
      "transact_time", "is_buyer_maker")
    val raw = Seq(
      (1L, 100.0, 1.0, 100.0, t0 + 1000, false),
      (2L, 101.0, 1000.0, 101000.0, t0 + 2000, true),
      (3L, 102.0, 0.005, 0.51, t0 + 3000, false)
    ).toDF("trade_id", "price", "qty", "quote_qty", "transact_time", "is_buyer_maker")
    val a = MinuteBuilder.aggTradeFrame(agg).collect().map(_.toString).sorted
    val b = MinuteBuilder.tradesFrame(raw).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)

    // bookDepth: two snapshots in minute 0 at +1% (last wins for close,
    // both average into mean), one at -1%, one in the next minute
    val depth = Seq(
      (t0 + 1000, 1L, 100.0, 10000.0),
      (t0 + 50000, 1L, 120.0, 12000.0),  // later → close
      (t0 + 2000, -1L, 80.0, 8000.0),
      (t0 + 61000, 1L, 130.0, 13000.0)
    ).toDF("snapshot_time", "percentage", "depth", "notional")
    val out = MinuteBuilder.bookDepthFrame(depth)
      .orderBy("timestamp", "percentage").collect()
    assert(out.length == 3)
    val idx = (c: String) => out.head.schema.fieldIndex(c)
    val m0p1 = out(1) // minute 0, +1%
    assert(m0p1.getDouble(idx("depth_close")) == 120.0)
    assert(m0p1.getDouble(idx("depth_mean")) == 110.0)
    assert(m0p1.getDouble(idx("notional_close")) == 12000.0)
    assert(m0p1.getLong(idx("n_snapshots")) == 2L)
    val m0m1 = out(0) // minute 0, -1%
    assert(m0m1.getDouble(idx("depth_close")) == 80.0 && m0m1.getLong(idx("n_snapshots")) == 1L)
    val m1p1 = out(2) // minute 1, +1%
    assert(m1p1.getDouble(idx("depth_close")) == 130.0)
  }

  // ------------------------------------------- sparse sources, any shape

  private val Base = instant("2026-01-15T10:00:00Z")

  private def schema(fields: (String, String)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, DataType.fromDDL(t), nullable = true) })

  private val LiveSchema = schema(
    "timestamp_ms" -> "long", "has_ws_latency" -> "boolean", "has_depth" -> "boolean",
    "has_liq" -> "boolean", "has_ls_ratio" -> "boolean", "event_time" -> "long",
    "transact_time" -> "long", "arrival_time" -> "long", "latency_engine" -> "long",
    "latency_network" -> "long", "ws_latency_bad" -> "boolean", "update_id_start" -> "long",
    "update_id_end" -> "long", "price_impact_100k" -> "double", "impact_fillable" -> "boolean",
    "depth_degraded" -> "boolean", "liq_long_vol_usdt" -> "double",
    "liq_short_vol_usdt" -> "double", "liq_long_count" -> "long", "liq_short_count" -> "long",
    "liq_avg_fill_price" -> "double", "liq_unfilled_ratio" -> "double",
    "liq_unfilled_supported" -> "boolean", "predicted_funding" -> "double",
    "next_funding_time" -> "long")

  private val RatioSchema =
    schema("data_time" -> "long", "ratio" -> "double", "long_account" -> "double",
      "short_account" -> "double")

  /** Every builder source: its record schema and a row for record `i` at
    * epoch-ms `t` (values seeded by both, so reruns see the same rows). */
  private val Sources: Seq[(String, StructType, (Long, Int, scala.util.Random) => Row)] = Seq(
    ("klines", schema("open_time" -> "long", "open" -> "double", "high" -> "double",
      "low" -> "double", "close" -> "double", "volume_btc" -> "double",
      "volume_usdt" -> "double", "trade_count" -> "long", "taker_buy_vol_btc" -> "double",
      "taker_buy_vol_usdt" -> "double"),
      (t, _, r) => Row(t, 100 + r.nextDouble(), 102.0, 99.0, 100 + r.nextDouble(),
        r.nextDouble() * 3, r.nextDouble() * 300, r.nextInt(3).toLong, r.nextDouble(),
        r.nextDouble() * 100)),
    ("mark", schema("open_time" -> "long", "mark_price_open" -> "double",
      "mark_price_close" -> "double"),
      (t, _, r) => Row(t, 100 + r.nextDouble(), 100 + r.nextDouble())),
    ("index", schema("open_time" -> "long", "index_price_open" -> "double",
      "index_price_close" -> "double"),
      (t, _, r) => Row(t, 100 + r.nextDouble(), if (r.nextInt(5) == 0) 0.0 else 100 + r.nextDouble())),
    ("aggTrades", schema("agg_trade_id" -> "long", "price" -> "double", "qty" -> "double",
      "first_trade_id" -> "long", "last_trade_id" -> "long", "transact_time" -> "long",
      "is_buyer_maker" -> "boolean"),
      (t, i, r) => Row(i.toLong, 100 + r.nextDouble(),
        if (r.nextBoolean()) r.nextDouble() * 2 else 900 + r.nextDouble() * 2000,
        i.toLong, i.toLong, t, r.nextBoolean())),
    ("bookTicker", schema("event_time" -> "long", "bid_price" -> "double",
      "bid_qty" -> "double", "ask_price" -> "double", "ask_qty" -> "double"),
      (t, _, r) => Row(t, 100.0, 1 + r.nextDouble(), 100.5 + r.nextDouble(), 1 + r.nextDouble())),
    ("funding", schema("funding_time" -> "long", "funding_rate" -> "double"),
      (t, _, r) => Row(t, r.nextDouble() / 1000)),
    ("premium", schema("event_time" -> "long", "predicted_funding" -> "double",
      "next_funding_time" -> "long", "last_funding_rate" -> "double"),
      (t, _, r) => Row(t, r.nextDouble() / 1000, t + 28800000L, r.nextDouble() / 1000)),
    ("metrics", schema("create_time" -> "long", "oi_contracts" -> "double",
      "oi_value_usdt" -> "double"),
      (t, _, r) => Row(t, 1000 * r.nextDouble(), 100000 * r.nextDouble())),
    ("top", RatioSchema,
      (t, _, r) => Row(t, 1 + r.nextDouble(), r.nextDouble(), r.nextDouble())),
    ("global", RatioSchema,
      (t, _, r) => Row(t, 1 + r.nextDouble(), r.nextDouble(), r.nextDouble())),
    ("live", LiveSchema, (t, _, r) => {
      def opt[A](a: => A): Any = if (r.nextInt(3) == 0) null else a
      Row(t, r.nextBoolean(), r.nextBoolean(), r.nextBoolean(), opt(r.nextBoolean()),
        opt(t + 5), opt(t + 7), opt(t + 9), opt(r.nextInt(50).toLong),
        opt(r.nextInt(50).toLong), opt(r.nextBoolean()), opt(r.nextInt(100).toLong),
        opt(100L + r.nextInt(100)), opt(r.nextDouble()), opt(r.nextBoolean()),
        opt(r.nextBoolean()), opt(r.nextDouble() * 1000), opt(r.nextDouble() * 1000),
        opt(r.nextInt(5).toLong), opt(r.nextInt(5).toLong), opt(100 + r.nextDouble()),
        opt(r.nextDouble()), opt(r.nextBoolean()), opt(r.nextDouble() / 1000),
        opt(t + 3600000L))
    }))

  /** One source's record frame: one record per (distinct) epoch-ms time. */
  private def records(name: String, times: Seq[Long]): DataFrame = {
    val (_, sch, row) = Sources.find(_._1 == name).get
    val rows = times.zipWithIndex.map { case (t, i) =>
      row(t, i, new scala.util.Random(t * 31 + name.hashCode)) }
    spark.createDataFrame(rows.asJava, sch)
  }

  private def build(start: Instant, end: Instant, src: Map[String, DataFrame]): DataFrame =
    MinuteBuilder.buildCanonicalFrame(spark, start, end,
      klines = src.get("klines"), markPriceKlines = src.get("mark"),
      indexPriceKlines = src.get("index"), aggTrades = src.get("aggTrades"),
      fundingRates = src.get("funding"), bookTickerSnapshots = src.get("bookTicker"),
      premiumIndexSnapshots = src.get("premium"), metricsRows = src.get("metrics"),
      topTraderRatioRows = src.get("top"), globalRatioRows = src.get("global"),
      liveFeatures = src.get("live"))

  /** The reference's shape, as the builder had it before the union merge:
    * a dense spine left-joined to each prepped source in turn. */
  private def joinChainOracle(start: Instant, end: Instant, src: Map[String, DataFrame]): DataFrame = {
    val spine = spark.range(1).select(explode(sequence(
      lit(java.sql.Timestamp.from(start)), lit(java.sql.Timestamp.from(end)),
      expr("interval 1 minute"))).as("timestamp"))
    val preps = Seq(
      src.get("klines").map(MinuteBuilder.klinesFrame),
      src.get("mark").map(MinuteBuilder.markPriceFrame),
      src.get("index").map(MinuteBuilder.indexPriceFrame),
      src.get("aggTrades").map(MinuteBuilder.aggTradeFrame),
      src.get("bookTicker").map(MinuteBuilder.bookTickerFrame),
      src.get("funding").map(MinuteBuilder.fundingFrame),
      src.get("premium").map(MinuteBuilder.premiumFrame),
      src.get("metrics").map(MinuteBuilder.metricsFrame),
      if (src.contains("top") || src.contains("global"))
        Some(MinuteBuilder.lsRatioFrame(spine, src.get("top"), src.get("global")))
      else None,
      src.get("live").map(lf => Seq("predicted_funding", "next_funding_time", "has_ls_ratio",
        "transact_time").foldLeft(MinuteBuilder.liveFrame(lf))((df, c) =>
          df.withColumnRenamed(c, s"${c}_live")))
    ).flatten
    val joined = preps.foldLeft(spine)(_.join(_, Seq("timestamp"), "left"))
    MinuteBuilder.finalizeSchema(
      MinuteBuilder.applyFillPolicies(MinuteBuilder.deriveColumns(joined), 60))
  }

  /** Cells that differ between two ordered collects, nulls included
    * (doubles to 1e-9 relative: a prep's sums may add in another order). */
  private def mismatches(got: DataFrame, want: DataFrame): Seq[String] = {
    val (g, w) = (got.collect(), want.collect())
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => a == b
    }
    if (g.length != w.length) Seq(s"rows: ${g.length} vs ${w.length}")
    else g.zip(w).flatMap { case (a, b) =>
      got.columns.indices.collect { case i if !same(a.get(i), b.get(i)) =>
        s"${a.get(0)} ${got.columns(i)}: ${a.get(i)} vs ${b.get(i)}" }
    }.toSeq
  }

  test("union-merge build equals the spine-plus-left-joins shape on sparse sources (property)") {
    val minute = 60000L
    // per source: absent, present with no rows, or distinct record times
    // (several per minute) from `lo` minutes before the window to the
    // minute after it; L/S ratio rows reach 45 minutes back, so stale
    // (> 30 min) and fresh ones both occur
    def times(lo: Long, hi: Long): Gen[Option[Seq[Long]]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some(Nil)),
      5 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.choose(lo, hi)))
        .map(ts => Some(ts.distinct)))
    val cases = for {
      offset <- Gen.choose(0, 30)
      len <- Gen.choose(1, 8)
      start = Base.plus(offset.toLong, ChronoUnit.MINUTES)
      end = start.plus(len - 1L, ChronoUnit.MINUTES)
      s = start.toEpochMilli
      e = end.toEpochMilli + 2 * minute - 1
      picked <- Gen.sequence[List[(String, Option[Seq[Long]])], (String, Option[Seq[Long]])](
        Sources.map { case (name, _, _) =>
          val lo = if (name == "top" || name == "global") s - 45 * minute else s - 3 * minute
          times(lo, e).map(name -> _)
        })
    } yield (start, end, picked.collect { case (n, Some(ts)) => n -> ts }.toMap)

    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20).withWorkers(1),
      Prop.forAll(cases) { case (start, end, picked) =>
        val src = picked.map { case (n, ts) => n -> records(n, ts) }
        val diff = mismatches(build(start, end, src), joinChainOracle(start, end, src))
        diff.isEmpty :| s"$start..$end ${picked.keys.toSeq.sorted}: ${diff.take(5)}"
      })
    assert(r.passed, s"${r.status}")
  }

  /** Every source of one symbol-hour, a record every 20 s, L/S ratios every
    * 5 minutes from half an hour before the hour. */
  private def fullHour(start: Instant): Map[String, DataFrame] = {
    val s = start.toEpochMilli
    Sources.map { case (name, _, _) =>
      val ts =
        if (name == "top" || name == "global") (-6 until 12).map(s + _ * 300000L)
        else (0 until 180).map(s + _ * 20000L + 7)
      name -> records(name, ts)
    }.toMap
  }

  test("a symbol-hour with every source builds in one job with no exchange; two symbols write in one job") {
    val end = Base.plus(59, ChronoUnit.MINUTES)
    val frame = build(Base, end, fullHour(Base))
    val (rows, jobs) = jobsOf(frame.collect())
    assert(rows.length == 60)
    assert(jobs == 1, s"collect jobs: $jobs")
    val exchanges = graft.tools.PlanCheck.nodes(frame.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.simpleString(80)
      case e: BroadcastExchangeExec => e.simpleString(80)
    }
    assert(exchanges.isEmpty, exchanges.mkString("\n"))

    // the hourly append's input: one Orchestrator build per symbol
    def collector(sym: Int) = new BandCollector {
      private val src = fullHour(Base.plusMillis(sym.toLong))
      def rest(s: Instant, e: Instant): SourceBatch = SourceBatch(
        klines = src.get("klines"), markPriceKlines = src.get("mark"),
        indexPriceKlines = src.get("index"), aggTrades = src.get("aggTrades"),
        bookTickerSnapshots = src.get("bookTicker"),
        premiumIndexSnapshots = src.get("premium"), metricsRows = src.get("metrics"),
        fundingRates = src.get("funding"), topTraderRatioRows = src.get("top"),
        globalRatioRows = src.get("global"), liveFeatures = src.get("live"))
      def vision(s: Instant, e: Instant): SourceBatch = rest(s, e)
      def liveAggTrades(s: Instant, e: Instant): Option[DataFrame] = None
    }
    val hour = Seq("BTCUSDT", "ETHUSDT").zipWithIndex.map { case (sym, i) =>
      Orchestrator.collectAndBuild(spark, collector(i), Base, end, Band.Hot)
        .withColumn("symbol", lit(sym))
    }.reduce(_ unionByName _)
    val out = tempDir("graft-mb-write").resolve("hour").toString
    val (_, writeJobs) = jobsOf(hour.write.parquet(out))
    assert(writeJobs == 1, s"write jobs: $writeJobs")
    assert(spark.read.parquet(out).count() == 120)
  }
}
