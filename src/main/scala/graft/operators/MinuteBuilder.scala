package graft.operators

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AsOf, Ops}
import graft.schema.CanonicalSchema

/** Canonical 1-minute frame builder — Spark re-expression of the
  * reference's `MinuteTransformEngine.build_canonical_frame`
  * (`transforms/minute_builder.py:75-123`): dense minute spine + per-source
  * minute aggregates → derived columns → fill policies → canonical schema
  * finalize.
  *
  * Inputs are DataFrames with the source-record schemas of FIXTURES.md §1
  * (epoch-ms longs for times). Each source prep is a narrow projection +
  * one aggregation keyed by the truncated minute, so it yields at most one
  * row per minute. Where the reference left-joins each prep onto the
  * spine, the build unions the spine with every prep (cut to the window)
  * and merges them in ONE `groupBy("timestamp")` that keeps each column's
  * single non-null value: the same rows as the join chain, without one
  * join (and one broadcast or shuffle stage) per source. A builder call
  * covers a bounded window — an hour per symbol (reference
  * `pipeline/orchestrator.py`), an API patch window, three hours in
  * `mb_canonical_build` — so the spine and every source are read on ONE
  * partition and the whole build is one stage with no exchange. At lake
  * scale many builder calls run as independent partitions.
  */
object MinuteBuilder {

  /** Epoch-ms long → UTC minute-truncated timestamp (the universal key
    * normalizer, reference `minute_builder.py:145-152`). */
  def toMinuteTs(epochMs: Column): Column =
    date_trunc("minute", timestamp_millis(epochMs.cast("long")))

  private def dedupLastByTs(df: DataFrame, order: Column): DataFrame =
    Ops.dedupKeepLast(df, Seq("timestamp"), Seq(order))

  /** klines → per-minute OHLCV (reference `minute_builder.py:154-173`). */
  def klinesFrame(records: DataFrame): DataFrame =
    dedupLastByTs(
      records.withColumn("timestamp", toMinuteTs(col("open_time"))),
      col("open_time"))
      .select("timestamp", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "taker_buy_vol_btc", "taker_buy_vol_usdt")

  def markPriceFrame(records: DataFrame): DataFrame =
    dedupLastByTs(records.withColumn("timestamp", toMinuteTs(col("open_time"))),
      col("open_time"))
      .select("timestamp", "mark_price_open", "mark_price_close")

  def indexPriceFrame(records: DataFrame): DataFrame =
    dedupLastByTs(records.withColumn("timestamp", toMinuteTs(col("open_time"))),
      col("open_time"))
      .select("timestamp", "index_price_open", "index_price_close")

  /** aggTrades → per-minute trade-shape features (reference
    * `minute_builder.py:195-259`): conditional buy/sell/whale/retail
    * splits, VWAP, per-minute log-return realized vol. */
  def aggTradeFrame(records: DataFrame): DataFrame = {
    val qty = col("qty")
    val notional = col("price") * qty
    val isBuy = col("is_buyer_maker") === false
    def qtyIf(c: Column): Column = sum(when(c, qty).otherwise(0.0))
    def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val minute = toMinuteTs(col("transact_time"))
    val w = Window.partitionBy(minute).orderBy(col("transact_time"), col("agg_trade_id"))
    records
      .select(minute.as("timestamp"), col("transact_time"), col("price"), qty,
        col("is_buyer_maker"),
        (log(col("price")) - log(lag(col("price"), 1).over(w))).as("log_return"))
      .groupBy("timestamp").agg(
        max(col("transact_time")).as("transact_time"),
        (sum(notional) / sum(qty)).as("vwap_1m"),
        max(qty).as("max_trade_size_btc"),
        qtyIf(isBuy).as("agg_buy_qty"),
        qtyIf(!isBuy).as("agg_sell_qty"),
        (qtyIf(isBuy) - qtyIf(!isBuy)).as("net_taker_vol_btc"),
        countIf(isBuy).as("count_buy_trades"),
        countIf(!isBuy).as("count_sell_trades"),
        qtyIf(isBuy && notional >= 100000.0).as("vol_buy_whale_btc"),
        qtyIf(!isBuy && notional >= 100000.0).as("vol_sell_whale_btc"),
        qtyIf(isBuy && notional <= 1000.0).as("vol_buy_retail_btc"),
        qtyIf(!isBuy && notional <= 1000.0).as("vol_sell_retail_btc"),
        countIf(notional >= 100000.0).as("whale_trade_count"),
        sqrt(sum(pow(coalesce(col("log_return"), lit(0.0)), 2))).as("realized_vol_1m"))
  }

  /** bookTicker snapshots → per-minute spread/imbalance/depth features
    * (reference `minute_builder.py:261-296`). */
  def bookTickerFrame(records: DataFrame): DataFrame = {
    val spread = col("ask_price") - col("bid_price")
    val mid = (col("ask_price") + col("bid_price")) / 2.0
    val qtySum = col("bid_qty") + col("ask_qty")
    records
      .select(toMinuteTs(col("event_time")).as("timestamp"), col("event_time"),
        spread.as("spread"), ((col("bid_qty") - col("ask_qty")) / qtySum).as("imbalance"),
        col("bid_qty"), col("ask_qty"), (spread / mid).as("spread_pct"),
        ((col("bid_price") * col("ask_qty") + col("ask_price") * col("bid_qty")) / qtySum)
          .as("micro_price"))
      .groupBy("timestamp").agg(
        avg(col("spread")).as("avg_spread_usdt"),
        avg(col("imbalance")).as("bid_ask_imbalance"),
        avg(col("bid_qty")).as("avg_bid_depth"),
        avg(col("ask_qty")).as("avg_ask_depth"),
        avg(col("spread_pct")).as("spread_pct"),
        Ops.lastByOrd(col("micro_price"), col("event_time")).as("micro_price_close"))
  }

  /** Raw `trades` → the same per-minute trade-shape features as
    * [[aggTradeFrame]] — addendum §I classes `aggTrades` and `trades`
    * together ("tick/event streams → bucket by minute and aggregate").
    * Raw rows carry `trade_id` where aggTrades carry `agg_trade_id`;
    * one rename adapts them and the aggregation is SHARED, not
    * duplicated (the per-trade columns price/qty/transact_time/
    * is_buyer_maker coincide by construction of
    * [[graft.sources.VisionLoader.tradesFromZips]]). */
  def tradesFrame(records: DataFrame): DataFrame =
    aggTradeFrame(records.withColumnRenamed("trade_id", "agg_trade_id"))

  /** `bookDepth` snapshots → per-minute depth-at-offset features, one
    * row per (minute, percentage offset) — addendum §I "Snapshots …
    * aggregate per minute with locked rule (last-in-minute or mean)":
    * both locked rules are emitted (close = last snapshot in the
    * minute by snapshot time, mean = minute average) plus the snapshot
    * count for completeness accounting. Downstream spine joins treat
    * each percentage offset as its own column family after a pivot, or
    * keep the long shape for range queries. */
  def bookDepthFrame(records: DataFrame): DataFrame =
    records
      .withColumn("timestamp", toMinuteTs(col("snapshot_time")))
      .groupBy("timestamp", "percentage").agg(
        Ops.lastByOrd(col("depth"), col("snapshot_time")).as("depth_close"),
        Ops.lastByOrd(col("notional"), col("snapshot_time")).as("notional_close"),
        avg(col("depth")).as("depth_mean"),
        avg(col("notional")).as("notional_mean"),
        count(lit(1)).as("n_snapshots"))

  def fundingFrame(records: DataFrame): DataFrame =
    dedupLastByTs(records.withColumn("timestamp", toMinuteTs(col("funding_time"))),
      col("funding_time"))
      .select("timestamp", "funding_rate")

  /** premium-index snapshots → per-minute last snapshot (reference
    * `minute_builder.py:309-327`). */
  def premiumFrame(records: DataFrame): DataFrame =
    records
      .withColumn("timestamp", toMinuteTs(col("event_time")))
      .groupBy("timestamp").agg(
        Ops.lastByOrd(col("predicted_funding").cast("double"), col("event_time"))
          .as("predicted_funding"),
        Ops.lastByOrd(col("next_funding_time").cast("long"), col("event_time"))
          .as("next_funding_time"),
        Ops.lastByOrd(col("last_funding_rate").cast("double"), col("event_time"))
          .as("premium_last_funding_rate"))

  /** metrics rows → per-minute OI; handles both the REST shape
    * (oi_contracts/oi_value_usdt + epoch-ms create_time) and the Vision
    * CSV shape (sums/counts + "yyyy-MM-dd HH:mm:ss" create_time)
    * (reference `minute_builder.py:329-377`). */
  def metricsFrame(records: DataFrame): DataFrame = {
    val cols = records.columns.toSet
    require(cols.contains("create_time"), "metrics rows need create_time")
    val ts =
      if (records.schema("create_time").dataType == org.apache.spark.sql.types.StringType)
        date_trunc("minute", to_timestamp(col("create_time"), "yyyy-MM-dd HH:mm:ss"))
      else toMinuteTs(col("create_time"))
    val oi =
      if (cols.contains("oi_contracts") || cols.contains("oi_value_usdt"))
        Seq("oi_contracts", "oi_value_usdt").map(c =>
          if (cols.contains(c)) col(c) else lit(null).cast("double"))
      else {
        val cnt = col("count_toptrader_long_short_ratio")
        Seq(when(cnt > 0, col("sum_open_interest") / cnt),
          when(cnt > 0, col("sum_open_interest_value") / cnt))
      }
    dedupLastByTs(
      records.select(ts.as("timestamp"), col("create_time"),
        oi(0).as("oi_contracts"), oi(1).as("oi_value_usdt")),
      col("create_time"))
      .select("timestamp", "oi_contracts", "oi_value_usdt")
  }

  /** L/S ratio 5-minute series → minute spine via backward as-of join
    * with 30-minute freshness tolerance (reference
    * `minute_builder.py:409-454`, SURVEY §2.3 J2). */
  def lsRatioFrame(spine: DataFrame, topTrader: Option[DataFrame],
                   global: Option[DataFrame]): DataFrame = {
    val tolMs = 30L * 60 * 1000
    val noValue = lit(null).cast("double")

    // bucketed form: same backward+tolerance semantics, but the window
    // shuffle is hash-distributed by tolerance-length time buckets — a
    // bulk backfill over years of minutes never funnels into one task.
    // `pcts` maps the series' percentage columns to their canonical names.
    def asof(left: DataFrame, series: Option[DataFrame], ratioCol: String,
             pcts: Seq[(String, String)]): DataFrame = {
      val valueCols = ratioCol +: pcts.map(_._2)
      series match {
        case Some(df) =>
          val hasPcts = df.columns.contains("long_account")
          val prepped = df.select((
            timestamp_millis(col("data_time").cast("long")).as("data_timestamp") +:
              col("ratio").cast("double").as(ratioCol) +:
              pcts.map { case (src, name) =>
                (if (hasPcts) col(src).cast("double") else noValue).as(name) }): _*)
          AsOf.asofJoinBackwardBucketed(left, prepped, leftOn = "timestamp",
            rightOn = "data_timestamp", valueCols = valueCols, toleranceMs = tolMs)
        case None => left.select(col("*") +: valueCols.map(noValue.as(_)): _*)
      }
    }
    val withTop = asof(spine, topTrader, "top_trader_ls_ratio_acct",
      Seq("long_account" -> "top_trader_long_pct", "short_account" -> "top_trader_short_pct"))
    val withGlobal = asof(withTop, global, "global_ls_ratio_acct", Nil)
    val both = col("top_trader_ls_ratio_acct").isNotNull &&
      col("global_ls_ratio_acct").isNotNull
    withGlobal.select(col("*"),
      when(both, col("top_trader_ls_ratio_acct") - col("global_ls_ratio_acct"))
        .as("ls_ratio_divergence"),
      both.as("has_ls_ratio"))
  }

  /** Live WS per-minute feature snapshots → keep-last per minute
    * (reference `minute_builder.py:456-489`). Column names mirror
    * `LiveMinuteFeatures` (FIXTURES.md §1). */
  def liveFrame(records: DataFrame): DataFrame = {
    val valueCols = Seq("has_ws_latency", "has_depth", "has_liq", "has_ls_ratio",
      "event_time", "transact_time", "arrival_time", "latency_engine",
      "latency_network", "ws_latency_bad", "update_id_start", "update_id_end",
      "price_impact_100k", "impact_fillable", "depth_degraded",
      "liq_long_vol_usdt", "liq_short_vol_usdt", "liq_long_count",
      "liq_short_count", "liq_avg_fill_price", "liq_unfilled_ratio",
      "liq_unfilled_supported", "predicted_funding", "next_funding_time")
    dedupLastByTs(
      records.withColumn("timestamp", toMinuteTs(col("timestamp_ms"))),
      col("timestamp_ms"))
      .select(("timestamp" +: valueCols).map(col): _*)
  }

  /** Dense minute spine [start, end] inclusive, on one partition. */
  def minuteSpine(spark: SparkSession, startMinute: Instant, endMinute: Instant): DataFrame = {
    val n =
      if (endMinute.isBefore(startMinute)) 0L
      else java.time.Duration.between(startMinute, endMinute).toMinutes + 1
    val startMicros = Math.addExact(
      Math.multiplyExact(startMinute.getEpochSecond, 1000000L), startMinute.getNano / 1000L)
    spark.range(0, n, 1, 1)
      .select(timestamp_micros(col("id") * 60000000L + startMicros).as("timestamp"))
  }

  /** Live columns that collide with earlier sources: the live prep
    * carries them with a `_live` suffix and live wins via coalesce
    * (reference `minute_builder.py:492-498`). */
  private val LiveCollide =
    Seq("predicted_funding", "next_funding_time", "has_ls_ratio", "transact_time")

  /** Full canonical-frame build. All sources optional; a `None` source
    * contributes its fill-policy defaults. */
  def buildCanonicalFrame(
      spark: SparkSession,
      startMinute: Instant,
      endMinute: Instant,
      klines: Option[DataFrame] = None,
      markPriceKlines: Option[DataFrame] = None,
      indexPriceKlines: Option[DataFrame] = None,
      aggTrades: Option[DataFrame] = None,
      fundingRates: Option[DataFrame] = None,
      bookTickerSnapshots: Option[DataFrame] = None,
      premiumIndexSnapshots: Option[DataFrame] = None,
      metricsRows: Option[DataFrame] = None,
      topTraderRatioRows: Option[DataFrame] = None,
      globalRatioRows: Option[DataFrame] = None,
      liveFeatures: Option[DataFrame] = None,
      maxFfillMinutes: Int = 60): DataFrame = {

    val spine = minuteSpine(spark, startMinute, endMinute)
    // one partition per source: with the one-partition spine, every prep,
    // the merge, the fill windows and the final sort need no exchange
    def one(src: Option[DataFrame]): Option[DataFrame] = src.map(_.coalesce(1))
    val inWindow = col("timestamp").between(
      lit(java.sql.Timestamp.from(startMinute)), lit(java.sql.Timestamp.from(endMinute)))

    val preps = Seq(
      one(klines).map(klinesFrame),
      one(markPriceKlines).map(markPriceFrame),
      one(indexPriceKlines).map(indexPriceFrame),
      one(aggTrades).map(aggTradeFrame),
      one(bookTickerSnapshots).map(bookTickerFrame),
      one(fundingRates).map(fundingFrame),
      one(premiumIndexSnapshots).map(premiumFrame),
      one(metricsRows).map(metricsFrame),
      one(liveFeatures).map(lf => liveFrame(lf).withColumnsRenamed(
        LiveCollide.map(c => c -> s"${c}_live").toMap))
    ).flatten.map(_.where(inWindow))
    val lsRatio =
      if (topTraderRatioRows.isDefined || globalRatioRows.isDefined)
        Some(lsRatioFrame(spine, one(topTraderRatioRows), one(globalRatioRows)))
      else None
    val parts = preps ++ lsRatio

    // each part holds at most one row per minute and no column of another
    // part, so per minute every column has at most one non-null value:
    // the merge keeps it, as the reference's left joins did. The spine
    // marker keeps exactly the spine's minutes, as the left joins did.
    val valueCols = parts.flatMap(_.columns.filter(_ != "timestamp"))
    require(valueCols.distinct.size == valueCols.size,
      s"source parts share columns: ${valueCols.diff(valueCols.distinct).distinct.mkString(", ")}")
    val OnSpine = "__on_spine"
    val merged = parts
      .foldLeft(spine.withColumn(OnSpine, lit(true)))(_.unionByName(_, allowMissingColumns = true))
      .groupBy("timestamp")
      .agg(max(col(OnSpine)).as(OnSpine),
        valueCols.map(c => first(col(c), ignoreNulls = true).as(c)): _*)
      .where(col(OnSpine))
      .drop(OnSpine)

    finalizeSchema(applyFillPolicies(deriveColumns(merged), maxFfillMinutes))
  }

  /** Derived columns + null-gating semantics (reference
    * `minute_builder.py:491-622`), in one projection. The deliberate
    * 0-vs-NULL and False-vs-NULL gates (liq fields NULL unless has_liq,
    * ws_latency_bad NULL unless has_ws_latency) are written as explicit
    * when/otherwise — SURVEY §7.3 risk area. */
  def deriveColumns(frame: DataFrame): DataFrame = {
    val present = frame.columns.toSeq
    val defaults: Seq[(String, Column)] = Seq(
      "has_ws_latency" -> lit(false), "has_depth" -> lit(false),
      "has_liq" -> lit(false), "has_ls_ratio" -> lit(false),
      "trade_count" -> lit(0L), "volume_btc" -> lit(0.0),
      "close" -> lit(null).cast("double"), "vwap_1m" -> lit(null).cast("double"),
      "agg_buy_qty" -> lit(0.0), "agg_sell_qty" -> lit(0.0),
      "net_taker_vol_btc" -> lit(0.0), "max_trade_size_btc" -> lit(0.0),
      "count_buy_trades" -> lit(0L), "count_sell_trades" -> lit(0L),
      "vol_buy_whale_btc" -> lit(0.0), "vol_sell_whale_btc" -> lit(0.0),
      "vol_buy_retail_btc" -> lit(0.0), "vol_sell_retail_btc" -> lit(0.0),
      "whale_trade_count" -> lit(0L), "realized_vol_1m" -> lit(0.0),
      "mark_price_close" -> lit(null).cast("double"),
      "index_price_close" -> lit(null).cast("double"),
      "funding_rate" -> lit(null).cast("double"),
      "premium_last_funding_rate" -> lit(null).cast("double"),
      "ws_latency_bad" -> lit(null).cast("boolean"),
      "impact_fillable" -> lit(null).cast("boolean"),
      "depth_degraded" -> lit(null).cast("boolean"),
      "liq_long_vol_usdt" -> lit(null).cast("double"),
      "liq_short_vol_usdt" -> lit(null).cast("double"),
      "liq_long_count" -> lit(null).cast("long"),
      "liq_short_count" -> lit(null).cast("long"),
      "liq_avg_fill_price" -> lit(null).cast("double"),
      "liq_unfilled_ratio" -> lit(null).cast("double"),
      "liq_unfilled_supported" -> lit(null).cast("boolean"),
      "top_trader_ls_ratio_acct" -> lit(null).cast("double"),
      "global_ls_ratio_acct" -> lit(null).cast("double"),
      "ls_ratio_divergence" -> lit(null).cast("double"),
      "top_trader_long_pct" -> lit(null).cast("double"),
      "top_trader_short_pct" -> lit(null).cast("double"))
    // each column's value before derivation: the input column, live-wins
    // coalesce for the colliding columns, else the default
    val live = LiveCollide.filter(c => present.contains(s"${c}_live")).map { c =>
      c -> (if (present.contains(c)) coalesce(col(s"${c}_live"), col(c)) else col(s"${c}_live"))
    }
    val in: Map[String, Column] =
      defaults.toMap ++ present.map(c => c -> col(c)) ++ live
    def v(c: String): Column = in(c)
    def orZero(c: String, zero: Any): (String, Column) = c -> coalesce(v(c), lit(zero))

    val hasLiq = coalesce(v("has_liq"), lit(false))
    def liq(c: String, zero: Any): (String, Column) = c -> when(hasLiq, coalesce(v(c), lit(zero)))
    val bothRatios = v("top_trader_ls_ratio_acct").isNotNull &&
      v("global_ls_ratio_acct").isNotNull
    val derived: Seq[(String, Column)] = Seq(
      "avg_trade_size_btc" ->
        when(coalesce(v("trade_count"), lit(0L)) > 0, v("volume_btc") / v("trade_count"))
          .otherwise(0.0),
      "taker_buy_ratio" ->
        when(v("agg_buy_qty") + v("agg_sell_qty") > 0,
          v("agg_buy_qty") / (v("agg_buy_qty") + v("agg_sell_qty"))),
      "premium_index" ->
        when(v("index_price_close") =!= 0, v("mark_price_close") / v("index_price_close") - 1.0),
      "funding_rate" -> coalesce(v("funding_rate"), v("premium_last_funding_rate")),
      "vwap_1m" -> when(v("vwap_1m").isNull, v("close")).otherwise(v("vwap_1m")),
      orZero("net_taker_vol_btc", 0.0), orZero("max_trade_size_btc", 0.0),
      orZero("count_buy_trades", 0L), orZero("count_sell_trades", 0L),
      orZero("vol_buy_whale_btc", 0.0), orZero("vol_sell_whale_btc", 0.0),
      orZero("vol_buy_retail_btc", 0.0), orZero("vol_sell_retail_btc", 0.0),
      orZero("whale_trade_count", 0L), orZero("realized_vol_1m", 0.0),
      "has_ls_ratio" -> when(bothRatios, lit(true)).otherwise(coalesce(v("has_ls_ratio"), lit(false))),
      orZero("has_ws_latency", false), orZero("has_depth", false), orZero("has_liq", false),
      "ws_latency_bad" ->
        when(coalesce(v("has_ws_latency"), lit(false)), coalesce(v("ws_latency_bad"), lit(false))),
      "depth_degraded" ->
        when(coalesce(v("has_depth"), lit(false)), coalesce(v("depth_degraded"), lit(false))),
      liq("liq_unfilled_supported", false),
      liq("liq_long_vol_usdt", 0.0), liq("liq_short_vol_usdt", 0.0),
      liq("liq_long_count", 0L), liq("liq_short_count", 0L),
      "liq_avg_fill_price" -> when(hasLiq, v("liq_avg_fill_price")),
      "liq_unfilled_ratio" ->
        when(hasLiq, when(v("liq_unfilled_supported") === true, v("liq_unfilled_ratio"))),
      "ls_ratio_divergence" ->
        when(bothRatios, v("top_trader_ls_ratio_acct") - v("global_ls_ratio_acct")))

    val liveNames = LiveCollide.map(c => s"${c}_live")
    val names = (present.filterNot(liveNames.contains) ++ live.map(_._1) ++
      defaults.map(_._1) ++ derived.map(_._1)).distinct
    val out = in ++ derived
    frame.select(names.map(c => out(c).as(c)): _*)
  }

  /** Bounded forward-fill of snapshot columns (reference
    * `minute_builder.py:624-642`; limit = max_ffill_minutes), one window
    * projection for every column present. */
  def applyFillPolicies(frame: DataFrame, maxFfillMinutes: Int): DataFrame = {
    val ffillCols = Seq("micro_price_close", "avg_spread_usdt", "bid_ask_imbalance",
      "avg_bid_depth", "avg_ask_depth", "spread_pct", "oi_contracts",
      "oi_value_usdt", "funding_rate")
    frame.withColumns(ffillCols.filter(frame.columns.contains).map(c =>
      c -> Ops.boundedFfill(col(c), Seq(col("timestamp")), Some(maxFfillMinutes))).toMap)
  }

  /** Strict canonical cast/select in registry order (reference
    * `minute_builder.py:644-651`); a column the frame lacks is NULL. */
  def finalizeSchema(frame: DataFrame): DataFrame = {
    val present = frame.columns.toSet
    frame.select(CanonicalSchema.columns.map(c =>
      (if (present.contains(c.name)) col(c.name) else lit(null)).cast(c.sparkType).as(c.name)): _*)
      .orderBy("timestamp")
  }
}
