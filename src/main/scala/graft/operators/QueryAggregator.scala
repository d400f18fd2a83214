package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.schema.TimeframeSpec

/** API-side timeframe aggregation — Spark re-expression of the
  * reference's `aggregate_canonical_frame`
  * (`live_data_api_service/aggregation.py:9-229`): unbounded ffill of
  * snapshot metrics → tumbling-window aggregation → complete-window
  * filter → derived recompute → service-only fields → CVD → tail(limit).
  *
  * The result set is at most `limit` bars, so the trailing
  * single-partition window for CVD and the top-k tail stay
  * driver-sized (the reference caps `limit` at max_limit,
  * `config.py:14-15`; this API does not). The API's input is one symbol's
  * window, which the single-symbol lake reads hand over as ONE
  * partition when it spans at most `DayDirs.SingleTaskMaxDays` day
  * dirs: the ffill, the bucket aggregate, the CVD/lag windows and the
  * tail then plan no exchange at all. Lake-scale (multi-series)
  * callers pass `partitionCols`, so every window, groupBy and tail is
  * keyed by the series and shuffles by it instead of single-tasking.
  */
object QueryAggregator {

  private def z(c: String): Column = coalesce(col(c), lit(0.0))
  private def zi(c: String): Column = coalesce(col(c), lit(0L))
  private def f(c: String): Column = coalesce(col(c), lit(false))

  /** Exact nearest-rank p95 over the group's non-null samples —
    * `element_at(sorted, max(1, ceil(0.95 n)))`, NULL when no samples
    * (guarded: ANSI element_at errors on an empty array). Groups are
    * bar-sized (≤ minutes-per-bucket rows), so the sorted collect is
    * bounded. */
  private def p95NearestRank(c: Column): Column =
    when(count(c) > 0,
      element_at(array_sort(collect_list(c)),
        greatest(lit(1), ceil(lit(0.95) * count(c))).cast("int")))

  /** Unbounded forward-fill of point-in-time snapshot metrics
    * (reference `aggregation.py:16-24`). Pass `partitionCols` (e.g.
    * `Seq("symbol")`) for any multi-series frame: an unpartitioned
    * unbounded window funnels every row through ONE task — fine for the
    * API's driver-bounded single-symbol windows, a scale-killer
    * anywhere else. */
  def ffillSnapshots(frame: DataFrame, partitionCols: Seq[String] = Nil): DataFrame = {
    val cols = Seq("funding_rate", "oi_contracts", "oi_value_usdt",
      "top_trader_ls_ratio_acct", "global_ls_ratio_acct",
      "top_trader_long_pct", "top_trader_short_pct")
    val pc = partitionCols.map(col)
    cols.foldLeft(frame) { (df, c) =>
      df.withColumn(c, Ops.boundedFfill(col(c), Seq(col("timestamp")), None, pc))
    }
  }

  /** Aggregate a canonical 1m frame to `spec`, keeping only complete
    * windows, limited to the trailing `limit` bars (per series when
    * `partitionCols` is non-empty — every window, groupBy and tail is
    * then keyed by the series columns too, so multi-symbol frames
    * shuffle by symbol instead of single-tasking). */
  def aggregateCanonicalFrame(frameIn: DataFrame, spec: TimeframeSpec, limit: Int,
                              partitionCols: Seq[String] = Nil): DataFrame = {
    val frame = ffillSnapshots(frameIn, partitionCols)
    val ts = col("timestamp")

    val vwapNotional =
      (when(col("vwap_1m").isNotNull, col("vwap_1m")).otherwise(col("close"))) *
        z("volume_btc")
    val liqTotalNotional = z("liq_long_vol_usdt") + z("liq_short_vol_usdt")
    val liqEstimatedQty =
      when(col("liq_avg_fill_price").isNotNull && col("liq_avg_fill_price") > 0,
        liqTotalNotional / col("liq_avg_fill_price")).otherwise(0.0)

    val prepped = frame
      .withColumn("bucket_start", spec.bucketStart(ts))
      .withColumn("_vwap_notional_row", vwapNotional)
      .withColumn("_liq_total_notional_row", liqTotalNotional)
      .withColumn("_liq_estimated_qty_row", liqEstimatedQty)

    val grouped = prepped.groupBy("bucket_start", partitionCols: _*).agg(
      count(lit(1)).as("_minute_count"),
      (Seq(
        max(f("has_ws_latency")).as("has_ws_latency"),
        max(f("has_depth")).as("has_depth"),
        max(f("has_liq")).as("has_liq"),
        max(f("has_ls_ratio")).as("has_ls_ratio"),
        max(col("event_time")).as("event_time"),
        max(col("transact_time")).as("transact_time"),
        max(col("arrival_time")).as("arrival_time"),
        // exact nearest-rank p95 (reference quantile(0.95, "nearest"),
        // `_p95_int` websocket.py:100-105): rank = max(1, ceil(0.95 n))
        // over the sorted non-null samples. Interpolating `percentile`
        // and `percentile_approx` both diverge from nearest-rank by one
        // rank on some group sizes (e.g. n=10) — pinned in specs.
        p95NearestRank(col("latency_engine")).as("latency_engine"),
        p95NearestRank(col("latency_network")).as("latency_network"),
        max(f("ws_latency_bad")).as("_ws_latency_bad"),
        min(col("update_id_start")).as("update_id_start"),
        max(col("update_id_end")).as("update_id_end"),
        Ops.firstByOrd(col("open"), ts).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        Ops.lastByOrd(col("close"), ts).as("close"),
        sum(col("_vwap_notional_row")).as("_vwap_notional"),
        Ops.lastByOrd(col("micro_price_close"), ts).as("micro_price_close"),
        sum(z("volume_btc")).as("volume_btc"),
        sum(z("volume_usdt")).as("volume_usdt"),
        sum(zi("trade_count")).as("trade_count"),
        max(col("max_trade_size_btc")).as("max_trade_size_btc"),
        sum(z("taker_buy_vol_btc")).as("taker_buy_vol_btc"),
        sum(z("taker_buy_vol_usdt")).as("taker_buy_vol_usdt"),
        sum(z("net_taker_vol_btc")).as("net_taker_vol_btc"),
        sum(zi("count_buy_trades")).as("count_buy_trades"),
        sum(zi("count_sell_trades")).as("count_sell_trades"),
        sum(z("vol_buy_whale_btc")).as("vol_buy_whale_btc"),
        sum(z("vol_sell_whale_btc")).as("vol_sell_whale_btc"),
        sum(z("vol_buy_retail_btc")).as("vol_buy_retail_btc"),
        sum(z("vol_sell_retail_btc")).as("vol_sell_retail_btc"),
        sum(zi("whale_trade_count")).as("whale_trade_count"),
        sum(pow(z("realized_vol_1m"), 2)).as("_realized_var"),
        sum(z("liq_long_vol_usdt")).as("_liq_long_vol_usdt"),
        sum(z("liq_short_vol_usdt")).as("_liq_short_vol_usdt"),
        sum(zi("liq_long_count")).as("_liq_long_count"),
        sum(zi("liq_short_count")).as("_liq_short_count"),
        sum(col("_liq_total_notional_row")).as("_liq_total_notional"),
        sum(col("_liq_estimated_qty_row")).as("_liq_estimated_qty"),
        avg(col("liq_unfilled_ratio")).as("_liq_unfilled_ratio"),
        max(f("liq_unfilled_supported")).as("_liq_unfilled_supported"),
        avg(col("avg_spread_usdt")).as("avg_spread_usdt"),
        avg(col("bid_ask_imbalance")).as("bid_ask_imbalance"),
        avg(col("avg_bid_depth")).as("avg_bid_depth"),
        avg(col("avg_ask_depth")).as("avg_ask_depth"),
        avg(col("spread_pct")).as("spread_pct"),
        Ops.lastByOrd(col("price_impact_100k"), ts).as("price_impact_100k"),
        Ops.lastByOrd(col("impact_fillable"), ts).as("_impact_fillable"),
        max(f("depth_degraded")).as("_depth_degraded"),
        Ops.lastByOrd(col("oi_contracts"), ts).as("oi_contracts"),
        Ops.lastByOrd(col("oi_value_usdt"), ts).as("oi_value_usdt"),
        Ops.lastByOrd(col("top_trader_ls_ratio_acct"), ts).as("top_trader_ls_ratio_acct"),
        Ops.lastByOrd(col("global_ls_ratio_acct"), ts).as("global_ls_ratio_acct"),
        Ops.lastByOrd(col("top_trader_long_pct"), ts).as("top_trader_long_pct"),
        Ops.lastByOrd(col("top_trader_short_pct"), ts).as("top_trader_short_pct"),
        Ops.firstByOrd(col("mark_price_open"), ts).as("mark_price_open"),
        Ops.lastByOrd(col("mark_price_close"), ts).as("mark_price_close"),
        Ops.firstByOrd(col("index_price_open"), ts).as("index_price_open"),
        Ops.lastByOrd(col("index_price_close"), ts).as("index_price_close"),
        Ops.lastByOrd(col("funding_rate"), ts).as("funding_rate"),
        Ops.lastByOrd(col("predicted_funding"), ts).as("predicted_funding"),
        Ops.lastByOrd(col("next_funding_time"), ts).as("next_funding_time"))): _*)

    val complete = grouped
      .where(col("_minute_count") === spec.expectedMinutes(col("bucket_start")))
      .withColumn("vwap_1m",
        when(col("volume_btc") > 0, col("_vwap_notional") / col("volume_btc"))
          .otherwise(col("close")))
      .withColumn("avg_trade_size_btc",
        when(col("trade_count") > 0, col("volume_btc") / col("trade_count")).otherwise(0.0))
      .withColumn("taker_buy_ratio",
        when(col("volume_btc") > 0, col("taker_buy_vol_btc") / col("volume_btc")))
      .withColumn("realized_vol_1m", sqrt(col("_realized_var")))
      .withColumn("ws_latency_bad", when(col("has_ws_latency"), col("_ws_latency_bad")))
      .withColumn("impact_fillable", when(col("has_depth"), col("_impact_fillable")))
      .withColumn("depth_degraded", when(col("has_depth"), col("_depth_degraded")))
      .withColumn("liq_long_vol_usdt", when(col("has_liq"), col("_liq_long_vol_usdt")))
      .withColumn("liq_short_vol_usdt", when(col("has_liq"), col("_liq_short_vol_usdt")))
      .withColumn("liq_long_count", when(col("has_liq"), col("_liq_long_count")))
      .withColumn("liq_short_count", when(col("has_liq"), col("_liq_short_count")))
      .withColumn("liq_avg_fill_price",
        when(col("has_liq") && col("_liq_estimated_qty") > 0,
          col("_liq_total_notional") / col("_liq_estimated_qty")))
      .withColumn("liq_unfilled_supported", when(col("has_liq"), col("_liq_unfilled_supported")))
      .withColumn("liq_unfilled_ratio",
        when(col("has_liq") && col("_liq_unfilled_supported"), col("_liq_unfilled_ratio")))
      .withColumn("premium_index",
        when(col("index_price_close").isNotNull && col("index_price_close") =!= 0,
          col("mark_price_close") / col("index_price_close") - 1.0))
      .withColumn("ls_ratio_divergence",
        when(col("top_trader_ls_ratio_acct").isNotNull &&
          col("global_ls_ratio_acct").isNotNull,
          col("top_trader_ls_ratio_acct") - col("global_ls_ratio_acct")))
      .withColumnRenamed("bucket_start", "timestamp")
      .drop("_minute_count", "_vwap_notional", "_realized_var", "_ws_latency_bad",
        "_impact_fillable", "_depth_degraded", "_liq_long_vol_usdt",
        "_liq_short_vol_usdt", "_liq_long_count", "_liq_short_count",
        "_liq_total_notional", "_liq_estimated_qty", "_liq_unfilled_ratio",
        "_liq_unfilled_supported")

    // tail(limit): top-k by time desc then restore ascending order —
    // unpartitioned, Catalyst plans TakeOrderedAndProject (no full
    // sort); per-series, a rank window bounded by the series key.
    val tailed =
      if (partitionCols.isEmpty)
        complete.orderBy(col("timestamp").desc).limit(limit)
          .orderBy(col("timestamp"))
      else {
        val w = Window.partitionBy(partitionCols.map(col): _*)
          .orderBy(col("timestamp").desc)
        complete.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= limit).drop("__rn")
          .orderBy((partitionCols.map(col) :+ col("timestamp")): _*)
      }

    addServiceFields(tailed, partitionCols)
  }

  /** Service-only derived fields + CVD (reference
    * `aggregation.py:177-227`). */
  def addServiceFields(df: DataFrame, partitionCols: Seq[String] = Nil): DataFrame = {
    val g = col("global_ls_ratio_acct")
    val gOk = g.isNotNull && g > 0
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy("timestamp")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("global_long_pct", when(gOk, g / (g + 1.0)))
      .withColumn("global_short_pct", when(gOk, lit(1.0) / (g + 1.0)))
      .withColumn("top_trader_long_usd",
        when(col("oi_value_usdt").isNotNull && col("top_trader_long_pct").isNotNull,
          col("oi_value_usdt") * col("top_trader_long_pct")))
      .withColumn("top_trader_short_usd",
        when(col("oi_value_usdt").isNotNull && col("top_trader_short_pct").isNotNull,
          col("oi_value_usdt") * col("top_trader_short_pct")))
      .withColumn("global_long_usd",
        when(col("oi_value_usdt").isNotNull && col("global_long_pct").isNotNull,
          col("oi_value_usdt") * col("global_long_pct")))
      .withColumn("global_short_usd",
        when(col("oi_value_usdt").isNotNull && col("global_short_pct").isNotNull,
          col("oi_value_usdt") * col("global_short_pct")))
      .withColumn("cvd_btc", sum(z("net_taker_vol_btc")).over(w))
  }

  /** Bar-over-bar lag deltas appended at serialization time (reference
    * `service.py:1218-1257`). NULL on the first bar. */
  def addDeltaFields(df: DataFrame, partitionCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy("timestamp")
    def d(c: String): Column = col(c) - lag(col(c), 1).over(w)
    df
      .withColumn("net_long", when(col("global_long_usd").isNotNull, col("global_long_usd")))
      .withColumn("net_short", when(col("global_short_usd").isNotNull, col("global_short_usd")))
      .withColumn("delta_oi_contracts", d("oi_contracts"))
      .withColumn("delta_oi_value_usdt", d("oi_value_usdt"))
      .withColumn("delta_funding_rate", d("funding_rate"))
      .withColumn("delta_net_long", d("net_long"))
      .withColumn("delta_net_short", d("net_short"))
      .withColumn("realized_vol_bar",
        abs(log(col("close") / lag(col("close"), 1).over(w))))
  }
}
