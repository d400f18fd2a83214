package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.schema.{CanonicalSchema, TimeframeSpec}

/** Higher-timeframe bucket aggregation — Spark re-expression of the
  * reference's `aggregate_minutes` (`aggregator/aggregation_rules.py:129-272`,
  * rule table `:16-89`).
  *
  * One window pre-pass (prev-close within bucket for realized vol) + ONE
  * hash aggregation keyed by bucket_start: a single shuffle, with
  * map-side partial aggregation for every sum/min/max. Polars'
  * order-dependent first/last become explicit-order `min_by`/`max_by` on
  * the minute timestamp; last-non-null uses a null-gated ordering key
  * (SURVEY §7.3 — Spark groupBy first/last are order-nondeterministic
  * and are never used here).
  *
  * At scale the shuffle key should be (symbol, bucket_start); callers
  * aggregating many symbols pass `byCols = Seq("symbol")`.
  */
object HtfAggregator {

  /** Volume-weighted-with-fallback depth columns (reference `:115-122`). */
  val weightedByVolume: Seq[String] = Seq("avg_spread_usdt", "bid_ask_imbalance",
    "avg_bid_depth", "avg_ask_depth", "spread_pct", "price_impact_100k")

  /** Last-non-null snapshot columns (reference `:100-113`). */
  val snapshotLast: Seq[String] = Seq("oi_contracts", "oi_value_usdt",
    "top_trader_ls_ratio_acct", "global_ls_ratio_acct", "ls_ratio_divergence",
    "top_trader_long_pct", "top_trader_short_pct", "premium_index",
    "funding_rate", "predicted_funding", "next_funding_time", "micro_price_close")

  /** Bool-OR columns (reference `:91-98`). */
  val boolOr: Seq[String] = Seq("has_depth", "impact_fillable", "depth_degraded",
    "has_ws_latency", "ws_latency_bad", "has_ls_ratio")

  /** Output column order = reference `_target_schema()` (`:275-349`). */
  val targetColumns: Seq[String] = Seq(
    "timeframe", "symbol", "timestamp", "bucket_start", "bucket_end",
    "open", "high", "low", "close", "volume_btc", "volume_usdt", "trade_count",
    "vwap", "avg_trade_size_btc", "max_trade_size_btc", "taker_buy_vol_btc",
    "taker_buy_vol_usdt", "net_taker_vol_btc", "count_buy_trades",
    "count_sell_trades", "taker_buy_ratio", "vol_buy_whale_btc",
    "vol_sell_whale_btc", "vol_buy_retail_btc", "vol_sell_retail_btc",
    "whale_trade_count", "liq_long_vol_usdt", "liq_short_vol_usdt",
    "liq_long_count", "liq_short_count", "liq_avg_fill_price",
    "liq_unfilled_ratio", "liq_unfilled_supported", "has_liq", "oi_contracts",
    "oi_value_usdt", "top_trader_ls_ratio_acct", "global_ls_ratio_acct",
    "ls_ratio_divergence", "top_trader_long_pct", "top_trader_short_pct",
    "premium_index", "funding_rate", "predicted_funding", "next_funding_time",
    "micro_price_close", "mark_price_open", "mark_price_close",
    "index_price_open", "index_price_close", "avg_spread_usdt",
    "bid_ask_imbalance", "avg_bid_depth", "avg_ask_depth", "spread_pct",
    "price_impact_100k", "has_depth", "impact_fillable", "depth_degraded",
    "has_ws_latency", "ws_latency_bad", "has_ls_ratio", "realized_vol_htf",
    "event_time", "transact_time", "arrival_time", "update_id_start",
    "update_id_end", "expected_minutes_in_bucket",
    "observed_minutes_in_bucket", "missing_minutes_count", "bucket_complete")

  private def z(c: String): Column = coalesce(col(c), lit(0.0))
  private def zi(c: String): Column = coalesce(col(c), lit(0L))
  private def f(c: String): Column = coalesce(col(c), lit(false))

  /** Aggregate canonical minutes into HTF buckets for one timeframe.
    *
    * @param byCols extra grouping keys (e.g. "symbol") for multi-symbol
    *               lake-scale aggregation; the `symbol` argument is only
    *               used as a literal when `byCols` is empty.
    * @param sorted opt-in global bucket_start ordering for small API
    *               results. Default OFF: every lake-scale caller
    *               repartitions by partition columns right before the
    *               write, so a trailing sort would be a wasted full
    *               range-exchange over the entire HTF output.
    */
  def aggregateMinutes(minutes: DataFrame, spec: TimeframeSpec, symbol: String,
                       byCols: Seq[String] = Nil,
                       sorted: Boolean = false): DataFrame = {
    val ts = col("timestamp")
    val groupKeys = byCols :+ "bucket_start"

    val liqWeight = z("liq_long_vol_usdt") + z("liq_short_vol_usdt")
    val prevClose = lag(col("close"), 1)
      .over(Window.partitionBy(groupKeys.map(col): _*).orderBy(ts))

    val prepped = minutes
      .withColumn("bucket_start", spec.bucketStart(ts))
      .withColumn("_liq_weight", liqWeight)
      .withColumn("_prev_close", prevClose)
      .withColumn("_log_return_sq",
        when(col("_prev_close") > 0 && col("close") > 0,
          pow(log(col("close") / col("_prev_close")), 2)))

    val weightedAggs = weightedByVolume.flatMap { c =>
      val v = when(col(c).isNotNull && col("volume_usdt").isNotNull,
        col(c) * col("volume_usdt"))
      val w = when(col(c).isNotNull && col("volume_usdt").isNotNull, col("volume_usdt"))
      Seq(sum(v).as(s"_${c}_weighted_sum"), sum(w).as(s"_${c}_weight_sum"),
        avg(col(c)).as(s"_${c}_mean"))
    }

    val aggExprs: Seq[Column] =
      Seq(
        count(lit(1)).as("observed_minutes_in_bucket"),
        Ops.firstByOrd(col("open"), ts).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        Ops.lastByOrd(col("close"), ts).as("close")) ++
      (Seq(
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
        sum(z("liq_long_vol_usdt")).as("liq_long_vol_usdt"),
        sum(z("liq_short_vol_usdt")).as("liq_short_vol_usdt"),
        sum(zi("liq_long_count")).as("liq_long_count"),
        sum(zi("liq_short_count")).as("liq_short_count"),
        sum(col("_liq_weight")).as("_liq_weight_sum"),
        sum(col("liq_avg_fill_price") * col("_liq_weight")).as("_liq_avg_fill_price_sum"),
        sum(col("liq_unfilled_ratio") * col("_liq_weight")).as("_liq_unfilled_ratio_sum"),
        max(f("liq_unfilled_supported")).as("liq_unfilled_supported"),
        max(f("has_liq")).as("has_liq"),
        Ops.firstNonNullByOrd(col("mark_price_open"), ts).as("mark_price_open"),
        Ops.lastNonNullByOrd(col("mark_price_close"), ts).as("mark_price_close"),
        Ops.firstNonNullByOrd(col("index_price_open"), ts).as("index_price_open"),
        Ops.lastNonNullByOrd(col("index_price_close"), ts).as("index_price_close")) ++
        snapshotLast.map(c => Ops.lastNonNullByOrd(col(c), ts).as(c)) ++
        boolOr.map(c => max(f(c)).as(c)) ++
        weightedAggs ++ Seq(
        max(col("event_time")).as("event_time"),
        max(col("transact_time")).as("transact_time"),
        max(col("arrival_time")).as("arrival_time"),
        min(col("update_id_start")).as("update_id_start"),
        max(col("update_id_end")).as("update_id_end"),
        sum(col("_log_return_sq")).as("_realized_var")))

    val grouped = prepped.groupBy(groupKeys.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)

    val weightedFinal = weightedByVolume.map { c =>
      c -> when(col(s"_${c}_weight_sum") > 0,
        col(s"_${c}_weighted_sum") / col(s"_${c}_weight_sum"))
        .otherwise(col(s"_${c}_mean"))
    }

    // two projections rather than one withColumn per column: every
    // Dataset step re-analyzes the whole aggregate below it, and twenty
    // steps cost ~300 ms of planning CPU per call
    val enriched = grouped
      .withColumns((Seq(
        "bucket_end" -> spec.bucketEnd(col("bucket_start")),
        "expected_minutes_in_bucket" -> spec.expectedMinutes(col("bucket_start")),
        "timeframe" -> lit(spec.name),
        "timestamp" -> col("bucket_start"),
        "vwap" -> when(col("volume_btc") > 0, col("volume_usdt") / col("volume_btc")),
        "avg_trade_size_btc" ->
          when(col("trade_count") > 0, col("volume_btc") / col("trade_count")),
        "taker_buy_ratio" ->
          when(col("volume_btc") > 0, col("taker_buy_vol_btc") / col("volume_btc")),
        "liq_avg_fill_price" -> when(col("_liq_weight_sum") > 0,
          col("_liq_avg_fill_price_sum") / col("_liq_weight_sum")),
        "liq_unfilled_ratio" -> when(col("_liq_weight_sum") > 0,
          col("_liq_unfilled_ratio_sum") / col("_liq_weight_sum")),
        "realized_vol_htf" -> sqrt(coalesce(col("_realized_var"), lit(0.0)))) ++
        (if (byCols.contains("symbol")) Nil else Seq("symbol" -> lit(symbol))) ++
        weightedFinal).toMap)
      .withColumns(Map(
        "missing_minutes_count" ->
          (col("expected_minutes_in_bucket") - col("observed_minutes_in_bucket")),
        "bucket_complete" ->
          (col("observed_minutes_in_bucket") === col("expected_minutes_in_bucket"))))

    val outCols = (byCols.filterNot(targetColumns.contains) ++ targetColumns).distinct
    val out = enriched.select(outCols.map(col): _*)
    if (sorted) out.orderBy("bucket_start") else out
  }

  /** Missing-bucket detection: complete buckets available in the minute
    * source minus buckets already written (anti join — reference
    * `aggregator/validator.py:17-52`). `existing` needs a bucket_start
    * column (may be empty). */
  def missingCompleteBuckets(minutes: DataFrame, spec: TimeframeSpec,
                             existing: DataFrame): DataFrame = {
    val available = minutes
      .withColumn("bucket_start", spec.bucketStart(col("timestamp")))
      .groupBy("bucket_start")
      .agg(countDistinct(col("timestamp")).as("observed"))
      .withColumn("expected", spec.expectedMinutes(col("bucket_start")))
      .where(col("observed") === col("expected"))
      .select("bucket_start")
    Ops.antiByKeys(available, existing, Seq("bucket_start"))
  }
}
