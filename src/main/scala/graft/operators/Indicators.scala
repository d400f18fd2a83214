package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Indicator math (reference `live_indicators/`): TradingView EMA and
  * classic pivot points.
  *
  * EMA is recursive (SMA seed over the first `length` values, then
  * α-blend — reference `ema.py:6-24`) and not expressible as a built-in
  * Spark window. Indicator windows are bounded (≤ a few hundred bars,
  * reference `config.py:14-15`), so the idiomatic route is the Catalyst
  * `aggregate` higher-order function over a sorted `collect_list` — pure
  * expressions, no UDAF, stays codegen'd (SURVEY §2.10/§7.2).
  */
object Indicators {

  /** EMA over an array column; element i of the result is the EMA at
    * index i (NULL before the seed index). */
  def emaExpr(valuesCol: String, length: Int): Column = {
    require(length >= 1, "EMA length must be at least 1")
    val a = 2.0 / (length + 1.0)
    // state: (i = elements consumed, s = running seed sum, e = ema, out = array)
    expr(
      s"""aggregate(
         |  $valuesCol,
         |  named_struct('i', 0, 's', cast(0.0 as double),
         |               'e', cast(null as double),
         |               'out', cast(array() as array<double>)),
         |  (acc, x) -> named_struct(
         |    'i', acc.i + 1,
         |    's', acc.s + x,
         |    'e', case
         |      when acc.i + 1 < $length then cast(null as double)
         |      when acc.i + 1 = $length then (acc.s + x) / cast($length as double)
         |      else $a * x + ${1.0 - a} * acc.e end,
         |    'out', concat(acc.out, array(case
         |      when acc.i + 1 < $length then cast(null as double)
         |      when acc.i + 1 = $length then (acc.s + x) / cast($length as double)
         |      else $a * x + ${1.0 - a} * acc.e end))),
         |  acc -> acc.out)""".stripMargin)
  }

  /** The EMA recursion over a bar frame as ONE row of two arrays: `ks`,
    * the `orderCol` values ascending, and `emas`, element i the EMA at
    * `ks[i]` (empty arrays for an empty frame). The frame is
    * driver-bounded, so a single collect_list group is fine. */
  def emaArrays(bars: DataFrame, valueCol: String, length: Int,
                orderCol: String = "timestamp"): DataFrame =
    bars
      .select(col(orderCol), col(valueCol).cast("double").as("__v"))
      .agg(expr(s"array_sort(collect_list(struct($orderCol, __v)))").as("arr"))
      .select(expr(s"transform(arr, x -> x.$orderCol)").as("ks"),
        emaExpr(s"transform(arr, x -> x.__v)", length).as("emas"))

  /** TradingView EMA on a bar frame: returns the input plus an `ema`
    * column, computed over rows ordered by `orderCol` ([[emaArrays]]
    * exploded and joined back). */
  def withEma(bars: DataFrame, valueCol: String, length: Int,
              orderCol: String = "timestamp", outCol: String = "ema"): DataFrame = {
    val collected = emaArrays(bars, valueCol, length, orderCol)
      .select(explode(arrays_zip(col("ks"), col("emas"))).as("z"))
      .select(col(s"z.ks").as(orderCol), col(s"z.emas").as(outCol))
    bars.join(collected, Seq(orderCol), "left")
  }

  /** Indicator OHLC bar aggregation (A8 — reference
    * `live_indicators/aggregation.py:22-75`): tumbling buckets with
    * first/last NON-NULL open/close, complete-window and all-non-null
    * gates, and an end-exclusive bound so a partial trailing period is
    * never emitted. */
  def aggregateOhlcBars(frame: DataFrame, spec: graft.schema.TimeframeSpec,
                        endTime: java.time.Instant): DataFrame = {
    import graft.ops.Ops
    val ts = col("timestamp")
    val endExclusive = java.sql.Timestamp.from(
      endTime.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
        .plus(1, java.time.temporal.ChronoUnit.MINUTES))
    frame
      .withColumn("bucket_start", spec.bucketStart(ts))
      .groupBy("bucket_start")
      .agg(count(lit(1)).as("_minute_count"),
        Ops.firstNonNullByOrd(col("open"), ts).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        Ops.lastNonNullByOrd(col("close"), ts).as("close"))
      .withColumn("_period_end", spec.bucketEnd(col("bucket_start")))
      .where(col("_period_end") <= lit(endExclusive) &&
        col("_minute_count") === spec.expectedMinutes(col("bucket_start")) &&
        col("open").isNotNull && col("high").isNotNull &&
        col("low").isNotNull && col("close").isNotNull)
      .select(col("bucket_start").as("timestamp"),
        col("open"), col("high"), col("low"), col("close"))
      .orderBy("timestamp")
  }

  /** Traditional pivot points from the previous period's H/L/C
    * (reference `live_indicators/pivots.py:4-12`). */
  def pivotPoints(high: Column, low: Column, close: Column): Seq[(String, Column)] = {
    val p = (high + low + close) / 3.0
    Seq(
      "p" -> p,
      "r1" -> (p * 2.0 - low),
      "r2" -> (p + (high - low)),
      "s1" -> (p * 2.0 - high),
      "s2" -> (p - (high - low)))
  }
}
