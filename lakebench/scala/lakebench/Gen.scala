package lakebench

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.schema.CanonicalSchema
import graft.schema.SupportClass.{BackfillAvailable, HardRequired}

/** Seeded input generator. Every random draw is a hash of
  * (seed, symbol, minute, draw number), so the same seed gives the same
  * rows whatever the partitioning, and a different seed gives others.
  *
  * Canonical minutes follow a per-symbol random walk; every HARD_REQUIRED
  * and BACKFILL_AVAILABLE column is filled and every LIVE_ONLY column is
  * null. Odd-numbered symbols lose 4% of their minutes after the first
  * day (about 1% of a two-day lake), so completeness gates have work;
  * even-numbered symbols stay complete.
  *
  * Raw source records (klines, mark/index klines, aggTrades, bookTicker,
  * premium index, funding, open-interest metrics) cover the fresh hours
  * that follow the history; bookTicker drops about 1% of its minutes. */
final case class Gen(seed: Long, symbols: Seq[String], start: Instant, days: Int) {
  val historyEnd: Instant = start.plus(days.toLong, ChronoUnit.DAYS)
  private val minutesPerSymbol = days * 1440L

  /** Uniform [0, 1) draw number `k` for (symbol index, minute index). */
  private def u(sym: Column, m: Column, k: Int): Column =
    (xxhash64(lit(seed), sym, m, lit(k)).bitwiseAND(lit(0xFFFFFFL)).cast("double")) /
      lit(16777216.0)

  private def symbolCol(idx: Column): Column =
    element_at(array(symbols.map(lit): _*), (idx + 1).cast("int"))

  private def basePrice(idx: Column): Column = lit(100.0) * pow(lit(1.7), idx % 9)

  /** Canonical history, before any write. */
  def minutes(spark: SparkSession): DataFrame = {
    val n = symbols.size.toLong * minutesPerSymbol
    val startSec = start.getEpochSecond
    val raw = spark.range(0, n, 1, math.max(1, symbols.size))
      .withColumn("sym_idx", (col("id") / minutesPerSymbol).cast("long"))
      .withColumn("m", col("id") % minutesPerSymbol)
    val w = Window.partitionBy("sym_idx").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = col("sym_idx")
    val m = col("m")
    val walked = raw
      .withColumn("step", (u(s, m, 1) - 0.5) * 0.002)
      .withColumn("logp", sum(col("step")).over(w))
      .withColumn("close", round(basePrice(s) * exp(col("logp")), 6))
      .withColumn("open", round(col("close") * exp(-col("step")), 6))
    val keep = (s % 2 === 0) || (m < 1440) || (u(s, m, 2) >= 0.04)
    canonical(walked.where(keep)
      .withColumn("symbol", symbolCol(s))
      .withColumn("timestamp", timestamp_seconds(lit(startSec) + m * 60)), s, m)
  }

  private def canonical(df: DataFrame, s: Column, m: Column): DataFrame = {
    val hi = greatest(col("open"), col("close")) * (lit(1.0) + u(s, m, 3) * 0.001)
    val lo = least(col("open"), col("close")) * (lit(1.0) - u(s, m, 4) * 0.001)
    val vol = lit(1.0) + u(s, m, 5) * 20.0
    val trades = (lit(5) + u(s, m, 6) * 200).cast("long")
    val buyShare = u(s, m, 7)
    val values: Map[String, Column] = Map(
      "high" -> round(hi, 6), "low" -> round(lo, 6),
      "volume_btc" -> round(vol, 6),
      "volume_usdt" -> round(vol * col("close"), 4),
      "trade_count" -> trades,
      "vwap_1m" -> round((col("open") + col("close")) / 2, 6),
      "micro_price_close" -> col("close"),
      "avg_trade_size_btc" -> vol / trades,
      "max_trade_size_btc" -> vol / 3,
      "taker_buy_vol_btc" -> vol * buyShare,
      "taker_buy_vol_usdt" -> vol * buyShare * col("close"),
      "net_taker_vol_btc" -> vol * (buyShare * 2 - 1),
      "count_buy_trades" -> (trades * buyShare).cast("long"),
      "count_sell_trades" -> (trades - (trades * buyShare).cast("long")),
      "taker_buy_ratio" -> buyShare,
      "vol_buy_whale_btc" -> vol * buyShare * 0.1,
      "vol_sell_whale_btc" -> vol * (lit(1.0) - buyShare) * 0.1,
      "vol_buy_retail_btc" -> vol * buyShare * 0.3,
      "vol_sell_retail_btc" -> vol * (lit(1.0) - buyShare) * 0.3,
      "whale_trade_count" -> (u(s, m, 8) * 3).cast("long"),
      "realized_vol_1m" -> abs(col("close") / col("open") - 1),
      "transact_time" -> (unix_millis(col("timestamp")) + 59000L),
      "has_ls_ratio" -> lit(true),
      "avg_spread_usdt" -> col("close") * 0.0001,
      "bid_ask_imbalance" -> (u(s, m, 9) - 0.5),
      "avg_bid_depth" -> (lit(10.0) + u(s, m, 10) * 5),
      "avg_ask_depth" -> (lit(10.0) + u(s, m, 11) * 5),
      "spread_pct" -> lit(0.0001),
      "oi_contracts" -> (lit(50000.0) + s * 1000),
      "oi_value_usdt" -> (lit(50000.0) + s * 1000) * col("close"),
      "top_trader_ls_ratio_acct" -> lit(1.2),
      "global_ls_ratio_acct" -> lit(1.1),
      "ls_ratio_divergence" -> lit(0.1),
      "top_trader_long_pct" -> lit(0.55),
      "top_trader_short_pct" -> lit(0.45),
      "mark_price_open" -> col("open"),
      "mark_price_close" -> col("close"),
      "index_price_open" -> round(col("open") * 0.9999, 6),
      "index_price_close" -> round(col("close") * 0.9999, 6),
      "premium_index" -> lit(1.0 / 0.9999 - 1.0),
      "funding_rate" -> lit(0.0001))
    val cols = CanonicalSchema.columns.map { c =>
      val v =
        if (c.name == "timestamp" || c.name == "open" || c.name == "close") col(c.name)
        else if (c.supportClass == HardRequired || c.supportClass == BackfillAvailable)
          values(c.name)
        else lit(null)
      v.cast(c.sparkType).as(c.name)
    }
    df.select(col("symbol") +: cols: _*)
  }

  /** Late repairs: `n` patches of 30 minutes each, one symbol and one
    * earlier day per patch, prices lifted 0.1% (`patch` = 0..n-1). */
  def patches(spark: SparkSession, history: DataFrame, n: Int): DataFrame = {
    val specs = (0 until n).map { i =>
      val sym = symbols(i % symbols.size)
      val from = start.plus(1L + i % math.max(1, days - 2), ChronoUnit.DAYS)
        .plus((i * 5L) % 23, ChronoUnit.HOURS)
      (i, sym, java.sql.Timestamp.from(from),
        java.sql.Timestamp.from(from.plus(29, ChronoUnit.MINUTES)))
    }
    import spark.implicits._
    val ranges = specs.toDF("patch", "p_symbol", "p_lo", "p_hi")
    val lifted = Seq("open", "high", "low", "close", "mark_price_open",
      "mark_price_close", "index_price_open", "index_price_close")
    val joined = history.join(ranges, col("symbol") === col("p_symbol") &&
      col("timestamp").between(col("p_lo"), col("p_hi")))
    lifted.foldLeft(joined)((d, c) => d.withColumn(c, round(col(c) * 1.001, 6)))
      .drop("p_symbol", "p_lo", "p_hi")
  }

  /** The start of fresh hour `h` (0-based) after the history. */
  def hourStart(h: Int): Instant = historyEnd.plus(h.toLong, ChronoUnit.HOURS)

  /** Uniform [0, 1) draw number `k` for (symbol index, minute index), on
    * the driver. */
  private def ud(sym: Int, m: Long, k: Int): Double =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + sym * 1000003L +
      m * 7919L + k * 104729L).nextDouble()

  private def r6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Raw source records of every symbol for `hours` fresh hours, made on
    * the driver as a REST client receives them: per source, its schema
    * and its rows by (symbol, hour). */
  def sources(hours: Int): Map[String, Records] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def schema(cols: (String, DataType)*) =
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
    val L = LongType
    val D = DoubleType
    val t0 = historyEnd.toEpochMilli
    val out = Map(
      "klines" -> schema("open_time" -> L, "open" -> D, "high" -> D, "low" -> D, "close" -> D,
        "volume_btc" -> D, "volume_usdt" -> D, "trade_count" -> L,
        "taker_buy_vol_btc" -> D, "taker_buy_vol_usdt" -> D),
      "mark" -> schema("open_time" -> L, "mark_price_open" -> D, "mark_price_close" -> D),
      "index" -> schema("open_time" -> L, "index_price_open" -> D, "index_price_close" -> D),
      "aggTrades" -> schema("agg_trade_id" -> L, "price" -> D, "qty" -> D,
        "first_trade_id" -> L, "last_trade_id" -> L, "transact_time" -> L,
        "is_buyer_maker" -> BooleanType),
      "bookTicker" -> schema("event_time" -> L, "bid_price" -> D, "bid_qty" -> D,
        "ask_price" -> D, "ask_qty" -> D),
      "premium" -> schema("event_time" -> L, "predicted_funding" -> D,
        "next_funding_time" -> L, "last_funding_rate" -> D),
      "funding" -> schema("funding_time" -> L, "funding_rate" -> D),
      "metrics" -> schema("create_time" -> L, "oi_contracts" -> D, "oi_value_usdt" -> D))
    val rows = scala.collection.mutable.Map.empty[(String, String, Int), Vector[Row]]
      .withDefaultValue(Vector.empty)
    def add(src: String, sym: String, h: Int, r: Row): Unit =
      rows((src, sym, h)) = rows((src, sym, h)) :+ r
    for ((sym, si) <- symbols.zipWithIndex; h <- 0 until hours; mm <- 0 until 60) {
      val m = minutesPerSymbol + h * 60L + mm
      val t = t0 + (h * 60L + mm) * 60000L
      val base = 100.0 * math.pow(1.7, si % 9)
      val close = r6(base * (1.0 + (ud(si, m, 21) - 0.5) * 0.01))
      val open = r6(close * (1.0 + (ud(si, m, 22) - 0.5) * 0.001))
      val vol = 1.0 + ud(si, m, 23) * 20.0
      add("klines", sym, h, Row(t, open, r6(math.max(open, close) * 1.0005),
        r6(math.min(open, close) * 0.9995), close, r6(vol), math.rint(vol * close * 1e4) / 1e4,
        (5 + ud(si, m, 24) * 200).toLong, r6(vol * 0.5), math.rint(vol * 0.5 * close * 1e4) / 1e4))
      add("mark", sym, h, Row(t, open, close))
      add("index", sym, h, Row(t, r6(open * 0.9999), r6(close * 0.9999)))
      for (j <- 0 until 4) {
        val id = ((si * hours * 60L) + h * 60L + mm) * 4 + j
        add("aggTrades", sym, h, Row(id, r6(close * (1.0 + (ud(si, m * 4 + j, 25) - 0.5) * 0.001)),
          r6(0.01 + ud(si, m * 4 + j, 26) * 2), id * 10, id * 10 + 9, t + j * 15000L + 500L,
          ud(si, m * 4 + j, 27) < 0.5))
      }
      // about 1% of bookTicker minutes are missing: forward-fill covers them
      if (ud(si, m, 28) >= 0.01)
        add("bookTicker", sym, h, Row(t + 30000L, r6(close * 0.99995), r6(1.0 + ud(si, m, 29) * 5),
          r6(close * 1.00005), r6(1.0 + ud(si, m, 30) * 5)))
      if (mm % 5 == 0) {
        add("premium", sym, h, Row(t + 1000L, 0.0001, t0 + 8L * 3600000L, 0.0001))
        add("metrics", sym, h, Row(t, 50000.0 + si * 1000, (50000.0 + si * 1000) * close))
      }
      if (mm == 0) add("funding", sym, h, Row(t, 0.0001))
    }
    out.map { case (name, sch) =>
      name -> Records(sch, rows.collect { case ((`name`, sym, h), rs) => (sym, h) -> rs.toSeq }.toMap)
    }
  }
}

/** One source's records: its schema and its rows by (symbol, hour). */
final case class Records(schema: org.apache.spark.sql.types.StructType,
                         rows: Map[(String, Int), Seq[org.apache.spark.sql.Row]])

object Gen {
  /** Order-independent content hash of a frame: the sum of the low 32
    * bits of per-row hashes over every column (cannot overflow). */
  def contentHash(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)).as("h"))
      .agg(coalesce(sum(col("h")), lit(0L))).head.getLong(0)
}
