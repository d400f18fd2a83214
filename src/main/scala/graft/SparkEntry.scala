package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AlignSeries, AsOf, Ops}
import graft.functions.{Multimodal, TextFns, VectorFns}

/** Driver contract — each entry in [[queries]] exercises one operator
  * family from SURVEY.md §2 (query names carry the §2 ids), re-expressed
  * over the driver's synthetic tables (`TESTDATA.md`). [[oracleSql]]
  * holds the DuckDB-equivalent SQL the driver hash-compares against.
  *
  * Determinism rules used throughout (both engines):
  *  - every double output is `round(x, 4)` (values) or `round(x, 6)`
  *    (ratios) to absorb float summation-order noise;
  *  - every order-sensitive reduction has an explicit (ts, id) tie-break;
  *  - hashes are md5-derived (identical across engines), never
  *    xxhash64/murmur.
  */
object SparkEntry {

  /** Engine-stable rounding. Two distinct hazards:
    *  1. a raw double that differs by 1 ulp between Spark and DuckDB
    *     (summation order) can round opposite ways on a half boundary —
    *     solved by an inner round at `scale+5`, which collapses both
    *     engines' ulp-noise onto the same double;
    *  2. the engines' ROUNDING ALGORITHMS differ on that shared double:
    *     Spark rounds the double's shortest decimal REPRESENTATION
    *     (BigDecimal.valueOf → "70.86925" → HALF_UP → 70.8693) while
    *     DuckDB rounds the BINARY value (70.869249999999997 → 70.8692) —
    *     solved by making the oracle's outer round repr-based too
    *     (VARCHAR → DECIMAL → round), see [[stableRoundSql]].
    * Shadows functions.round inside this object. */
  private def round(c: Column, scale: Int): Column =
    org.apache.spark.sql.functions.round(
      org.apache.spark.sql.functions.round(c, scale + 5), scale)

  /** Rewrites every `round(expr, n)` in oracle SQL to the stable form
    * `CAST(round(CAST(CAST(round(expr, n+5) AS VARCHAR) AS
    * DECIMAL(38,12)), n) AS DOUBLE)` (balanced-paren aware). */
  private def stableRoundSql(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      // require a non-identifier char before the match so e.g. `around(`
      // or `my_round(` is left alone
      val atWordStart = i == 0 || {
        val p = sql.charAt(i - 1); !p.isLetterOrDigit && p != '_'
      }
      if (atWordStart && sql.regionMatches(true, i, "round(", 0, 6)) {
        // balance parens, skipping over single-quoted string literals
        var depth = 1
        var j = i + 6
        var inStr = false
        while (depth > 0 && j < sql.length) {
          val ch = sql.charAt(j)
          if (inStr) { if (ch == '\'') inStr = false }
          else if (ch == '\'') inStr = true
          else if (ch == '(') depth += 1
          else if (ch == ')') depth -= 1
          j += 1
        }
        // top-level comma (the scale argument), quote-aware
        val inner = if (depth == 0) sql.substring(i + 6, j - 1) else ""
        var d = 0
        var cut = -1
        var k = 0
        var inStr2 = false
        while (k < inner.length) {
          val ch = inner.charAt(k)
          if (inStr2) { if (ch == '\'') inStr2 = false }
          else if (ch == '\'') inStr2 = true
          else if (ch == '(') d += 1
          else if (ch == ')') d -= 1
          else if (ch == ',' && d == 0) cut = k
          k += 1
        }
        val scaleOk = cut >= 0 &&
          inner.substring(cut + 1).trim.forall(c => c.isDigit || c == '-')
        if (depth != 0 || !scaleOk) {
          // unbalanced or not a literal-scale round: pass through verbatim
          out.append(sql.charAt(i)); i += 1
        } else {
          val e = stableRoundSql(inner.substring(0, cut))
          val n = inner.substring(cut + 1).trim.toInt
          out.append(s"CAST(round(CAST(CAST(round($e, ${n + 5}) AS VARCHAR) " +
            s"AS DECIMAL(38,12)), $n) AS DOUBLE)")
          i = j
        }
      } else {
        out.append(sql.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The driver's testdata timestamp encoding has changed across rounds
    // (TIMESTAMP(NANOS) → tz-naive timestamp[us]); normalize every
    // variant to plain TimestampType so downstream unix_millis/encoders
    // see one stable type regardless of which generation is on disk.
    // - nanosAsLong=true: TIMESTAMP(NANOS) (no native Spark type)
    //   surfaces as epoch-ns long; floored to µs below.
    // - inferTimestampNTZ=false: tz-naive parquet timestamps read as
    //   TimestampType (session tz is UTC, so instants are identical).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    graft.functions.NativeVectorExprs.register(s)
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer division — `/` on longs is DOUBLE division in Spark and
      // would round epoch-ns (≈1.7e18 > 2^53) by hundreds of ns
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (df.schema.exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType))
      // belt-and-braces: if a pre-existing session already resolved the
      // file with NTZ inference on, cast in place (UTC session tz makes
      // the conversion the identity on the underlying micros).
      df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
        .foldLeft(df)((d, f) => d.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType)))
    else df
  }

  /** events with the json `k` prop extracted and the minute key — the
    * universal normalizer (SURVEY §2.2 P1). */
  private def eventsK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("minute", date_trunc("minute", col("ts")))

  /** Dense minute spine spanning the events table (SURVEY §1.1: the
    * time-series spine all sources left-join onto). Bounds derive from
    * the data so the query scales with the input, not a hardcoded range. */
  private def minuteSpine(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .agg(date_trunc("minute", min(col("ts"))).as("mn"),
           date_trunc("minute", max(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 minute"))).as("m"))

  private def hourSpine(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .agg(date_trunc("hour", min(col("ts"))).as("mn"),
           date_trunc("hour", max(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("h"))

  /** Calendar-frame HTF aggregation (`htf_aggregate_1w` / `_1mo`):
    * the 1h row's minute build, aggregated by a CALENDAR TimeframeSpec
    * — Monday-floored weeks / day-1 months with add_months bucket ends
    * (Timeframes.bucketStart/bucketEnd), so expected-minutes varies
    * per bucket and the completeness accounting is exercised where it
    * is data-dependent. */
  private def htfCalendarAgg(s: SparkSession, dir: String, tf: String): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    val minutes = eventsK(s, dir).groupBy("minute").agg(
      Ops.firstByOrd(col("value"), ord).as("open"),
      max(col("value")).as("high"),
      min(col("value")).as("low"),
      Ops.lastByOrd(col("value"), ord).as("close"),
      sum(col("value")).as("volume_btc"),
      sum(col("value") * col("k")).as("volume_usdt"),
      count(lit(1)).as("trade_count"),
      max(when(col("event_type") === "view", col("k").cast("double"))).as("oi_contracts"))
      .withColumnRenamed("minute", "timestamp")
    val canonical = graft.operators.MinuteBuilder.finalizeSchema(minutes)
    graft.operators.HtfAggregator
      .aggregateMinutes(canonical, graft.schema.Timeframes.parse(tf), "EVT")
      .select(col("bucket_start"),
        round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
        round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
        round(col("volume_btc"), 4).as("volume_btc"),
        round(col("vwap"), 4).as("vwap"),
        col("trade_count"), col("observed_minutes_in_bucket"),
        col("expected_minutes_in_bucket"), col("missing_minutes_count"),
        col("bucket_complete"),
        round(col("oi_contracts"), 4).as("oi_contracts"),
        round(col("realized_vol_htf"), 6).as("realized_vol_htf"))
  }

  /** DuckDB twin of [[htfCalendarAgg]]: `part` = date_trunc part,
    * `interval` = one-bucket span for the expected-minutes math. */
  private def htfCalendarOracle(part: String, interval: String): String = {
    val exp = s"CAST(date_diff('minute', bucket_start, bucket_start + INTERVAL $interval) AS BIGINT)"
    s"""WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
       |                  date_trunc('minute', ts) AS minute FROM events),
       |mw AS (
       |  SELECT minute, ts, event_id, value, event_type, k,
       |         first_value(value) OVER w AS mo, last_value(value) OVER w AS mc
       |  FROM e WINDOW w AS (PARTITION BY minute ORDER BY ts, event_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |mins AS (
       |  SELECT minute, any_value(mo) AS o, max(value) AS hi, min(value) AS lo,
       |         any_value(mc) AS c, sum(value) AS vb, sum(value * k) AS vu,
       |         count(*) AS tc,
       |         max(CASE WHEN event_type = 'view' THEN CAST(k AS DOUBLE) END) AS oi
       |  FROM mw GROUP BY minute),
       |b AS (
       |  SELECT CAST(date_trunc('$part', minute) AS TIMESTAMP) AS bucket_start, minute,
       |         o, hi, lo, c, vb, vu, tc, oi,
       |         first_value(o) OVER wb AS bo, last_value(c) OVER wb AS bc,
       |         last_value(oi IGNORE NULLS) OVER wb AS boi,
       |         lag(c) OVER (PARTITION BY date_trunc('$part', minute)
       |                      ORDER BY minute) AS prev_c
       |  FROM mins
       |  WINDOW wb AS (PARTITION BY date_trunc('$part', minute) ORDER BY minute
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT bucket_start,
       |       round(any_value(bo), 4) AS open, round(max(hi), 4) AS high,
       |       round(min(lo), 4) AS low, round(any_value(bc), 4) AS close,
       |       round(sum(vb), 4) AS volume_btc,
       |       round(CASE WHEN sum(vb) > 0 THEN sum(vu) / sum(vb) END, 4) AS vwap,
       |       CAST(sum(tc) AS BIGINT) AS trade_count,
       |       count(*) AS observed_minutes_in_bucket,
       |       $exp AS expected_minutes_in_bucket,
       |       $exp - count(*) AS missing_minutes_count,
       |       count(*) = $exp AS bucket_complete,
       |       round(any_value(boi), 4) AS oi_contracts,
       |       round(sqrt(coalesce(sum(CASE WHEN prev_c > 0 AND c > 0
       |                                    THEN pow(ln(c / prev_c), 2) END), 0.0)), 6)
       |         AS realized_vol_htf
       |FROM b GROUP BY bucket_start""".stripMargin
  }

  /** Flagship query on sf=0.001 (star-join revenue rollup). */
  def entry(spark: SparkSession): DataFrame =
    queries("j9_star_join_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** Correctness-only tier: intentionally-quadratic EXACT baselines kept
    * solely as accuracy oracles for their scale-safe counterparts
    * (`dedup_embed_lsh*` / `dedup_ngram_jaccard_capped`). The DuckDB
    * correctness gate still runs them every round; [[Bench]] skips them —
    * they are the documented anti-pattern at scale, and timing them tells
    * us nothing about the engine (VERDICT r7 #8). */
  val oracleOnly: Set[String] =
    Set("dedup_embed_cosine", "dedup_ngram_jaccard",
      // exact-scorer parity baseline for dedup_embed_lsh_sq8 (the
      // production row since r8): candidate-volume quadratic by
      // construction (21.5 s at sf1), so it joins the untimed tier
      // (VERDICT r8 #3/#5).
      "dedup_embed_lsh",
      // fixed-geometry all-pairs cc parity baseline: on clean keys it
      // OOMs the 8 GB bench heap at sf10 (~200 M-row pair-distinct;
      // 270.8 s even at 24 GB, ×11.9 over the shipped auto+star path).
      // Its recall-reference role needs only the sf0.01 correctness
      // gate — same argument as the three baselines above (VERDICT
      // r10 #4).
      "dedup_cc_canonical")

  /** ENGINE-roundtrip rows (VERDICT r14 #6): queries whose timed body
    * is write/patch/read MACHINERY (staged writes, content hashing,
    * tempdir lifecycle), kept in the bench for drift detection but
    * priced in their own `total_engine` ledger line — summing them
    * into a query wall-time total misleads round-over-round reads. */
  val engineRoundtrip: Set[String] =
    Set("s16_wide_lake_roundtrip", "s17_delta_overlay_precedence",
      "s18_gated_tick_roundtrip", "s19_capped_drain_roundtrip",
      "s20_budget_drain_roundtrip")

  /** Bench rows added AFTER the r13 ledger froze the `comparable`
    * subtotal's membership. [[Bench]] reports
    * `comparable` = timed ∖ engineRoundtrip ∖ this set — the SAME
    * 88-query basis every round, so round-over-round deltas stop
    * requiring manual subtraction. Append new query names here as they
    * are born; never remove. */
  val benchAddedAfterR13: Set[String] = Set(
    "s16_wide_lake_roundtrip",       // r14 (also engine-roundtrip)
    "dedup_cc_verified_star_rescue", // r14
    "htf_aggregate_1w",              // r15
    "htf_aggregate_1mo",             // r15
    "s17_delta_overlay_precedence",  // r16 (also engine-roundtrip)
    "s18_gated_tick_roundtrip",      // r17 (also engine-roundtrip)
    "stream_recall_ledger",          // r17
    "s19_capped_drain_roundtrip",    // r18 (also engine-roundtrip)
    "s20_budget_drain_roundtrip")    // r19 (also engine-roundtrip)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1: pruned parquet scan → filter + projection + hash agg. The plan
    // must show PushedFilters on l_shipdate and a 4-column ReadSchema.
    "s1_pruned_scan_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
                                         lit("1997-01-01").cast("timestamp")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
             round(sum(col("l_extendedprice")), 4).as("sum_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"))
    }),

    // S2: min/max timestamp inspection (source_reader.py:13-28).
    "s2_minmax_ts" -> ((s, dir) => {
      t(s, dir, "events").agg(min(col("ts")).as("min_ts"),
                              max(col("ts")).as("max_ts"),
                              count(lit(1)).as("n"))
    }),

    // S3: latest-wins dedup — keep the newest event per user by
    // (ts, event_id) (source_reader.py:44-59 pattern).
    "s3_latest_wins_dedup" -> ((s, dir) => {
      Ops.dedupKeepLast(t(s, dir, "events"), Seq("user_id"),
                        Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id").as("last_event_id"),
                round(col("value"), 4).as("last_value"),
                col("event_type").as("last_type"))
    }),

    // P2+JSON: conditional split projections (whale/retail pattern,
    // minute_builder.py:204-235) keyed off a JSON-extracted field.
    "p2_json_conditional_split" -> ((s, dir) => {
      eventsK(s, dir)
        .groupBy("event_type")
        .agg(round(sum(when(col("k") >= 50, col("value")).otherwise(0.0)), 4).as("whale_value"),
             round(sum(when(col("k") < 50, col("value")).otherwise(0.0)), 4).as("retail_value"),
             sum(when(col("k") >= 50, 1L).otherwise(0L)).as("whale_cnt"),
             count(lit(1)).as("cnt"))
    }),

    // P3/A2 through the REAL operator: book-ticker snapshots synthesized
    // from events (bid/ask derived from value and k), fed to
    // MinuteBuilder.bookTickerFrame — spread, imbalance, spread_pct,
    // microprice-last per minute (minute_builder.py:261-296). Snapshots
    // are deduped per event_time first so "last" has a unique order key.
    "p3_book_ticker_exprs" -> ((s, dir) => {
      val snaps = Ops.dedupKeepLast(
        eventsK(s, dir).where(col("value") > 0 && col("k").isNotNull)
          .select(unix_millis(col("ts")).as("event_time"),
            col("value").as("bid_price"),
            (col("value") + (col("k") % 10 + 1).cast("double") / 100.0).as("ask_price"),
            (col("k") % 5 + 1).cast("double").as("bid_qty"),
            (col("k") % 7 + 1).cast("double").as("ask_qty"),
            col("event_id")),
        Seq("event_time"), Seq(col("event_id"))).drop("event_id")
      graft.operators.MinuteBuilder.bookTickerFrame(snaps)
        .select(col("timestamp"),
          round(col("avg_spread_usdt"), 6).as("avg_spread_usdt"),
          round(col("bid_ask_imbalance"), 6).as("bid_ask_imbalance"),
          round(col("avg_bid_depth"), 6).as("avg_bid_depth"),
          round(col("avg_ask_depth"), 6).as("avg_ask_depth"),
          round(col("spread_pct"), 6).as("spread_pct"),
          round(col("micro_price_close"), 4).as("micro_price_close"))
    }),

    // J8: live-overlay merge policy — left join on the time key, bool
    // coverage flags OR-merged, value columns coalesce-prefer-live
    // (service.py:968-1034, same family as S11's preserve-merge).
    "j8_overlay_merge" -> ((s, dir) => {
      val base = eventsK(s, dir).where(col("event_type") === "purchase")
        .groupBy("minute")
        .agg(round(sum(col("value")), 4).as("base_vol"))
        .withColumn("has_live", lit(false))
      val live = eventsK(s, dir).where(col("event_type") === "error")
        .groupBy("minute")
        .agg(round(sum(col("value")), 4).as("live_vol"))
        .withColumn("live_flag", lit(true))
      base.join(live, Seq("minute"), "left")
        .select(col("minute"),
          (coalesce(col("has_live"), lit(false)) ||
            coalesce(col("live_flag"), lit(false))).as("has_live"),
          coalesce(col("live_vol"), col("base_vol")).as("vol"),
          col("base_vol"))
    }),

    // A13: ratio-row dedup by data_time keep-last
    // (binance_provider.py:643-651) — the REST ratio-page dedup as a
    // relational plan (row_number window, WindowGroupLimit).
    "a13_ratio_dedup" -> ((s, dir) => {
      val rows = eventsK(s, dir).where(col("event_type") === "signup")
        .select((unix_millis(col("ts")) - unix_millis(col("ts")) % 60000L).as("data_time"),
          col("value").as("ratio"), col("event_id"))
      Ops.dedupKeepLast(rows, Seq("data_time"), Seq(col("event_id")))
        .select(col("data_time"), round(col("ratio"), 4).as("ratio"), col("event_id"))
    }),

    // The canonical minute builder END TO END (minute_builder.py:75-123):
    // spine → kline/aggTrade/funding/premium source joins → derived
    // columns with the deliberate 0-vs-NULL gates → bounded 60-minute
    // ffill → finalize, over a 3h window derived from the data. Source
    // records synthesized from event classes; snapshot sources are
    // pre-deduped per minute so every "last" has a unique order key.
    "mb_canonical_build" -> ((s, dir) => {
      val e = eventsK(s, dir)
      val ord = struct(col("ts"), col("event_id"))
      // window bound: driver-side derivation mirrors the oracle's scalar
      // subquery (harness-only action, engine API takes bounds as params)
      val start0 = e.agg(date_trunc("hour", min(col("ts"))))
        .first().getTimestamp(0).toInstant
      val endMin = start0.plus(179, java.time.temporal.ChronoUnit.MINUTES)

      // window prefilter (r21, VERDICT r20 #7): every source below is
      // keyed by minute(ts) with per-minute-only windows, and the spine
      // left join keeps exactly minutes [start0, endMin] — so rows with
      // ts outside [start0, endMin + 1 min) can never reach the output.
      // Filtering the scan ONCE turns four full-corpus aggregations into
      // four window-bounded ones with the ts range in PushedFilters: at
      // 100 TB the 3-hour canonical build stops scanning full history
      // (the dominant cost the r20 ledger flagged). Results are
      // bit-identical (minute(ts) ∈ [start0, endMin] ⟺ ts in the
      // half-open range; oracle re-verified).
      val ew = e.where(col("ts") >= java.sql.Timestamp.from(start0) &&
        col("ts") < java.sql.Timestamp.from(
          endMin.plus(1, java.time.temporal.ChronoUnit.MINUTES)))

      val klineRecs = ew.where(col("event_type") === "purchase")
        .groupBy("minute").agg(
          Ops.firstByOrd(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          Ops.lastByOrd(col("value"), ord).as("close"),
          sum(col("value")).as("volume_btc"),
          sum(col("value") * col("k")).as("volume_usdt"),
          count(lit(1)).as("trade_count"),
          sum(when(col("k") % 2 === 0, col("value")).otherwise(0.0))
            .as("taker_buy_vol_btc"),
          sum(when(col("k") % 2 === 0, col("value") * col("k")).otherwise(0.0))
            .as("taker_buy_vol_usdt"))
        .withColumn("open_time", unix_millis(col("minute"))).drop("minute")

      val tradeRecs = ew
        .where(col("event_type") === "error" && col("value") > 0 && col("k").isNotNull)
        .select(col("event_id").as("agg_trade_id"), col("value").as("price"),
          ((col("k") % 5 + 1).cast("double") / 10.0).as("qty"),
          col("event_id").as("first_trade_id"), col("event_id").as("last_trade_id"),
          unix_millis(col("ts")).as("transact_time"),
          (col("k") % 2 === 0).as("is_buyer_maker"))

      val fundingRecs = Ops.dedupKeepLast(
        ew.where(col("event_type") === "signup" && col("k") % 20 === 0),
        Seq("minute"), Seq(col("ts"), col("event_id")))
        .select(unix_millis(col("ts")).as("funding_time"),
          (col("k").cast("double") / 1000000.0).as("funding_rate"))

      val premiumRecs = Ops.dedupKeepLast(
        ew.where(col("event_type") === "view"),
        Seq("minute"), Seq(col("ts"), col("event_id")))
        .select(unix_millis(col("ts")).as("event_time"),
          (col("k").cast("double") / 100000.0).as("predicted_funding"),
          (unix_millis(col("ts")) + 28800000L).as("next_funding_time"),
          (col("k").cast("double") / 1000000.0).as("last_funding_rate"))

      graft.operators.MinuteBuilder.buildCanonicalFrame(s, start0, endMin,
        klines = Some(klineRecs), aggTrades = Some(tradeRecs),
        fundingRates = Some(fundingRecs),
        premiumIndexSnapshots = Some(premiumRecs))
        .select(col("timestamp"),
          round(col("open"), 4).as("open"), round(col("close"), 4).as("close"),
          round(col("vwap_1m"), 4).as("vwap_1m"),
          round(col("volume_btc"), 4).as("volume_btc"),
          col("trade_count"),
          round(col("net_taker_vol_btc"), 4).as("net_taker_vol_btc"),
          col("count_buy_trades"),
          round(col("vol_buy_retail_btc"), 4).as("vol_buy_retail_btc"),
          round(col("avg_trade_size_btc"), 6).as("avg_trade_size_btc"),
          round(col("taker_buy_ratio"), 6).as("taker_buy_ratio"),
          round(col("realized_vol_1m"), 6).as("realized_vol_1m"),
          round(col("funding_rate"), 6).as("funding_rate"),
          round(col("predicted_funding"), 6).as("predicted_funding"),
          col("has_liq"))
    }),

    // P4/P5: null-gated derivations + coalesce fallback chains
    // (minute_builder.py:545-621, 491-498).
    "p5_null_gated_derived" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(round(sum(when(col("l_discount") > 0.02,
                            col("l_extendedprice") * (lit(1.0) - col("l_discount")))), 4)
               .as("disc_revenue"),
             round(sum(coalesce(nullif(col("l_tax"), lit(0.0)), lit(0.01)) *
                       col("l_extendedprice")), 4).as("tax_amount"),
             count(when(col("l_discount") > 0.02, lit(1))).as("n_discounted"))
    }),

    // J1: dense spine left-join (minute_builder.py:93-119,125-143) —
    // per-minute aggregates joined onto the generated spine; missing
    // minutes surface as zero-filled rows.
    "j1_spine_left_join" -> ((s, dir) => {
      val perMin = eventsK(s, dir).groupBy("minute")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("val"))
      minuteSpine(s, dir)
        .join(perMin, col("m") === col("minute"), "left")
        .select(col("m"), coalesce(col("n_events"), lit(0L)).as("n_events"),
                coalesce(col("val"), lit(0.0)).as("val"))
    }),

    // J2: as-of backward join with tolerance (minute_builder.py:409-454)
    // — hourly spine picks up the latest 'purchase' value no older than
    // 120 minutes. Uses the BUCKETED composition (window partitioned by
    // tolerance-length time buckets with right rows replicated into the
    // next bucket): identical semantics to the plain union+window form,
    // but the shuffle is hash-distributed instead of single-task — the
    // form that survives a 100 TB scan.
    "j2_asof_tolerance" -> ((s, dir) => {
      val purchases = Ops.dedupKeepLast(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        Seq("ts"), Seq(col("event_id")))
        .select(col("ts"), col("value").as("asof_value"))
      AsOf.asofJoinBackwardBucketed(hourSpine(s, dir), purchases,
                                    leftOn = "h", rightOn = "ts",
                                    valueCols = Seq("asof_value"),
                                    toleranceMs = 120L * 60 * 1000)
        .select(col("h"), round(col("asof_value"), 4).as("asof_value"))
    }),

    // J6: anti join — customers with no order inside the window
    // (missing-bucket detection pattern, validator.py:45-52; the window
    // keeps the result non-empty on the synthetic data, where every
    // customer has ordered at least once overall).
    "j6_anti_customers" -> ((s, dir) => {
      val orders1995 = t(s, dir, "orders")
        .where(col("o_orderdate").between(lit("1995-01-01").cast("timestamp"),
                                          lit("1995-12-31").cast("timestamp")))
      Ops.antiByKeys(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "custkey"),
        orders1995.withColumnRenamed("o_custkey", "custkey"),
        Seq("custkey"))
        .select(col("custkey").as("c_custkey"), col("c_name"))
    }),

    // J-star: multi-way equi-join rollup; nation/region are broadcast
    // dims, the lineitem↔orders join shuffles on the key.
    "j9_star_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             countDistinct(col("o_orderkey")).as("n_orders"),
             count(lit(1)).as("n_items"))
    }),

    // J-star THROUGH THE BUCKETED LAYOUT (VERDICT r8 #8): the same
    // star rollup as j9, but lineitem and orders are first written as
    // bucketed+bucket-sorted tables on the join key via
    // sources.BucketedLake — the one-shuffle-paid-at-ingest lever. The
    // fact↔fact join then reads both sides already co-partitioned:
    // Catalyst drops BOTH Exchanges under the SortMergeJoin (pinned by
    // PlanCheckSpec), which is the plan a 100 TB lake wants for every
    // repeated join on the same key. Values are identical to j9's
    // oracle — bucketing is a layout decision, not a semantic one. The
    // ingest write runs ONCE per session (fixture-time): r10's form
    // timed write+read in every sample, which buried the read-side win
    // under the one-time ingest cost (VERDICT r10 #5) — now the first
    // invocation pays the write and later samples measure what every
    // post-ingest consumer actually pays, the Exchange-free read.
    "j9_star_join_bucketed" -> ((s, dir) => {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_bucketed/$tag"
      if (!s.catalog.tableExists(s"li_bkt$tag"))
        graft.sources.BucketedLake.writeBucketed(
          t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
          s"li_bkt$tag", s"$base/lineitem", "l_orderkey", 8, Seq("l_orderkey"))
      if (!s.catalog.tableExists(s"ord_bkt$tag"))
        graft.sources.BucketedLake.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          s"ord_bkt$tag", s"$base/orders", "o_orderkey", 8, Seq("o_orderkey"))
      val li = s.table(s"li_bkt$tag")
      val o = s.table(s"ord_bkt$tag")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             countDistinct(col("o_orderkey")).as("n_orders"),
             count(lit(1)).as("n_items"))
    }),

    // P9: serialization scrub + aliasing (utils.py:73-110) through the
    // REAL service serializer: `_`-prefixed internal columns dropped,
    // vwap_1m aliased to the timeframe-neutral vwap_bar (deprecated
    // original dropped), timestamps ISO-8601 with exactly 3 fraction
    // digits. DuckDB mirrors the surviving columns and the format.
    "p9_serialize_scrub" -> ((s, dir) => {
      val agg = eventsK(s, dir).groupBy("minute").agg(
        round(avg(col("value")), 4).as("vwap_1m"),
        count(lit(1)).as("_internal_count"),
        round(max(col("value")), 4).as("high"))
        .withColumnRenamed("minute", "timestamp")
      graft.service.QueryService.serializeFrame(agg)
    }),

    // U1: relaxed vertical concat (vision_loader.py:254) — frames with
    // DIFFERENT column sets union by name, absent columns null-padded
    // (`unionByName(allowMissingColumns = true)`); the aggregation
    // proves both the row union and the null-padding. DuckDB mirrors
    // with explicit NULL-aligned UNION ALL.
    "u1_union_relaxed" -> ((s, dir) => {
      val base = eventsK(s, dir)
      val purchases = base.where(col("event_type") === "purchase")
        .select(col("minute"), col("value").as("purchase_value"))
      val views = base.where(col("event_type") === "view")
        .select(col("minute"), col("value").as("view_value"), col("user_id"))
      purchases.unionByName(views, allowMissingColumns = true)
        .groupBy("minute")
        .agg(count(lit(1)).as("n_rows"),
             count(col("purchase_value")).as("n_purchase"),
             count(col("view_value")).as("n_view"),
             count(col("user_id")).as("n_users_present"),
             round(sum(coalesce(col("purchase_value"), col("view_value"))), 4)
               .as("sum_value"))
    }),

    // J10: salted equi-join on a pathologically skewed key — event_type
    // has ~5 distinct values over the whole fact table, so an unsalted
    // shuffle join lands each key in ONE task. Ops.saltedJoin fans the
    // hot keys over 8 salt buckets (deterministic hash salt, small side
    // replicated). The ORACLE runs the plain unsalted join: a hash match
    // proves salted == unsalted row-for-row.
    "j10_salted_skew_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = ev.groupBy("event_type")
        .agg(round(avg(col("value")), 4).as("type_avg"))
      Ops.saltedJoin(ev, dim, Seq("event_type"),
          saltSource = col("event_id"), saltBuckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
             round(sum(col("value") - col("type_avg")), 4).as("sum_dev"),
             round(max(col("value") + col("type_avg")), 4).as("max_sum"))
    }),

    // A1: trade→minute aggregation with guarded VWAP and buy/sell split
    // (minute_builder.py:244-259).
    "a1_minute_trade_agg" -> ((s, dir) => {
      eventsK(s, dir)
        .groupBy("minute")
        .agg(count(lit(1)).as("trade_count"),
             round(when(sum(col("k")) > 0,
                        sum(col("value") * col("k")) / sum(col("k"))), 4).as("vwap"),
             round(max(col("value")), 4).as("max_value"),
             round(sum(when(col("event_id") % 2 === 0, col("value")).otherwise(0.0)), 4)
               .as("buy_value"),
             round(sum(when(col("event_id") % 2 =!= 0, col("value")).otherwise(0.0)), 4)
               .as("sell_value"))
    }),

    // A5: HTF bucket aggregation — OHLC via explicit-order first/last
    // (min_by/max_by, SURVEY §7.3: Spark groupBy first/last is
    // order-nondeterministic and must not be used), plus completeness
    // accounting (aggregation_rules.py:129-272).
    "a5_htf_ohlc_bucket" -> ((s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      eventsK(s, dir)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy("hour", "event_type")
        .agg(round(Ops.firstByOrd(col("value"), ord), 4).as("open"),
             round(max(col("value")), 4).as("high"),
             round(min(col("value")), 4).as("low"),
             round(Ops.lastByOrd(col("value"), ord), 4).as("close"),
             round(sum(col("value")), 4).as("volume"),
             count(lit(1)).as("cnt"),
             countDistinct(col("minute")).as("observed_minutes"))
    }),

    // A6/A12: exact interpolating percentiles (aggregation.py:146-150,
    // websocket.py:100-105 — DuckDB quantile_cont ≡ Spark percentile).
    "a6_percentile_p95" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.95)"), 6).as("p95"),
             round(expr("percentile(value, 0.5)"), 6).as("p50"),
             count(lit(1)).as("n"))
    }),

    // A7: bucket-completeness accounting (bucketing.py:61-68,
    // validator.py:17-52): observed vs expected minutes per day.
    "a7_bucket_completeness" -> ((s, dir) => {
      eventsK(s, dir)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("day")
        .agg(countDistinct(col("minute")).as("observed_minutes"))
        .withColumn("expected_minutes", lit(1440L))
        .withColumn("missing_minutes", lit(1440L) - col("observed_minutes"))
        .withColumn("complete", col("observed_minutes") === 1440L)
    }),

    // A9/A10: partition audit aggregation (partition_audit.py:18-95):
    // row count, key uniqueness, null accounting per day partition.
    "a9_partition_audit" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("event_id")).as("n_unique_ids"),
             countDistinct(col("user_id")).as("n_users"),
             sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_values"),
             round(min(col("value")), 4).as("min_value"),
             round(max(col("value")), 4).as("max_value"))
    }),

    // A11 + bool-OR + weighted-avg-with-fallback: liquidation-style
    // per-minute accumulation over one event class, side-split by a
    // modular key, notional-weighted fill price with simple-mean
    // fallback (websocket.py:1588-1637, aggregation_rules.py:234-254).
    "a11_side_split_weighted" -> ((s, dir) => {
      eventsK(s, dir)
        .where(col("event_type") === "error")
        .groupBy("minute")
        .agg(round(sum(when(col("k") % 2 === 0, col("value")).otherwise(0.0)), 4)
               .as("long_vol"),
             round(sum(when(col("k") % 2 =!= 0, col("value")).otherwise(0.0)), 4)
               .as("short_vol"),
             sum(when(col("k") % 2 === 0, 1L).otherwise(0L)).as("long_count"),
             sum(when(col("k") % 2 =!= 0, 1L).otherwise(0L)).as("short_count"),
             round(Ops.weightedAvgFallback(col("value"), col("k").cast("double")), 4)
               .as("avg_fill_price"),
             expr("bool_or(k > 90)").as("any_extreme"))
    }),

    // A12: NEAREST-RANK p95 per minute (websocket.py:100-105 `_p95_int`:
    // rank = max(1, ceil(0.95 n)), 1-indexed over the sorted sample) plus
    // the any-sample-over-threshold bad flag — the exact latency-metric
    // semantics, not the interpolating percentile of a6.
    "a12_latency_p95_nearest" -> ((s, dir) => {
      eventsK(s, dir)
        .groupBy("minute")
        .agg(expr("element_at(array_sort(collect_list(k)), " +
               "cast(greatest(1, ceil(0.95 * count(k))) as int))").as("p95_engine"),
             expr("bool_or(k > 90)").as("latency_bad"),
             count(col("k")).as("n"))
    }),

    // W1: per-group lag → log returns → realized volatility
    // (minute_builder.py:236-242).
    "w1_log_return_vol" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .where(col("value") > 0)
        .withColumn("r", log(col("value")) - log(lag(col("value"), 1).over(w)))
        .groupBy("user_id")
        .agg(round(sqrt(sum(col("r") * col("r"))), 6).as("realized_vol"),
             count(col("r")).as("n_returns"))
    }),

    // W3: bar-over-bar deltas via lag over the bucketed series
    // (service.py:1218-1257).
    "w3_bar_deltas" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy("hour", "event_type")
        .agg(sum(col("value")).as("vol"))
      val w = Window.partitionBy("event_type").orderBy("hour")
      hourly
        .withColumn("delta_vol", round(col("vol") - lag(col("vol"), 1).over(w), 4))
        .select(col("hour"), col("event_type"), round(col("vol"), 4).as("vol"),
                col("delta_vol"))
    }),

    // W4: running cumulative signed sum — CVD (aggregation.py:222-227).
    "w4_cvd_running" -> ((s, dir) => {
      val signed = when(col("event_id") % 2 === 0, col("value")).otherwise(-col("value"))
      t(s, dir, "events")
        .withColumn("cvd", round(Ops.runningSum(signed,
          order = Seq(col("ts"), col("event_id")),
          partitionCols = Seq(col("user_id"))), 4))
        .select(col("event_id"), col("user_id"), col("cvd"))
    }),

    // W5: bounded forward-fill over the dense spine
    // (minute_builder.py:624-642; limit semantics are the subtle part).
    "w5_bounded_ffill" -> ((s, dir) => {
      val lastPerMin = eventsK(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy("minute")
        .agg(Ops.lastByOrd(col("value"), struct(col("ts"), col("event_id"))).as("v"))
      minuteSpine(s, dir)
        .join(lastPerMin, col("m") === col("minute"), "left")
        .select(col("m"),
                round(Ops.boundedFfill(col("v"), Seq(col("m")), Some(30)), 4)
                  .as("filled"))
    }),

    // W7: gaps-and-islands sessionization (backfill.py:105-121 pattern).
    "w7_sessionization" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("session", Ops.sessionId(col("ts"),
          Seq(col("ts"), col("event_id")), Seq(col("user_id")), 30L * 60 * 1000))
      ev.groupBy("user_id", "session").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
             round(avg(col("n")), 6).as("avg_session_events"),
             max(col("n")).as("max_session_events"))
    }),

    // S14: IDE query-surface starter query — latest 200 events by time
    // desc (planned as TakeOrderedAndProject, no full sort), re-emitted
    // ascending (cli/app.py:105-154).
    "s14_top200_recent" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"),
                round(col("value"), 4).as("value"))
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(200)
    }),

    // O2: top-k with deterministic tie-break (aggregation.py:171 tail).
    "o2_topk_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(round(sum(col("value")), 4).as("total_value"),
             count(lit(1)).as("n"))
        .orderBy(col("total_value").desc, col("user_id").asc)
        .limit(10)
    }),

    // U2: overlapping-window union + last-wins dedup merge
    // (utils.py:59-70, atomic.py:67-72).
    "u2_union_dedup_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.where(col("o_totalprice") >= 20000)
      val lo = o.where(col("o_totalprice") <= 100000)
      Ops.dedupKeepLast(hi.unionByName(lo), Seq("o_orderkey"),
                        Seq(col("o_orderdate"), col("o_orderkey")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // TXT: quality scoring — token stats, stopword & punctuation ratios
    // (training-data pipeline op).
    "txt_quality_score" -> ((s, dir) => {
      val stop = Seq("the", "and", "of", "to", "a", "in", "is", "on")
      val stopList = stop.map(w => s"'$w'").mkString(", ")
      t(s, dir, "documents")
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          round(expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double") /
                size(col("toks")), 6).as("mean_token_len"),
          round(expr(s"size(filter(toks, x -> x in ($stopList)))").cast("double") /
                size(col("toks")), 6).as("stopword_ratio"),
          round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"))
    }),

    // TXT: token counting rollup per source.
    "txt_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(TextFns.tokens(col("text")))).as("total_tokens"),
             round(avg(size(TextFns.tokens(col("text")))), 6).as("avg_tokens"),
             count(lit(1)).as("n_docs"))
    }),

    // TXT: BPE-style token counting (GPT-2 pre-tokenizer pattern family)
    // alongside the whitespace count — the token-budget accounting a
    // training-data pipeline actually runs.
    "txt_token_count_bpe" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(size(TextFns.bpeTokens(col("text")))).as("total_bpe_tokens"),
             round(avg(size(TextFns.bpeTokens(col("text")))), 6).as("avg_bpe_tokens"),
             sum(size(TextFns.tokens(col("text")))).as("total_ws_tokens"),
             count(lit(1)).as("n_docs"))
    }),

    // SAMPLE: deterministic hash-based stratified sampling — the
    // training-mix primitive (per-source quota rates, e.g. upsample
    // books, downsample web). md5(doc_id) % 100 < rate is reproducible
    // across engines and reruns, needs NO shuffle (pure filter,
    // embarrassingly parallel at any scale), and composes with any
    // downstream op. Rates: 50% for src0-4, 20% for src5-9, 10% rest.
    "sample_stratified_hash" -> ((s, dir) => {
      val hi = Seq("src0", "src1", "src2", "src3", "src4")
      val mid = Seq("src5", "src6", "src7", "src8", "src9")
      val rate = when(col("source").isin(hi: _*), 50)
        .when(col("source").isin(mid: _*), 20)
        .otherwise(10)
      t(s, dir, "documents")
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
        .where(col("bucket") < rate)
        .select(col("doc_id"), col("source"), col("bucket"))
    }),

    // TXT: Gopher-style quality gate (the rule family of Rae et al.
    // 2021 §A1.1): word count bounds, mean-word-length band, ratio of
    // words containing a letter, minimum stopword evidence. Keep is
    // decided on UNROUNDED values; the per-rule columns are emitted so
    // a pipeline can audit which rule rejected a document.
    "txt_gopher_rules" -> ((s, dir) => {
      val stopList = Seq("the", "and", "of", "to", "a", "in", "is", "on")
        .map(w => s"'$w'").mkString(", ")
      t(s, dir, "documents")
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("mwl",
          expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double") /
            col("n_words"))
        .withColumn("alpha",
          expr("size(filter(toks, x -> x rlike '[A-Za-z]'))").cast("double") /
            col("n_words"))
        .withColumn("n_stop",
          expr(s"size(filter(toks, x -> x in ($stopList)))").cast("long"))
        .select(col("doc_id"), col("n_words"),
          round(col("mwl"), 6).as("mean_word_len"),
          round(col("alpha"), 6).as("alpha_word_ratio"),
          col("n_stop"),
          (col("n_words").between(50, 100000) && col("mwl").between(3.0, 10.0) &&
            col("alpha") >= 0.8 && col("n_stop") >= 2).as("keep"))
    }),

    // TXT: fixed-size token chunking with overlap (context-window
    // packing: chunk=128 tokens, stride=96 → 32-token overlap). One row
    // per (doc, chunk) with its token count — the explode is the only
    // data growth and it is bounded by total_tokens/stride.
    "txt_chunk_tokens" -> ((s, dir) => {
      val chunk = 128
      val stride = 96
      t(s, dir, "documents")
        .withColumn("n", size(TextFns.tokens(col("text"))).cast("long"))
        // ceil((n - chunk)/stride) + 1 via integer div, guarded so short
        // docs get exactly one chunk (duckdb's // floors, spark's div
        // truncates — negatives would disagree)
        .withColumn("n_chunks", when(col("n") <= chunk, lit(1L))
          .otherwise(expr(s"(n - ${chunk - stride + 1}) div $stride + 1")))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(chunk.toLong), col("n") - col("chunk_idx") * stride)
            .as("chunk_tokens"))
    }),

    // ANN: int8 scalar quantization of the embedding column (per-vector
    // min/max affine code — the compression step before an IVF/PQ index
    // ships to serving). All math in DOUBLE on both engines (float
    // arithmetic orders differ); floor not round (round's half-boundary
    // is repr-fragile across engines).
    "ann_sq8_quantize" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mn", array_min(col("emb")))
        .withColumn("mx", array_max(col("emb")))
        .select(col("vec_id"), col("mn"), col("mx"), posexplode(col("emb")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(least(lit(255L),
              floor((col("col") - col("mn")) * 255.0 / (col("mx") - col("mn")))
                .cast("long"))).as("q"))
    }),

    // TXT: corpus vocabulary heavy-hitters — explode tokens, count,
    // top-50 by (count desc, token asc). The shape that matters at
    // 100 TB: token keys are Zipf-skewed, so the partial (map-side)
    // aggregation absorbs the hot keys before the shuffle and the
    // final TakeOrdered moves only 50 rows to the driver.
    "txt_vocab_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(50)
    }),

    // SAMPLE: deterministic per-stratum top-k — keep the k best docs
    // per source by an explicit quality ordinal (n_chars desc, doc_id
    // asc tiebreak). The quota-selection step after quality scoring;
    // rank rides along for auditability.
    "sample_topk_per_source" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank").cast("long").as("rank"),
                col("doc_id"), col("n_chars"))
    }),

    // TXT: n-gram-heuristic language ID (deterministic stopword scoring,
    // first-listed language wins ties).
    "txt_langid" -> ((s, dir) => {
      val langs = Seq(
        "en" -> Seq("the", "and", "of", "to", "is"),
        "de" -> Seq("der", "die", "und", "nicht", "ist"),
        "fr" -> Seq("le", "la", "et", "les", "des"),
        "es" -> Seq("el", "los", "las", "una", "y"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
                TextFns.langIdExpr("text", langs).as("pred_lang"))
        .withColumn("is_match", col("pred_lang") === col("lang"))
    }),

    // TXT/DEDUP: exact-dup fingerprint accounting per source
    // (md5 of normalized text).
    "txt_fingerprint_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("fp", TextFns.fingerprint(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("fp")).as("n_distinct"),
             (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
    }),

    // DEDUP: n-gram Jaccard near-dup pairs within each source bucket.
    // Shingles are 60-bit HASHES (one md5 each), deduped per doc, so
    // |A∩B| is computable by an INVERTED-INDEX join: explode shingles,
    // equi-join on (source, hash), count rows per pair. No O(n²)
    // per-pair array_intersect, and the join key is high-cardinality —
    // parallelism scales with data, not with the number of sources.
    // Exact at threshold: J ≥ 0.06 implies ≥ 1 shared shingle, so no
    // qualifying pair is missed.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                TextFns.shingleHashesFromText("text", 3).as("sh"))
        .withColumn("sz", size(col("sh")))
      val ex = docs.select(col("source"), col("doc_id"), col("sz"),
        explode(col("sh")).as("h"))
      val a = ex.select(col("source"), col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("h"))
      val b = ex.select(col("source"), col("doc_id").as("id_b"),
        col("sz").as("sz_b"), col("h"))
      val i = count(lit(1)).cast("double")
      a.join(b, Seq("source", "h"))
        .where(col("id_a") < col("id_b"))
        .groupBy("source", "id_a", "id_b", "sz_a", "sz_b")
        .agg(round(i / (col("sz_a") + col("sz_b") - i), 6).as("jaccard"))
        .where(col("jaccard") >= 0.06)
        .select(col("source"), col("id_a"), col("id_b"), col("jaccard"))
    }),

    // DEDUP at 100 TB: the same inverted-index Jaccard with a
    // document-frequency cap on the join key — shingles appearing in
    // more than `dfCap` docs per source generate O(df²) candidate pairs
    // and carry no near-dup signal, so they are dropped from the index
    // and the set sizes BEFORE pairing (bounding the hottest key, the
    // residual skew risk of dedup_ngram_jaccard). The cap also buys a
    // better plan than the uncapped self-join: posting lists are ≤
    // dfCap docs, so pairs are generated INSIDE each list — ONE scan of
    // the corpus (one tokenize+md5 pass), no second branch to re-read
    // it, and per-key work bounded by dfCap² regardless of corpus size.
    "dedup_ngram_jaccard_capped" -> ((s, dir) => {
      val dfCap = 20
      val ex = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
                explode(TextFns.shingleHashesFromText("text", 3)).as("h"))
      val byShingle = Window.partitionBy("source", "h")
      val byDoc = Window.partitionBy("source", "doc_id")
      // df / capped-size via windows (not agg+join: no re-scan of ex)
      val sized = ex.withColumn("df", count(lit(1)).over(byShingle))
        .where(col("df") <= dfCap)
        .withColumn("sz", count(lit(1)).over(byDoc))
      val postings = sized.where(col("df") >= 2)
        .groupBy("source", "h")
        .agg(array_sort(collect_list(struct(col("doc_id"), col("sz")))).as("docs"))
      val pairs = postings.select(col("source"), explode(expr(
        """flatten(transform(docs, (x, i) ->
          |  transform(slice(docs, i + 2, size(docs)), y ->
          |    struct(x.doc_id AS id_a, x.sz AS sz_a,
          |           y.doc_id AS id_b, y.sz AS sz_b))))""".stripMargin)).as("p"))
      val i = count(lit(1)).cast("double")
      pairs.select(col("source"), col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
        .groupBy("source", "id_a", "id_b", "sz_a", "sz_b")
        .agg(round(i / (col("sz_a") + col("sz_b") - i), 6).as("jaccard"))
        .where(col("jaccard") >= 0.06)
        .select(col("source"), col("id_a"), col("id_b"), col("jaccard"))
    }),

    // DEDUP: MinHash signatures + LSH band buckets (16 perms, 8 bands ×
    // 2 rows) — the shingle→minhash→band pipeline; band buckets are the
    // LSH join keys at scale. Permutations are arithmetic universal
    // hashes over ONE md5 per shingle (not one md5 per perm×shingle).
    "dedup_minhash_bands" -> ((s, dir) => {
      val withSig = t(s, dir, "documents")
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bands = (0 until 8).map { bnd =>
        md5(concat_ws("|",
          col("sig").getItem(bnd * 2).cast("string"),
          col("sig").getItem(bnd * 2 + 1).cast("string"))).as(s"band$bnd")
      }
      withSig.select(col("doc_id") +: bands: _*)
    }),

    // DEDUP scale knob as CODE: the band geometry comes from the corpus
    // count via TextFns.minhashGeometryFor (rows-per-band tracks
    // log(n), band budget follows), the MinHash twin of
    // ann_lsh_autosize. The sf10 probe traced dedup_cc_canonical's
    // super-linear tail to the FIXED 8x2 geometry the small-parameter
    // oracles use (in-bucket pair work is quadratic under a fixed
    // geometry; the geometry probe in SURVEY §8.11 measured 204M->88M
    // candidate pairs at 500k docs from re-sizing alone) — this query
    // pins the sizing decision AND the occupancy histogram under it against a DuckDB mirror that
    // derives the same geometry from count(*) with integer-exact
    // comparisons (no float log boundary can flip either side).
    "dedup_minhash_autosize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val (bands, rows) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until bands).map { b =>
        md5(concat_ws("|",
          (0 until rows).map(r => col("sig").getItem(b * rows + r).cast("string")): _*))
      }
      withSig.select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("occ"))
        .groupBy("occ").agg(count(lit(1)).as("n_buckets"))
        .withColumn("num_bands", lit(bands.toLong))
        .withColumn("rows_per_band", lit(rows.toLong))
        .withColumn("n_docs", lit(n))
    }),

    // DEDUP: LSH candidate pairs — docs sharing ≥1 band bucket, with the
    // signature-agreement Jaccard estimate. This is the join that
    // replaces the O(n²) pass at scale: candidates ≪ all pairs. Geometry
    // from count(*) (minhashGeometryFor — the fixed 8×2 form cost 198 s
    // at clean sf10 purely from in-bucket false-candidate volume; the
    // fixed banding itself stays covered by dedup_minhash_bands);
    // num_bands/rows_per_band ride along, hash-pinning the sizing.
    "dedup_minhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      // materialize the signature scan ONCE: the band frame feeds both
      // sides of the self-join, and without the checkpoint the whole
      // tokenize→shingle→md5→minhash pipeline is evaluated twice (the
      // scan dominates the dedup family's wall — measured ~41 s of a
      // ~122 s cc run at sf10 PER evaluation). On a fault-tolerant
      // cluster swap for reliable checkpoint, as in GraphOps.
      val bands = withSig
        .select(col("doc_id"), col("sig"), explode(array(bandExprs: _*)).as("bucket"))
        .localCheckpoint()
      val a = bands.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("bucket"))
      val b = bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("bucket"))
      a.join(b, Seq("bucket"))
        .where(col("id_a") < col("id_b"))
        // sig_a/sig_b are functionally dependent on (id_a, id_b): group
        // on them too instead of picking with order-nondeterministic
        // first() — same result, explicitly deterministic
        .groupBy("id_a", "id_b", "sig_a", "sig_b")
        .agg(count(lit(1)).as("n_shared_bands"))
        // native agreement kernel: the HOF aggregate(zip_with(...)) form
        // is CodegenFallback and runs per JOIN ROW (kernel #10,
        // graft_sig_agree; HOF form pinned bit-identical in FunctionsSpec)
        .withColumn("est_jaccard", round(
          expr("graft_sig_agree(sig_a, sig_b)").cast("double") / 16.0, 6))
        .select(col("id_a"), col("id_b"), col("n_shared_bands"), col("est_jaccard"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP est-gate: the TEXT twin of the SQ8 in-join gate (VERDICT r8
    // #4) — exact shingle-set Jaccard verification runs ONLY on pairs
    // whose signature-agreement estimate clears a generous margin below
    // the exact threshold. The 16-long signature already rides the band
    // self-join (~128 B/side), so the gate (agree ≥ 4, i.e. est ≥ 0.25 —
    // 2σ under the 0.5 exact threshold at 16 perms) collapses candidates
    // in a codegen filter in the join's output stage, BEFORE the
    // pair-dedup shuffle; only est-survivors pay the two id-joins that
    // fetch their full shingle arrays for the exact intersection. The
    // threshold comparisons are INTEGER on both engines (agree ≥ 4;
    // J ≥ 0.5 ⟺ 3·|A∩B| ≥ |A|+|B|, with |A∩B| ≥ 1 excluding the
    // empty-shingle 0/0 case) — no float boundary can flip a row.
    // The gate's recall bound is PROBABILISTIC, not lossless: a pair
    // whose exact Jaccard sits just above 0.5 clears agree ≥ 4 with
    // P[Binom(16, 0.5) ≤ 3] ≈ 1% worst-case false-drop; measured at
    // sf10 volume it is 1.8e-7 of qualifying pairs (most true pairs sit
    // far above the threshold). Engine parity is exact regardless — the
    // DuckDB oracle applies the identical gate.
    "dedup_minhash_pairs_est" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.shingleHashesFromText("text", 3).as("sh"))
        .localCheckpoint() // ONE tokenize+shingle pass feeds sig AND verify
      // geometry from count(*) (the ann_lsh_autosize rule): the gate and
      // the sizing knob COMPOSE, like the sq8 path — fixed 8×2 coverage
      // stays with dedup_minhash_pairs; num_bands/rows_per_band ride in
      // the output so the sizing decision is hash-pinned
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .select(col("doc_id"), TextFns.minhashSignature("sh", 16).as("sig"))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      val bands = withSig
        .select(col("doc_id"), col("sig"), explode(array(bandExprs: _*)).as("bucket"))
      val a = bands.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("bucket"))
      val b = bands.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("bucket"))
      val survivors = a.join(b, Seq("bucket"))
        .where(col("id_a") < col("id_b"))
        // the gate runs per JOIN ROW, so it must be codegen — the HOF
        // aggregate(zip_with(...)) form is CodegenFallback and its
        // interpreted lambdas dominated the gated path at scale
        // (kernel #10, graft_sig_agree)
        .withColumn("agree", expr("graft_sig_agree(sig_a, sig_b)"))
        .where(col("agree") >= 4) // GATE: survivors ≪ candidates
        .groupBy("id_a", "id_b", "agree")
        .agg(count(lit(1)).as("n_shared_bands"))
      val sa = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val sb = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      survivors.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
        .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("ssum", (size(col("sh_a")) + size(col("sh_b"))).cast("long"))
        .where(col("i") >= 1 && col("i") * 3 >= col("ssum"))
        .select(col("id_a"), col("id_b"), col("n_shared_bands"),
          round(col("agree").cast("double") / 16.0, 6).as("est_jaccard"),
          round(col("i").cast("double") / (col("ssum") - col("i")).cast("double"), 6)
            .as("jaccard"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP guard: hot-bucket cap with ACCOUNTED drops — the occupancy
    // histogram of the minhash band buckets, split by the cap through
    // Ops.capBucketOccupancy (kept side recomputed from the surviving
    // rows, dropped side from the guard's accounting frame — proving
    // both halves), vs DuckDB's plain HAVING split. In-bucket pair work
    // is quadratic in occupancy, so production LSH pipelines run their
    // self-join behind this guard and log the dropped-buckets frame.
    "dedup_bucket_cap_guard" -> ((s, dir) => {
      val withSig = t(s, dir, "documents")
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until 8).map { b =>
        md5(concat_ws("|", col("sig").getItem(b * 2).cast("string"),
          col("sig").getItem(b * 2 + 1).cast("string")))
      }
      val bands = withSig
        .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"))
        .localCheckpoint() // consumed 3x (occupancy + semi-join + drops)
      val (kept, dropped) = Ops.capBucketOccupancy(bands, Seq("bucket"), cap = 2)
      val keptHist = kept.groupBy("bucket")
        .agg(count(lit(1)).as("occupancy"))
        .groupBy("occupancy").agg(count(lit(1)).as("n_buckets"))
        .withColumn("kept", lit(true))
      val dropHist = dropped
        .groupBy("occupancy").agg(count(lit(1)).as("n_buckets"))
        .withColumn("kept", lit(false))
      keptHist.unionByName(dropHist)
    }),

    // DEDUP end-game: LSH candidate pairs are edges of an undirected
    // graph; its connected components are the duplicate clusters, and
    // the min doc_id per cluster is the canonical survivor (the
    // standard corpus-dedup closing step — pair lists alone
    // over-delete when A~B and B~C but A!~C). Components via
    // distributed hash-min label propagation (GraphOps); docs in no
    // pair are their own singleton component.
    "dedup_cc_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withSig = docs
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until 8).map { b =>
        md5(concat_ws("|", col("sig").getItem(b * 2).cast("string"),
          col("sig").getItem(b * 2 + 1).cast("string")))
      }
      val bands = withSig
        .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"))
        .localCheckpoint() // signature scan once, not per join side
      val a = bands.select(col("doc_id").as("src"), col("bucket"))
      val b = bands.select(col("doc_id").as("dst"), col("bucket"))
      // id-only pair dedup: nothing wider than two longs crosses the
      // candidate shuffle
      val pairs = a.join(b, Seq("bucket")).where(col("src") < col("dst"))
        .select("src", "dst").distinct()
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component_id"),
                (col("id") === col("component_id")).as("is_canonical"))
    }),

    // DEDUP at scale, fully composed: AUTO-SIZED banding
    // (TextFns.minhashGeometryFor — the geometry a 100 TB corpus would
    // actually run) → STAR edges → connected components → canonical
    // pick. Two exact scale levers over dedup_cc_canonical:
    //  1. band geometry derived from count(*) instead of fixed 8×2 (the
    //     fixed form's random-collision pair mass is quadratic under
    //     constant geometry — §8.11/§8.12 probes);
    //  2. STAR edge generation: for bucket-closure dedup (two docs are
    //     duplicates iff they share ≥1 band bucket — exactly this
    //     query's semantics, no pair-verification step) connecting each
    //     bucket member to the bucket MINIMUM yields IDENTICAL
    //     connected components to the all-pairs self-join with c−1
    //     edges per bucket instead of c·(c−1)/2 — on ~100-way
    //     duplicated corpora that is ×50 fewer edges, exactly, and the
    //     edge count is bounded by n·bands regardless of skew. (When a
    //     Jaccard-verify step gates edges, the shortcut does NOT apply —
    //     real pairs must be scored; that path is dedup_minhash_pairs /
    //     dedup_embed_lsh_sq8.)
    // The DuckDB mirror re-derives the SAME geometry from count(*) via
    // an integer threshold chain and builds the SAME star edges, so a
    // drift in the sizing rule, the edge rule, or the composed pipeline
    // flips the hash. num_bands/rows_per_band ride along so the sizing
    // decision itself is hash-pinned; GraphOpsSpec pins star ≡ all-pairs
    // component equality on real corpus data.
    "dedup_cc_autosize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val (bands, rows) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until bands).map { b =>
        md5(concat_ws("|",
          (0 until rows).map(r => col("sig").getItem(b * rows + r).cast("string")): _*))
      }
      val bandsDf = withSig
        .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"))
        .localCheckpoint() // signature scan once (bucket-min + join sides)
      val bucketMin = bandsDf.groupBy("bucket").agg(min(col("doc_id")).as("src"))
      val edges = bandsDf.join(bucketMin, Seq("bucket"))
        .where(col("src") < col("doc_id"))
        .select(col("src"), col("doc_id").as("dst")).distinct()
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component_id"),
                (col("id") === col("component_id")).as("is_canonical"))
        .withColumn("num_bands", lit(bands.toLong))
        .withColumn("rows_per_band", lit(rows.toLong))
    }),

    // DEDUP, INCREMENTAL: dedup a batch of NEW documents against an
    // already-deduped corpus — the only affordable daily-ingestion
    // shape at 100 TB (a growing corpus must not re-close itself on
    // every increment). Deterministic split stands in for the two
    // snapshots: existing = doc_id % 4 != 0, new = the rest. The
    // increment's edge set is
    //   (a) the EXISTING assignment as star edges (component → member:
    //       exactly the connectivity already proven, n_old edges — in
    //       production this is the loaded assignment table, recomputed
    //       here so the query is self-contained), plus
    //   (b) star edges over ONLY the band buckets that contain ≥1 NEW
    //       doc (the increment's touch set — an old-only bucket's
    //       connectivity is already inside (a), so it is never
    //       re-paired; per-increment work scales with the new batch,
    //       not the corpus).
    // cc over (a) ∪ (b) handles every incremental case including a new
    // doc BRIDGING two existing components (they merge — plain
    // attach-to-nearest cannot do this), and equals the full-corpus
    // batch closure by construction: GraphOpsSpec pins incremental ≡
    // batch on real corpus buckets, and the DuckDB mirror runs the
    // same two-phase recursion. is_new rides along for the ingestion
    // accounting; num_bands/rows_per_band hash-pin the geometry.
    "dedup_cc_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val (bands, rows) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .withColumn("sig", TextFns.minhashSignatureFromText("text", 3, 16))
      val bandExprs = (0 until bands).map { b =>
        md5(concat_ws("|",
          (0 until rows).map(r => col("sig").getItem(b * rows + r).cast("string")): _*))
      }
      val bandsDf = withSig
        .select(col("doc_id"), explode(array(bandExprs: _*)).as("bucket"),
          (col("doc_id") % 4 === 0).as("is_new"))
        .localCheckpoint() // signature scan once across both phases
      def starEdges(bk: DataFrame): DataFrame = {
        val bmin = bk.groupBy("bucket").agg(min(col("doc_id")).as("src"))
        bk.join(bmin, Seq("bucket"))
          .where(col("src") < col("doc_id"))
          .select(col("src"), col("doc_id").as("dst")).distinct()
      }
      // phase 1 — "yesterday": closure over existing docs only
      val existingIds = docs.where(col("doc_id") % 4 =!= 0)
        .select(col("doc_id").as("id"))
      val assign = graft.operators.GraphOps.connectedComponents(
        existingIds, starEdges(bandsDf.where(!col("is_new"))))
      // phase 2 — the increment, through GraphOps.incrementalComponents:
      // only the components AFFECTED by the touch set re-close (with
      // the affected slice of the assignment as star edges, so a new
      // doc bridging two existing components still merges them);
      // unaffected components pass through untouched. Per-increment
      // work scales with the increment's footprint, not the corpus —
      // row-identical to the full-corpus closure (GraphOpsSpec).
      val touched = bandsDf.where(col("is_new")).select("bucket").distinct()
      val touchedEdges = starEdges(
        bandsDf.join(broadcast(touched), Seq("bucket")).select("doc_id", "bucket"))
      val newIds = docs.where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("id"))
      graft.operators.GraphOps
        .incrementalComponents(assign, newIds, touchedEdges)
        .select(col("id").as("doc_id"), col("component_id"),
          (col("id") === col("component_id")).as("is_canonical"),
          (col("id") % 4 === 0).as("is_new"))
        .withColumn("num_bands", lit(bands.toLong))
        .withColumn("rows_per_band", lit(rows.toLong))
    }),

    // DEDUP with VERIFIED edges: the last missing shape in the family
    // (VERDICT r10 #6). dedup_cc_autosize closes over bucket membership
    // (two docs duplicate iff they SHARE a band bucket — no pair
    // verification, so the star shortcut applies); production dedup at
    // high recall instead requires each edge to pass exact Jaccard
    // before closure, so false bucket collisions cannot glue unrelated
    // clusters together. Composition: auto-sized banding → band
    // self-join → est-gate (graft_sig_agree ≥ 4 in whole-stage codegen,
    // collapsing candidates BEFORE the pair-dedup shuffle) → exact
    // integer-threshold Jaccard on survivors only → connected
    // components over the VERIFIED pairs. The star shortcut does NOT
    // apply here (real pairs must be scored), which is exactly why the
    // est-gate matters: it is what keeps the verify volume affordable
    // at corpus scale. DuckDB mirrors the gated-pairs chain + recursive
    // closure; geometry is hash-pinned via num_bands/rows_per_band.
    "dedup_cc_verified" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.shingleHashesFromText("text", 3).as("sh"))
        .localCheckpoint() // ONE tokenize+shingle pass feeds sig AND verify
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .select(col("doc_id"), TextFns.minhashSignature("sh", 16).as("sig"))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      val bands = withSig
        .select(col("doc_id"), col("sig"), explode(array(bandExprs: _*)).as("bucket"))
      // est-gate (codegen, before the pair-dedup shuffle) + exact
      // J >= 0.5 via the shared library policies (operators/DedupOps)
      val verified = graft.operators.DedupOps.verifiedEdges(
        graft.operators.DedupOps.allPairCandidates(bands),
        docs.select(col("doc_id"), col("sh")))
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), verified)
        .select(col("id").as("doc_id"), col("component_id"),
          (col("id") === col("component_id")).as("is_canonical"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP: INCREMENTAL verified-edge closure — the production
    // high-recall daily tick. Phase 1 ("yesterday", amortized setup):
    // est-gated + exact-Jaccard-verified closure over the existing
    // corpus (doc_id % 4 != 0), exactly dedup_cc_verified restricted.
    // Phase 2 (the tick): candidate pairs INCIDENT TO A NEW DOC only
    // (new docs' band buckets joined back to all members — |new|·bands
    // buckets touched, zero old-old re-verification since those pairs
    // were gated yesterday and nothing about them changed), est-gate in
    // whole-stage codegen before the pair shuffle, exact
    // integer-threshold Jaccard on survivors, then
    // GraphOps.incrementalComponents re-closes ONLY delta-incident
    // components. The DuckDB oracle is the BATCH verified closure over
    // the full corpus, so the oracle row pins the equivalence
    // incremental ≡ batch itself (also spec-pinned engine-side against
    // dedup_cc_verified in DedupSpec).
    "dedup_cc_verified_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.shingleHashesFromText("text", 3).as("sh"),
          (col("doc_id") % 4 === 0).as("is_new"))
        .localCheckpoint() // ONE tokenize+shingle pass feeds sig AND verify, both phases
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .select(col("doc_id"), col("is_new"), TextFns.minhashSignature("sh", 16).as("sig"))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      val bands = withSig
        .select(col("doc_id"), col("sig"), col("is_new"),
          explode(array(bandExprs: _*)).as("bucket"))
        .localCheckpoint() // signature scan once across both phases
      val sh = docs.select(col("doc_id"), col("sh"))
      // phase 1 — yesterday's verified closure over existing docs only
      val assign = graft.operators.GraphOps.connectedComponents(
        docs.where(!col("is_new")).select(col("doc_id").as("id")),
        graft.operators.DedupOps.verifiedEdges(
          graft.operators.DedupOps.allPairCandidates(bands.where(!col("is_new"))), sh))
      // phase 2 — delta candidates: one side NEW, partner from the full
      // bucket membership (DedupOps.incidentCandidates); est-gate +
      // exact verify, then re-close only delta-incident components
      graft.operators.GraphOps
        .incrementalComponents(assign,
          docs.where(col("is_new")).select(col("doc_id").as("id")),
          graft.operators.DedupOps.verifiedEdges(
            graft.operators.DedupOps.incidentCandidates(bands), sh))
        .select(col("id").as("doc_id"), col("component_id"),
          (col("id") === col("component_id")).as("is_canonical"),
          (col("id") % 4 === 0).as("is_new"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP: verified-STAR closure — the O(n·bands)-verification point
    // between dedup_cc_autosize (star edges, no verification: false
    // bucket collisions glue the corpus together) and dedup_cc_verified
    // (all-pairs verification: exact recall, but pair volume is
    // quadratic in duplicate-cluster size — 89.5 s solo at the 500k
    // suffix corpus whose clusters have 100 members). Only the
    // (bucket-min, member) star edges are est-gated and exact-verified:
    // a clique of m true duplicates costs m−1 verifications instead of
    // m(m−1)/2, and its members still merge transitively THROUGH the
    // verified min. Recall loss vs all-pairs is confined to pairs whose
    // every shared bucket has a non-duplicate min (a false collision
    // occupying the min slot in all bands at once) — the multi-band
    // geometry makes that the intersection of b independent events.
    "dedup_cc_verified_star" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.shingleHashesFromText("text", 3).as("sh"))
        .localCheckpoint() // ONE tokenize+shingle pass feeds sig AND verify
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .select(col("doc_id"), TextFns.minhashSignature("sh", 16).as("sig"))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      val bands = withSig
        .select(col("doc_id"), col("sig"), explode(array(bandExprs: _*)).as("bucket"))
      val verified = graft.operators.DedupOps.verifiedEdges(
        graft.operators.DedupOps.starCandidates(bands),
        docs.select(col("doc_id"), col("sh")))
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), verified)
        .select(col("id").as("doc_id"), col("component_id"),
          (col("id") === col("component_id")).as("is_canonical"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP: star + ONE rescue round — the chain-recall repair
    // (VERDICT r13 #4): members whose star edge failed exact verify
    // re-pair with their bucket predecessor and verify once more.
    // Verify volume stays linear in bucket occupancy (< 2× star);
    // recall recovers the chain loss mode (measured: SURVEY §8.17).
    "dedup_cc_verified_star_rescue" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), TextFns.shingleHashesFromText("text", 3).as("sh"))
        .localCheckpoint()
      val n = docs.count()
      val (nBands, rowsPer) = TextFns.minhashGeometryFor(16, n, targetBucketSize = 128)
      val withSig = docs
        .select(col("doc_id"), TextFns.minhashSignature("sh", 16).as("sig"))
      val bandExprs = (0 until nBands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPer).map(r => col("sig").getItem(b * rowsPer + r).cast("string")): _*))
      }
      val bands = withSig
        .select(col("doc_id"), col("sig"), explode(array(bandExprs: _*)).as("bucket"))
      val edges = graft.operators.DedupOps.verifiedStarRescueEdges(
        bands, docs.select(col("doc_id"), col("sh")))
      graft.operators.GraphOps
        .connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component_id"),
          (col("id") === col("component_id")).as("is_canonical"))
        .withColumn("num_bands", lit(nBands.toLong))
        .withColumn("rows_per_band", lit(rowsPer.toLong))
    }),

    // DEDUP: 32-bit SimHash per document (md5-bit voting over tokens).
    "dedup_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFns.simhash32FromText("text").as("simhash"))
    }),

    // A5 end-to-end through the domain HtfAggregator: synthesize a sparse
    // canonical minute frame from events (OHLC of value, volumes, sparse
    // OI snapshots), aggregate to 1h buckets — checks explicit-order
    // first/last, last-non-null snapshots, completeness accounting and
    // in-bucket realized vol against the SQL oracle.
    "htf_aggregate_1h" -> ((s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      val minutes = eventsK(s, dir).groupBy("minute").agg(
        Ops.firstByOrd(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        Ops.lastByOrd(col("value"), ord).as("close"),
        sum(col("value")).as("volume_btc"),
        sum(col("value") * col("k")).as("volume_usdt"),
        count(lit(1)).as("trade_count"),
        max(when(col("event_type") === "view", col("k").cast("double"))).as("oi_contracts"))
        .withColumnRenamed("minute", "timestamp")
      val canonical = graft.operators.MinuteBuilder.finalizeSchema(minutes)
      graft.operators.HtfAggregator
        .aggregateMinutes(canonical, graft.schema.Timeframes.parse("1h"), "EVT")
        .select(col("bucket_start"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"),
          round(col("volume_btc"), 4).as("volume_btc"),
          round(col("vwap"), 4).as("vwap"),
          col("trade_count"), col("observed_minutes_in_bucket"),
          col("missing_minutes_count"), col("bucket_complete"),
          round(col("oi_contracts"), 4).as("oi_contracts"),
          round(col("realized_vol_htf"), 6).as("realized_vol_htf"))
    }),

    // A5/ST6 calendar frames end-to-end (VERDICT r14 #3): weekly
    // (Monday-floor date_trunc) and monthly (day-1 floor, add_months
    // bucket end) buckets through the SAME HtfAggregator machinery as
    // the 1h row. Calendar math is exactly where engines silently
    // disagree (reference `bucketing.py:71-114`, weekly/monthly
    // boundary test `test_aggregator.py:328`), so both frames are
    // oracle-pinned including the month-length-varying
    // expected-minutes completeness accounting.
    "htf_aggregate_1w" -> ((s, dir) => htfCalendarAgg(s, dir, "1w")),
    "htf_aggregate_1mo" -> ((s, dir) => htfCalendarAgg(s, dir, "1M")),

    // A6 end-to-end through the domain QueryAggregator: dense canonical
    // minutes from the spine (zero-filled trade columns, sparse funding
    // snapshots), 15m tumbling aggregation with complete-window gate,
    // trailing-200 tail and CVD (aggregation.py:9-229).
    "qagg_aggregate_15m" -> ((s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      val perMin = eventsK(s, dir).groupBy("minute").agg(
        Ops.firstByOrd(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        Ops.lastByOrd(col("value"), ord).as("close"),
        sum(col("value")).as("volume_btc"),
        sum(col("value") * col("k")).as("volume_usdt"),
        count(lit(1)).as("trade_count"),
        sum(when(col("event_id") % 2 === 0, col("value")).otherwise(-col("value")))
          .as("net_taker_vol_btc"),
        max(when(col("event_type") === "error", col("k").cast("double") / 1000.0))
          .as("funding_rate"))
      val dense = minuteSpine(s, dir)
        .join(perMin, col("m") === col("minute"), "left")
        .drop("minute").withColumnRenamed("m", "timestamp")
        .withColumn("volume_btc", coalesce(col("volume_btc"), lit(0.0)))
        .withColumn("volume_usdt", coalesce(col("volume_usdt"), lit(0.0)))
        .withColumn("trade_count", coalesce(col("trade_count"), lit(0L)))
        .withColumn("net_taker_vol_btc", coalesce(col("net_taker_vol_btc"), lit(0.0)))
      val canonical = graft.operators.MinuteBuilder.finalizeSchema(dense)
      val agg = graft.operators.QueryAggregator.aggregateCanonicalFrame(
        canonical, graft.schema.Timeframes.parse("15m"), limit = 200)
      agg.select(col("timestamp"),
        round(col("open"), 4).as("open"), round(col("close"), 4).as("close"),
        round(col("volume_btc"), 4).as("volume_btc"),
        round(col("vwap_1m"), 4).as("vwap_bar"),
        col("trade_count"),
        round(col("funding_rate"), 6).as("funding_rate"),
        round(col("cvd_btc"), 4).as("cvd_btc"))
    }),

    // The native candle route end-to-end (service.py:1136-1551):
    // 15m "native klines" synthesized from purchase events →
    // nativeKlinesToFrame (vwap/taker derivations, null gates) →
    // enrichment joins (mark/index klines exact-with-one-bar-fallback,
    // funding as-of backward at bar close) → derived/delta fields →
    // tail + serialize, all through the planner-gated service wrapper.
    "native_enrich_route" -> ((s, dir) => {
      import graft.service.{NativeCandles, QueryService}
      val e = eventsK(s, dir)
      val bMs = 900000L // 15m
      // integer division — `/` would be double division (see t())
      val bucketMs = expr(s"unix_millis(ts) div $bMs") * bMs
      val ord = struct(col("ts"), col("event_id"))

      val klines = e.where(col("event_type") === "purchase")
        .withColumn("open_time", bucketMs)
        .groupBy("open_time").agg(
          Ops.firstByOrd(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          Ops.lastByOrd(col("value"), ord).as("close"),
          sum(col("value")).as("volume_btc"),
          sum(col("value") * col("k")).as("volume_usdt"),
          count(lit(1)).as("trade_count"),
          sum(when(col("k") % 2 === 0, col("value")).otherwise(0.0))
            .as("taker_buy_vol_btc"),
          sum(when(col("k") % 2 === 0, col("value") * col("k")).otherwise(0.0))
            .as("taker_buy_vol_usdt"))

      def auxKlines(eventType: String, openCol: String, closeCol: String) =
        e.where(col("event_type") === eventType)
          .withColumn("open_time", bucketMs)
          .groupBy("open_time").agg(
            Ops.firstByOrd(col("value"), ord).as(openCol),
            Ops.lastByOrd(col("value"), ord).as(closeCol))

      val funding = Ops.dedupKeepLast(
        e.where(col("event_type") === "error" && col("k").isNotNull)
          .select(unix_millis(col("ts")).as("funding_time"),
            (col("k").cast("double") / 10000.0).as("funding_rate"),
            col("event_id")),
        Seq("funding_time"), Seq(col("event_id"))).drop("event_id")

      val aux = NativeCandles.AuxSeries(
        markPriceKlines = Some(auxKlines("view", "mark_price_open", "mark_price_close")),
        indexPriceKlines = Some(auxKlines("click", "index_price_open", "index_price_close")),
        fundingRate = Some(funding))
      val bars = QueryService.nativeCandleBars(klines, aux, "15m", limit = 200).frame
      bars.select(col("timestamp"),
        round(col("open"), 4).as("open"), round(col("close"), 4).as("close"),
        round(col("volume_btc"), 4).as("volume_btc"),
        round(col("vwap_bar"), 4).as("vwap_bar"),
        col("trade_count"),
        round(col("taker_buy_ratio"), 6).as("taker_buy_ratio"),
        round(col("net_taker_vol_btc"), 4).as("net_taker_vol_btc"),
        round(col("mark_price_close"), 4).as("mark_price_close"),
        round(col("index_price_close"), 4).as("index_price_close"),
        round(col("premium_index"), 6).as("premium_index"),
        round(col("funding_rate"), 6).as("funding_rate"),
        round(col("delta_funding_rate"), 6).as("delta_funding_rate"),
        round(col("realized_vol_bar"), 6).as("realized_vol_bar"))
    }),

    // ANN scale path: random-hyperplane LSH bucketing — md5-derived
    // deterministic planes riding in one broadcast row (plan O(1) in
    // dim×planes), sign-bit bucket id per vector; bucket-equality joins
    // replace the O(n²) brute-force pass at 100 TB.
    "ann_lsh_bucket" -> ((s, dir) => {
      VectorFns.withHyperplaneBucket(
        t(s, dir, "embeddings"), "embedding", "bucket", dim = 64, numPlanes = 8)
        .select("vec_id", "bucket")
    }),

    // ANN scale knob as CODE: the plane count comes from the corpus
    // count via VectorFns.planesFor (ceil-log2 sizing rule), so the
    // same query keeps ~128-row buckets at EVERY scale factor — 2
    // planes at sf0.01, 6 at sf0.1, 9 at sf1 (inside the manual §8.10
    // probe's measured-linear 8-10 band). One scalar count crosses the
    // driver (the sizing input, not data). Output pins the CHOSEN
    // count plus the full bucket→occupancy histogram under it; the
    // oracle derives the same count from count(*) with the same rule
    // (both sides ceil-log2 over an integer bucket count, exact at
    // powers of two, so the choice can't diverge on an ulp).
    "ann_lsh_autosize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = emb.count()
      val planes = VectorFns.planesFor(n, targetBucketSize = 128, maxPlanes = 24)
      VectorFns.withHyperplaneBucket(emb, "embedding", "bucket",
          dim = 64, numPlanes = planes)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .withColumn("num_planes", lit(planes.toLong))
        .withColumn("n_vectors", lit(n))
    }),

    // IVF trainer: deterministic Lloyd's k-means over the embedding
    // table (k=4, 2 iterations, md5-seeded, stable-rounded distances
    // and centroids so assignments are engine-reproducible). Output is
    // integer-only per-cluster membership accounting — the strongest
    // assignment check with zero float-output surface.
    "ivf_kmeans_train" -> ((s, dir) => {
      val (assigned, _) = VectorFns.kmeansLloyd(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, iters = 2, dim = 64)
      // long cluster ids — DuckDB's row_number arithmetic yields BIGINT
      assigned.groupBy(col("cluster").cast("long").as("cluster")).agg(
        count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("vec_id")).as("sum_vec_id"))
    }),

    // IVF trainer at REAL k: same deterministic Lloyd's but k=64 over a
    // 32-dim slice — proves the assignment pass is O(1) in k at the
    // plan level (centroids are a broadcast relation, not inlined
    // literals; see VectorFns.assignClusters). Same integer-only
    // membership accounting as ivf_kmeans_train.
    "ivf_kmeans_train_k64" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("emb32", slice(col("embedding"), 1, 32))
      val (assigned, _) = VectorFns.kmeansLloyd(
        emb, "vec_id", "emb32", k = 64, iters = 2, dim = 32)
      assigned.groupBy(col("cluster").cast("long").as("cluster")).agg(
        count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        sum(col("vec_id")).as("sum_vec_id"))
    }),

    // IVF at 100 TB: train on a SAMPLE, assign the full corpus — the
    // correct scale split for Lloyd's (per-pass cost follows training
    // rows; assignment is one broadcast-centroid scan over everything).
    // The sample is a deterministic md5-hash 1-in-4 slice (engine-
    // portable, no RNG), training is the same kmeansLloyd, and the
    // full-corpus assignment goes through assignWithCentroids — the
    // exact pass kmeansLloyd ends with. Integer-only membership
    // accounting, as ivf_kmeans_train.
    "ivf_kmeans_sample_train" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sampled = emb.where(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 4 === 0)
      val (_, centroids) = VectorFns.kmeansLloyd(
        sampled, "vec_id", "embedding", k = 4, iters = 2, dim = 64)
      VectorFns.assignWithCentroids(emb, "embedding", centroids)
        .groupBy(col("cluster").cast("long").as("cluster")).agg(
          count(lit(1)).as("n_members"),
          min(col("vec_id")).as("min_vec_id"),
          max(col("vec_id")).as("max_vec_id"),
          sum(col("vec_id")).as("sum_vec_id"))
    }),

    // ANN, INCREMENTAL: the IVF index's daily tick. A 100 TB embedding
    // corpus cannot re-assign itself on every ingest; the affordable
    // tick is: keep yesterday's centroids (retrain on drift is a
    // scheduled, rarer event), push ONLY the new vectors through the
    // broadcast-centroid assignment (|new| rows, zero corpus scan),
    // and MERGE the delta into yesterday's per-cluster accounting —
    // count/sum add, min/max fold, all mergeable aggregates, the same
    // algebra a partial-aggregate shuffle uses. Deterministic split
    // stands in for the two snapshots: existing = vec_id % 4 != 0,
    // new = the rest; centroids sample-train on existing (production
    // loads them — recomputed here so the query is self-contained, as
    // dedup_cc_incremental's phase 1). Incremental ≡ one-shot full
    // assignment with the same centroids holds by pointwise-assignment
    // identity PLUS merge correctness — the DuckDB oracle computes the
    // one-shot form, so a drift in either flips the hash. n_new rides
    // along so the tick's ingestion accounting is itself pinned.
    "ann_ivf_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val existing = emb.where(col("vec_id") % 4 =!= 0)
      val newVecs = emb.where(col("vec_id") % 4 === 0)
      val sampled = existing.where(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 4 === 0)
      val (_, centroids) = VectorFns.kmeansLloyd(
        sampled, "vec_id", "embedding", k = 4, iters = 2, dim = 64)
      def stats(df: DataFrame, isNew: Boolean) =
        VectorFns.assignWithCentroids(df, "embedding", centroids)
          .groupBy(col("cluster").cast("long").as("cluster")).agg(
            count(lit(1)).as("n_members"),
            min(col("vec_id")).as("min_vec_id"),
            max(col("vec_id")).as("max_vec_id"),
            sum(col("vec_id")).as("sum_vec_id"),
            (if (isNew) count(lit(1)) else lit(0L)).as("n_new"))
      // yesterday's index accounting — construction cost here,
      // a loaded table in production
      val yesterday = stats(existing, isNew = false)
      // the tick: assign the increment, merge mergeable stats
      val delta = stats(newVecs, isNew = true)
      yesterday.unionByName(delta).groupBy("cluster").agg(
        sum(col("n_members")).as("n_members"),
        min(col("min_vec_id")).as("min_vec_id"),
        max(col("max_vec_id")).as("max_vec_id"),
        sum(col("sum_vec_id")).as("sum_vec_id"),
        sum(col("n_new")).as("n_new"))
    }),

    // ANN scale path #2: IVF-style probing — per-label centroids
    // (element-wise mean via posexplode + two-level agg), each query
    // probes its nearest centroid by cosine and ranks only that
    // cluster's members: the candidate set shrinks from N to N/k.
    "ann_ivf_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val dims = emb.select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("label", "d").agg(avg(col("v").cast("double")).as("cv"))
      val centroids = dims.groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)").as("cvec"))
        .select(col("label").as("c_label"), col("cvec"))
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // probe: nearest centroid per query (broadcast 10 centroids)
      val probed = q.join(broadcast(centroids))
        .withColumn("ccos", VectorFns.cosine("q_emb", "cvec"))
      val wP = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_label").asc)
      val assigned = probed.withColumn("r", row_number().over(wP)).where(col("r") === 1)
        .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"))
      // rank within the probed cluster only
      val cand = emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("embedding").as("n_emb"))
      val scored = assigned.join(cand,
          col("probe_label") === col("n_label") && col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFns.cosine("q_emb", "n_emb"))
      val wN = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      scored.withColumn("rank", row_number().over(wN)).where(col("rank") <= 3)
        .select(col("q_id"), col("probe_label"), col("n_id"),
          round(col("cos"), 4).as("cos"), col("rank"))
    }),

    // ANN: multi-probe IVF recall accounting — real IVF probes the
    // nprobe nearest centroids, not one, to recover the neighbors a
    // single cell loses at its boundary. recall@5 of nprobe=1 vs
    // nprobe=4 vs the exact scan, ann_lsh_recall's pattern: ONE scored
    // pass feeds the truth ranking and both probe rankings (each probe
    // set is a filter over the same frame), so widening nprobe costs a
    // bigger candidate filter, not another scan. At 100 TB the scored
    // pass itself is restricted to probed cells first (as in
    // ann_ivf_probe); scoring all candidates here is what lets the
    // SAME frame also produce the exact-truth baseline being measured
    // against.
    "ann_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", VectorFns.l2Norm("embedding"))
      val dims = emb.select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("label", "d").agg(avg(col("v").cast("double")).as("cv"))
      val centroids = dims.groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(d, cv))), x -> x.cv)").as("cvec"))
        .select(col("label").as("c_label"), col("cvec"))
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      // centroid ranking per query (broadcast of ~10 centroids)
      val wP = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_label").asc)
      val probes = q.join(broadcast(centroids))
        .withColumn("ccos", VectorFns.dot("q_emb", "cvec") /
          (col("q_nrm") * VectorFns.l2Norm("cvec")))
        .withColumn("cr", row_number().over(wP))
        .where(col("cr") <= 4)
        // p_qid, not q_id: probes shares lineage with scored below, so
        // the semi-join keys must be name-disjoint to stay unambiguous
        .select(col("q_id").as("p_qid"), col("c_label"), col("cr"))
      val cand = emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      // Score ONCE (r20, guide §1.2/§2.4): truth and both probe
      // evaluations previously each re-ran the q × N dot-product pass —
      // the query's whole cost — behind two semi-joins. The probe list
      // is unique per (q_id, label), so a broadcast left join attaches
      // each neighbor's centroid rank (`mcr`) in the same pass, the
      // semi-joins become filters over it, and the vectors are dropped
      // before the checkpoint pins the (q_id, n_id, cos, mcr) table the
      // three rankings share.
      val scored = q.join(cand, col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFns.dot("q_emb", "n_emb") / (col("q_nrm") * col("n_nrm")))
        .join(broadcast(probes),
          col("q_id") === col("p_qid") && col("n_label") === col("c_label"),
          "left")
        .select(col("q_id"), col("n_id"), col("cos"), col("cr").as("mcr"))
        .localCheckpoint()
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      val truth = scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5).select(col("q_id"), col("n_id"))
      def approxTop5(nprobe: Int): DataFrame = scored
        .where(col("mcr") <= nprobe)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5).select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth
        .join(broadcast(approxTop5(1).withColumnRenamed("hit", "hit1")),
          Seq("q_id", "n_id"), "left")
        .join(broadcast(approxTop5(4).withColumnRenamed("hit", "hit4")),
          Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit1"), lit(0L))).as("n_hit_p1"),
          sum(coalesce(col("hit4"), lit(0L))).as("n_hit_p4"))
        .withColumn("recall_p1",
          round(col("n_hit_p1").cast("double") / col("n_true"), 6))
        .withColumn("recall_p4",
          round(col("n_hit_p4").cast("double") / col("n_true"), 6))
    }),

    // W8: TradingView EMA (SMA seed + recursive blend) over the daily
    // revenue series via a Catalyst higher-order fold — no UDAF.
    "ema_daily_revenue" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("day"))
        .agg(sum(col("o_totalprice")).as("rev"))
      graft.operators.Indicators.withEma(daily, "rev", 10, orderCol = "day")
        .select(col("day"), round(col("rev"), 2).as("rev"),
                round(col("ema"), 4).as("ema"))
    }),

    // Multimodal: opaque binary column + deterministic metadata
    // derivation (the expression-level half of the pipeline; the
    // mapPartitions decode stub is exercised in MultimodalSpec).
    "mm_binary_meta" -> ((s, dir) => {
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).as("n_bytes"),
          (lit(64L) + h % 1857L).as("width"),
          (lit(64L) + (h / 2048L).cast("long") % 1081L).as("height"))
        .withColumn("n_pixels", col("width") * col("height"))
    }),

    // MM: REAL PNG header decode — per doc, synthesize spec-conformant
    // PNG bytes (signature + IHDR + IEND, CRCs real) with md5-derived
    // dimensions, then parse them BACK through the byte-level header
    // reader on executors; the oracle predicts the same dims
    // arithmetically. Proves the decode path end-to-end: synth →
    // binary column → partition-batched parse → typed metadata.
    "mm_decode_png_header" -> ((s, dir) => {
      import s.implicits._
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      val dims = t(s, dir, "documents")
        .select(col("doc_id"), (lit(1L) + h % 1023L).as("w"),
          (lit(1L) + (h / 4096L).cast("long") % 767L).as("hh"))
        .as[(Long, Long, Long)]
      val recs = dims.map { case (id, w, hh) =>
        Multimodal.MediaRecord(id, Multimodal.Synth.png(w.toInt, hh.toInt), "image/png")
      }
      Multimodal.decodeMeta(recs).toDF()
        .select(col("media_id").as("doc_id"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"), col("ok"))
    }),

    // J3: as-of alignment at BAR CLOSE (alignment.py:37-110, call site
    // service.py:1477-1488) — each hourly bar picks up the last purchase
    // value at-or-before bar_open + 1h (so in-bar events are visible),
    // unbounded backward.
    "j3_align_close" -> ((s, dir) => {
      val purchases = Ops.dedupKeepLast(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        Seq("ts"), Seq(col("event_id")))
        .select(col("ts"), col("value").as("close_value"))
      AlignSeries.align(hourSpine(s, dir), purchases, "h", "ts",
          Seq("close_value"), AlignSeries.Mode.AsofBackward,
          alignAtBarClose = true, barMs = 3600L * 1000)
        .select(col("h"), round(col("close_value"), 4).as("close_value"))
    }),

    // J5: exact-timestamp alignment with bucket normalization
    // (alignment.py:77-78) — series timestamps floored to the hour
    // bucket, keep-last per bucket, left equi-join onto the bar frame.
    "j5_align_exact" -> ((s, dir) => {
      val purchases = Ops.dedupKeepLast(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        Seq("ts"), Seq(col("event_id")))
        .select(col("ts"), col("value").as("snap_value"))
      AlignSeries.align(hourSpine(s, dir), purchases, "h", "ts",
          Seq("snap_value"), AlignSeries.Mode.Exact, barMs = 3600L * 1000)
        .select(col("h"), round(col("snap_value"), 4).as("snap_value"))
    }),

    // A8: indicator OHLC aggregation (live_indicators/aggregation.py:
    // 22-75) — per-minute bars with SPARSE open/close (only 'view'
    // events carry them), 15m buckets with first/last NON-NULL open/
    // close, completeness + all-non-null gates and the end-exclusive
    // bound that drops the partial trailing period.
    "a8_indicator_ohlc" -> ((s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      val vv = when(col("event_type") === "view", col("value"))
      val perMin = eventsK(s, dir).groupBy("minute").agg(
        Ops.firstNonNullByOrd(vv, ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        Ops.lastNonNullByOrd(vv, ord).as("close"))
      // DENSE frame (spine left-join): the completeness gate counts
      // minutes-in-bucket, so a sparse frame would gate every bucket out
      val minutes = minuteSpine(s, dir)
        .join(perMin, col("m") === col("minute"), "left")
        .drop("minute").withColumnRenamed("m", "timestamp")
      val endTime = t(s, dir, "events").agg(max(col("ts")))
        .first().getTimestamp(0).toInstant
      graft.operators.Indicators
        .aggregateOhlcBars(minutes, graft.schema.Timeframes.parse("15m"), endTime)
        .select(col("timestamp"),
          round(col("open"), 4).as("open"), round(col("high"), 4).as("high"),
          round(col("low"), 4).as("low"), round(col("close"), 4).as("close"))
    }),

    // Indicators: traditional pivot points from the PREVIOUS day's
    // H/L/C (live_indicators/pivots.py:4-12).
    "ind_pivot_points" -> ((s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      val daily = t(s, dir, "events")
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy("day")
        .agg(max(col("value")).as("high"), min(col("value")).as("low"),
             Ops.lastByOrd(col("value"), ord).as("close"))
      val w = Window.orderBy("day")
      val prev = daily.select(col("day"),
        lag(col("high"), 1).over(w).as("ph"),
        lag(col("low"), 1).over(w).as("pl"),
        lag(col("close"), 1).over(w).as("pc"))
      val pivots = graft.operators.Indicators.pivotPoints(col("ph"), col("pl"), col("pc"))
      prev.select(col("day") +: pivots.map { case (n, c) => round(c, 4).as(n) }: _*)
    }),

    // DEDUP: embedding-cosine near-dup pairs — label-blocked (IVF-style
    // blocking: candidates only within a cluster, so the pair count per
    // block stays bounded at scale), exact cosine within the block.
    "dedup_embed_cosine" -> ((s, dir) => {
      // norms are per-VECTOR, computed before the pair join (per-pair
      // cosine would recompute both norms for every candidate pair)
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", VectorFns.l2Norm("embedding"))
      val a = emb.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = emb.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, Seq("label"))
        .where(col("id_a") < col("id_b"))
        .withColumn("cos",
          round(VectorFns.dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 5))
        .where(col("cos") >= 0.42)
        .select(col("label"), col("id_a"), col("id_b"), col("cos"))
    }),

    // DEDUP at 100 TB: near-dup pairs through LSH band buckets instead
    // of label blocks — 2 bands × 4 hyperplanes, candidates = same-band
    // same-bucket pairs (union of bands, deduped), exact cosine on the
    // candidates only. The label-blocked variant (dedup_embed_cosine)
    // stays as the small-scale exact baseline; this is the plan whose
    // candidate count stays bounded as the table grows.
    "dedup_embed_lsh" -> ((s, dir) => {
      // candidate generation is IDS-ONLY: the band-bucket self-join and
      // the pair dedup shuffle two longs per row — re-attaching the two
      // 64-dim embeddings happens AFTER dedup via two equi-joins back to
      // the vector table (~30x fewer shuffle bytes than deduping pairs
      // with embeddings attached)
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", VectorFns.l2Norm("embedding"))
      val ids = Seq(11, 23).zipWithIndex.map { case (seed, bi) =>
        VectorFns.withHyperplaneBucket(
          t(s, dir, "embeddings"), "embedding", "bucket",
          dim = 64, numPlanes = 4, seed = seed)
          .select(col("vec_id"), lit(bi).as("band"), col("bucket"))
      }.reduce(_ unionByName _)
        .localCheckpoint() // bucket scan once, not per join side
      val pairs = ids.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(ids.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .where(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .select("id_a", "id_b")
      pairs
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
          col("nrm").as("nrm_a")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
          col("nrm").as("nrm_b")), Seq("id_b"))
        .withColumn("cos",
          round(VectorFns.dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 5))
        .where(col("cos") >= 0.42)
        .select(col("id_a"), col("id_b"), col("cos"))
    }),

    // DEDUP: the PRODUCTION embedding near-dup stack — auto-sized LSH
    // geometry composed with an SQ8 shortlist gate. Two levers, both
    // proven separately and composed here:
    //  1. planesFor(count, 128) sizes the hyperplane count to the
    //     corpus (the ann_lsh_autosize rule) — the fixed 2-band×4-plane
    //     dedup_embed_lsh spreads any corpus over 16 buckets/band, so
    //     its candidate volume grows quadratically (≈1.5·10⁸ pairs at
    //     sf1; measured: candidate VOLUME, not scoring width, is the
    //     whole tail — swapping the scorer alone was a wash).
    //  2. packed 8-bit codes (graft_sq8_pack → 64 bytes;
    //     graft_sq8_dot → one integer byte-loop) ride THROUGH the
    //     bucket self-join, so the loose dequantized-cosine gate (0.40,
    //     below the 0.42 exact gate) runs INSIDE the join's output
    //     stage — candidates collapse in a codegen filter BEFORE any
    //     shuffle, and only est-survivors (tiny) are deduped and
    //     exact-re-ranked. dedup_embed_lsh must instead dropDuplicates
    //     the full pair list first (embeddings are 8× wider than codes,
    //     so attaching them to the join was never affordable).
    // Gate-then-distinct ≡ distinct-then-gate for a deterministic
    // per-pair score, so the DuckDB mirror keeps the readable
    // distinct-first form; it re-derives the SAME plane count from
    // count(*) and gates 12 generated plane terms on p < planes (the
    // ann_lsh_autosize technique), and num_planes rides in the output
    // so the sizing decision is hash-pinned. The estimate needs no
    // per-pair doubles: dequantized cosine expands algebraically to
    //   (64·mnₐ·mn_b + mnₐ·sc_b·Σq_b + mn_b·scₐ·Σqₐ + scₐ·sc_b·⟨qₐ,q_b⟩)
    //     / (qnrmₐ·qnrm_b)
    // — per-vector scalars plus ONE integer dot, mirrored in the
    // identical operation order.
    "dedup_embed_lsh_sq8" -> ((s, dir) => {
      val nVec = t(s, dir, "embeddings").count()
      // maxPlanes must stay >= the rule's demand through the measured
      // decades: the earlier 12-plane clamp (an oracle-codegen
      // convenience) BOUND at 2M vectors — the rule wants 14, the clamp
      // froze bucket count at 4096, per-bucket occupancy grew ~4x past
      // the 128 target and candidate volume went quadratic (measured:
      // 16.3 s at 200k vectors -> 482 s at 2M, exponent 1.47; with the
      // clamp at 24 the same run is linear-in-n again). 24 covers
      // ~2 billion vectors at the 128 target.
      val planes = VectorFns.planesFor(nVec, targetBucketSize = 128, maxPlanes = 24)
      val enc = t(s, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mn", array_min(col("emb")))
        .withColumn("mx", array_max(col("emb")))
        .withColumn("sc", (col("mx") - col("mn")) / 255.0)
        .withColumn("codes", expr(
          "transform(emb, x -> CASE WHEN mx = mn THEN 0L ELSE " +
            "least(255L, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT)) END)"))
        .withColumn("packed", expr("graft_sq8_pack(codes)"))
        .withColumn("sumq", expr("aggregate(codes, 0L, (a, q) -> a + q)"))
        .withColumn("qnrm", sqrt(expr(
          "aggregate(codes, 0.0d, (a, q) -> a + (mn + q * sc) * (mn + q * sc))")))
        .select(col("vec_id"), col("mn"), col("sc"), col("packed"),
          col("sumq"), col("qnrm"))
      val ids = Seq(11, 23).zipWithIndex.map { case (seed, bi) =>
        VectorFns.withHyperplaneBucket(
          t(s, dir, "embeddings"), "embedding", "bucket",
          dim = 64, numPlanes = planes, seed = seed)
          .select(col("vec_id"), lit(bi).as("band"), col("bucket"))
      }.reduce(_ unionByName _)
      // codes + scalars join the band rows BEFORE the self-join: each
      // side of the bucket join carries ~100 bytes, and the join output
      // feeds the gate without materializing anywhere
      val banded = ids.join(enc, Seq("vec_id")).localCheckpoint()
      val a = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"),
        col("packed").as("pk_a"), col("mn").as("mn_a"), col("sc").as("sc_a"),
        col("sumq").as("sq_a"), col("qnrm").as("qn_a"))
      val b = banded.select(col("band"), col("bucket"), col("vec_id").as("id_b"),
        col("packed").as("pk_b"), col("mn").as("mn_b"), col("sc").as("sc_b"),
        col("sumq").as("sq_b"), col("qnrm").as("qn_b"))
      val shortlist = a.join(b, Seq("band", "bucket"))
        .where(col("id_a") < col("id_b"))
        .withColumn("iscore", expr("graft_sq8_dot(pk_a, pk_b)"))
        .withColumn("est", round(
          (lit(64.0) * col("mn_a") * col("mn_b")
            + col("mn_a") * col("sc_b") * col("sq_b").cast("double")
            + col("mn_b") * col("sc_a") * col("sq_a").cast("double")
            + col("sc_a") * col("sc_b") * col("iscore").cast("double"))
            / (col("qn_a") * col("qn_b")), 5))
        .where(col("est") >= 0.40)
        .dropDuplicates("id_a", "id_b")
        .select("id_a", "id_b")
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", VectorFns.l2Norm("embedding"))
      shortlist
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
          col("nrm").as("nrm_a")), Seq("id_a"))
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
          col("nrm").as("nrm_b")), Seq("id_b"))
        .withColumn("cos",
          round(VectorFns.dot("emb_a", "emb_b") / (col("nrm_a") * col("nrm_b")), 5))
        .where(col("cos") >= 0.42)
        .select(col("id_a"), col("id_b"), col("cos"))
        .withColumn("num_planes", lit(planes.toLong))
    }),

    // ANN: brute-force cosine top-k — query set (vec_id < 10) broadcast
    // against the full embedding table; one narrow pass + per-query
    // top-k (the baseline; LSH/IVF prune candidates at scale).
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("nrm", VectorFns.l2Norm("embedding"))
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val cand = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
      val scored = q.join(cand, col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFns.dot("q_emb", "n_emb") / (col("q_nrm") * col("n_nrm")))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("n_id"), round(col("cos"), 5).as("cos"), col("rank"))
    }),

    // TXT: per-document top-terms by TF-IDF and BM25 (k1=1.2, b=0.75) —
    // the relevance-scoring primitive behind quality-targeted sampling.
    // Shape at 100 TB: one explode→partial-agg for TF, a term-keyed agg
    // for DF (Zipf-skewed keys absorbed map-side), corpus stats ride a
    // broadcast single-row frame, and the final top-k is a per-doc
    // window — no global sort anywhere.
    "txt_tfidf_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE explode→agg pass over the text; dl and the corpus stats are
      // DERIVED FROM tf (dl = per-doc window sum of tf, avgdl =
      // total/n_docs — every doc yields ≥1 token row, so countDistinct
      // equals the doc count) instead of re-splitting text. Computing
      // size(split) in the same projection as the explode would be
      // substituted ABOVE the Generate and re-run the regex split per
      // exploded token — 6x the query's useful work (TextFns `bound`).
      val tf = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = tf
        .agg(countDistinct(col("doc_id")).cast("double").as("n_docs"),
             sum(col("tf")).as("total_tokens"))
        .select(col("n_docs"),
          (col("total_tokens").cast("double") / col("n_docs")).as("avgdl"))
      // all scoring math in DOUBLE with explicit association so DuckDB
      // reproduces the exact bit pattern: ((idf*(tf*2.2)) / (tf + 1.2*(0.25+(0.75*dl)/avgdl)))
      val scored = tf.join(dfT, Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
        .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
        .withColumn("idf_bm25",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("bm25",
          col("idf_bm25") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
          col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"), round(col("bm25"), 6).as("bm25"))
    }),

    // TXT: benchmark decontamination — flag training documents sharing
    // any 4-gram with the held-out eval set (doc_id % 25 == 0 plays the
    // benchmark). The eval side's distinct gram hashes are tiny relative
    // to the corpus → BROADCAST left join; the 100 TB train side streams
    // through without shuffling text, and the per-doc rollup carries two
    // longs. Grams travel as 60-bit md5 hashes, not strings.
    "txt_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalGrams = docs.where(col("doc_id") % 25 === 0)
        .select(explode(TextFns.shingleHashesFromText("text", 4)).as("g"))
        .distinct()
        .withColumn("hit", lit(1L))
      // n_grams = count of exploded rows (the hash array is distinct) —
      // a size(gs) column beside the explode would be substituted above
      // the Generate and re-run the whole md5 shingle chain per row
      val train = docs.where(col("doc_id") % 25 =!= 0)
        .select(col("doc_id"),
          explode(TextFns.shingleHashesFromText("text", 4)).as("g"))
      train.join(broadcast(evalGrams), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
             sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
        .withColumn("contaminated", col("n_matched") > 0)
    }),

    // TXT: Gopher-style repetition rules (Rae et al. 2021 §A1.1 family,
    // adapted to token n-grams): duplicate-word fraction, most-frequent-
    // bigram fraction, duplicate-bigram fraction. keep decided on
    // UNROUNDED values; thresholds picked to split the corpus. The
    // unigram metric is a pure expression (no shuffle); bigram counts
    // take one explode→two-level agg keyed by doc.
    "txt_repetition_rules" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("n_words", size(col("toks")).cast("long"))
        .withColumn("dup_word_frac",
          lit(1.0) - size(array_distinct(col("toks"))).cast("double") / col("n_words"))
      // total bigrams per doc = sum of per-bigram counts (= n_words-1),
      // so the exploded branch never carries n_words — a size(toks)
      // column beside the explode would re-split the text per bigram row
      val bi = docs
        .select(col("doc_id"),
          explode(TextFns.ngramsFromTokens("toks", 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_c"), count(lit(1)).as("n_distinct_bg"),
             sum(col("c")).as("n_bg"))
        .select(col("doc_id"),
          (col("top_c").cast("double") / col("n_bg")).as("top_bigram_frac"),
          (lit(1.0) - col("n_distinct_bg").cast("double") / col("n_bg"))
            .as("dup_bigram_frac"))
      docs.select(col("doc_id"), col("n_words"), col("dup_word_frac"))
        .join(bi, Seq("doc_id"))
        .select(col("doc_id"), col("n_words"),
          round(col("dup_word_frac"), 6).as("dup_word_frac"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac"),
          round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"),
          (col("dup_word_frac") <= 0.55 && col("top_bigram_frac") <= 0.06).as("keep"))
    }),

    // TXT: sequence packing, concat-and-cut accounting (GPT-style: docs
    // concatenated per source in doc_id order, cut every 256 tokens; a
    // doc may span packs). One window cumsum per source gives each doc
    // its token offset; the explode is bounded by tokens/256; every
    // value is integer so both engines agree exactly. Per-pack rollup:
    // contributing docs + fill (== 256 except each source's last pack).
    "txt_pack_sequences" -> ((s, dir) => {
      val C = 256L
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .withColumn("tok", size(TextFns.tokens(col("text"))).cast("long"))
        .withColumn("end_off", sum(col("tok")).over(w))
        .withColumn("start_off", col("end_off") - col("tok"))
        .select(col("source"), col("doc_id"), col("start_off"), col("end_off"),
          explode(sequence(expr(s"start_off div $C"), expr(s"(end_off - 1) div $C")))
            .as("pack_id"))
        .withColumn("fill",
          least(col("end_off"), (col("pack_id") + 1) * C) -
            greatest(col("start_off"), col("pack_id") * C))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("fill")).as("pack_tokens"),
             min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    }),

    // MM: uniform video-frame sampling over an opaque binary column —
    // the Spark-side plumbing of a frame-extract stage: typed metadata
    // (dims/duration/fps derived deterministically from the content
    // hash, standing in for a real probe), k=4 evenly spaced frame
    // indices via integer math, and the byte offset each decode worker
    // would seek to (row-major RGB24). Pure expressions + one bounded
    // explode; the actual pixel decode stays in Multimodal.decodeStub.
    "mm_frame_sample" -> ((s, dir) => {
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"),
          (lit(64L) + h % 1857L).as("width"),
          (lit(64L) + (h / 2048L).cast("long") % 1081L).as("height"),
          (lit(1000L) + h % 29000L).as("duration_ms"),
          when(h % 2 === 0, lit(24L)).otherwise(lit(30L)).as("fps"))
        .withColumn("n_frames", expr("duration_ms * fps div 1000"))
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          explode(sequence(lit(0L), lit(3L))).as("slot"))
        .withColumn("frame_idx", expr("slot * (n_frames - 1) div 3"))
        .withColumn("byte_offset", col("frame_idx") * col("width") * col("height") * 3)
        .select("doc_id", "slot", "frame_idx", "byte_offset")
    }),

    // ANN: recall@5 of the single-band LSH index vs the exact scan —
    // the "measure, don't guess" accounting every approximate index
    // needs before it replaces brute force. One scored pass feeds BOTH
    // rankings (truth = full scan, approx = same-bucket candidates, a
    // filter over the same frame), so the measurement costs one extra
    // window, not a second scan.
    "ann_lsh_recall" -> ((s, dir) => {
      val emb = VectorFns.withHyperplaneBucket(
        t(s, dir, "embeddings").withColumn("nrm", VectorFns.l2Norm("embedding")),
        "embedding", "bucket", dim = 64, numPlanes = 8)
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      val cand = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"), col("bucket").as("n_bucket"))
      // one scored pass PINNED (r20): truth and approx are two windows
      // over the same frame, but without the checkpoint each ranking
      // re-ran the q × N dot-product join; vectors are dropped first so
      // the pinned table is (q_id, n_id, cos, same_bucket)
      val scored = q.join(cand, col("q_id") =!= col("n_id"))
        .withColumn("cos", VectorFns.dot("q_emb", "n_emb") / (col("q_nrm") * col("n_nrm")))
        .select(col("q_id"), col("n_id"), col("cos"),
          (col("q_bucket") === col("n_bucket")).as("same_bucket"))
        .localCheckpoint()
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      val truth = scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5).select(col("q_id"), col("n_id"))
      val approx = scored.where(col("same_bucket"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5).select(col("q_id"), col("n_id"))
        .withColumn("hit", lit(1L))
      truth.join(broadcast(approx), Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"),
             sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_true"), 6))
    }),

    // TXT: language-ID confusion matrix — the per-language quality
    // accounting over the langid heuristic (which cells leak where);
    // one narrow two-key aggregation.
    "txt_langid_confusion" -> ((s, dir) => {
      val langs = Seq(
        "en" -> Seq("the", "and", "of", "to", "is"),
        "de" -> Seq("der", "die", "und", "nicht", "ist"),
        "fr" -> Seq("le", "la", "et", "les", "des"),
        "es" -> Seq("el", "los", "las", "una", "y"))
      t(s, dir, "documents")
        .select(col("lang"), TextFns.langIdExpr("text", langs).as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
    }),

    // TXT: rolling-hash (Rabin–Karp) fingerprint — ORDER-sensitive
    // token-sequence fingerprint (the md5 variant only normalizes
    // whitespace/case), plus the 16-token PREFIX fingerprint (the
    // windowed form that catches shared openings). Emitted per doc on an
    // id slice so the oracle pins the actual mod-1e9+7 hash values;
    // dedup composes downstream as a narrow (doc_id, fp) groupBy.
    "txt_rolling_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          TextFns.rollingFingerprint("text").as("fp"),
          TextFns.rollingFingerprintN("text", 16).as("fp_prefix16"))
    }),

    // TXT: PII detection + redaction accounting. The corpus carries no
    // PII, so a deterministic contact line derived from doc_id is
    // appended to a slice of docs first (a transformation of the given
    // table, not new input data); the regexes then count and redact.
    // Patterns restricted to classes both Java regex and RE2 match
    // identically. Pure per-row expressions — zero shuffle at any scale.
    "txt_pii_redact" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      val withPii = t(s, dir, "documents")
        .withColumn("txt",
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com now")))
          .when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" call +1-555-01"),
              lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" today")))
          .otherwise(col("text")))
      withPii.select(
        col("doc_id"),
        size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        length(regexp_replace(regexp_replace(col("txt"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]")).cast("long").as("redacted_len"))
        .withColumn("pii_free", col("n_emails") + col("n_phones") === 0)
    }),

    // SAMPLE: weighted-epoch mixture materialization — the data-mixing
    // step that UPSAMPLES scarce high-quality sources (stratified_hash
    // only downsamples). Target epochs per source: 2.3 for src0-4, 1.0
    // for src5-9, 0.5 rest. Each doc emits floor(w) full copies plus one
    // more iff its md5 bucket falls under the fractional part — so the
    // realized mix converges to the target deterministically, survives
    // reruns, and the whole op is a pure projection + bounded explode:
    // ZERO shuffles at any scale.
    "mix_epoch_weights" -> ((s, dir) => {
      val hi = Seq("src0", "src1", "src2", "src3", "src4")
      val mid = Seq("src5", "src6", "src7", "src8", "src9")
      val full = when(col("source").isin(hi: _*), 2L)
        .when(col("source").isin(mid: _*), 1L).otherwise(0L)
      val fracPct = when(col("source").isin(hi: _*), 30L)
        .when(col("source").isin(mid: _*), 0L).otherwise(50L)
      t(s, dir, "documents")
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
        .withColumn("n_copies",
          full + when(col("bucket") < fracPct, 1L).otherwise(0L))
        .where(col("n_copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
    }),

    // EXPORT: deterministic shard assignment for the training-data
    // write — docs land in a shard by content-independent hash (uniform,
    // reproducible) with a stable position inside the shard (hash order,
    // id tiebreak). At scale this is `repartition(shard)` + sort-within-
    // partitions and shard count tracks the cluster (thousands), so each
    // per-shard window stays bounded; 8 here to keep the oracle small.
    "export_shard_assign" -> ((s, dir) => {
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("h", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
        .withColumn("shard", col("h") % 8)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // MM: audio analysis-window accounting — the STFT-style framing a
    // feature extractor needs (win=1024, hop=512 samples) computed from
    // typed metadata (sample rate + duration derived from the content
    // hash, standing in for a real probe). Pure integer projection with
    // ZERO row growth — the decode/FFT itself stays behind the
    // Multimodal stub; short clips get one padded window, mirroring the
    // token-chunk guard.
    "mm_audio_windows" -> ((s, dir) => {
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(h % 2 === 0, lit(16000L)).otherwise(lit(22050L)).as("sample_rate"),
          (lit(1000L) + h % 29000L).as("duration_ms"))
        .withColumn("n_samples", expr("duration_ms * sample_rate div 1000"))
        .withColumn("n_windows", when(col("n_samples") <= 1024, lit(1L))
          .otherwise(expr("(n_samples - 513) div 512 + 1")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("n_windows"),
          least(lit(1024L), col("n_samples") - (col("n_windows") - 1) * 512)
            .as("last_window_fill"))
    }),

    // ANN: SQ8 search — int8-quantized shortlist, exact re-rank. The
    // scale path a serving index takes: per-vector affine codes (4 bytes
    // → 1 byte per dim), candidate generation by INTEGER code dot
    // product (exact across engines, no float-order hazard), top-20
    // shortlist per query carries only (q_id, n_id), then the float
    // vectors re-attach by key for the exact cosine top-5.
    "ann_sq8_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("emb", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mn", array_min(col("emb")))
        .withColumn("mx", array_max(col("emb")))
        .withColumn("codes", expr(
          "transform(emb, x -> CASE WHEN mx = mn THEN 0L ELSE " +
            "least(255L, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT)) END)"))
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("codes").as("q_codes"))
      val cand = emb.select(col("vec_id").as("n_id"), col("codes").as("n_codes"))
      val wI = Window.partitionBy("q_id").orderBy(col("iscore").desc, col("n_id").asc)
      val shortlist = q.join(cand, col("q_id") =!= col("n_id"))
        .withColumn("iscore", expr(
          "aggregate(zip_with(q_codes, n_codes, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
        .select(col("q_id"), col("n_id"), col("iscore"))
        .withColumn("irank", row_number().over(wI))
        .where(col("irank") <= 20)
        .select("q_id", "n_id")
      val vec = t(s, dir, "embeddings").withColumn("nrm", VectorFns.l2Norm("embedding"))
      val wE = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
      shortlist
        .join(vec.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), Seq("q_id"))
        .join(vec.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("nrm").as("n_nrm")), Seq("n_id"))
        .withColumn("cos", VectorFns.dot("q_emb", "n_emb") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rank", row_number().over(wE))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("n_id"), round(col("cos"), 5).as("cos"), col("rank"))
    }),

    // S16: day-wide lake round trip THROUGH the real machinery — bulk
    // write (writeDaysWide), a point-repair delta patch
    // (writeDeltaPatch), then a windowed read (readWindowAllSymbols)
    // whose base∪delta overlay must equal the oracle's declarative
    // merge. The day-wide layout is the lake's one layout; this row
    // pins it against DuckDB as well as the specs
    // (VERDICT r13 #3). Canonical minutes derive from events (symbol =
    // user_id mod 7, one row per (symbol, minute)); the patch overlays
    // the error-typed minutes with open+1000. The result is collected
    // (small: 7 symbols) so the scratch lake can be deleted eagerly.
    "s16_wide_lake_roundtrip" -> ((s, dir) => {
      import graft.sources.{LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
      val ev = eventsK(s, dir)
        .withColumn("symbol",
          concat(lit("SYM"), lpad((col("user_id") % 7).cast("string"), 2, "0"),
            lit("USDT")))
      val root = java.nio.file.Files.createTempDirectory("graft-s16-lake").toString
      try {
        val writer = new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
          LakeLayout.DayWide(filesPerDay = 4))
        writer.writeDaysWide(wideCanon(ev, 0.0))
        writer.writeDeltaPatch(wideCanon(ev.where(col("event_type") === "error"), 1000.0))
        val b = ev.agg(min(col("minute")), max(col("minute"))).collect()(0)
        val win = new MinuteLakeReader(root)
          .readWindowAllSymbols(s, b.getTimestamp(0).toInstant, b.getTimestamp(1).toInstant)
          .get
          .groupBy("symbol")
          .agg(count(lit(1)).as("n_minutes"),
               round(sum(col("open")), 2).as("sum_open"),
               round(max(col("open")), 4).as("max_open"))
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(win.collect(): _*)),
          win.schema)
      } finally {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      }
    }),

    // S17: delta-overlay PRECEDENCE through the real machinery (VERDICT
    // r15 #4). s16 pins base∪one-patch; this row makes the ORDERING
    // semantics load-bearing — exactly the rules engines silently
    // diverge on: (a) the same (symbol, minute) patched TWICE — the
    // later __delta_seq must win (patch 2 keys ⊂ patch 1 keys, both
    // differ from base); (b) a symbol that exists ONLY in delta patches
    // (NEWxxUSDT) — it must surface in the all-symbols windowed read
    // even though no base file carries it; (c) plain patch-over-base
    // last-wins everywhere else. The oracle is the declarative
    // max-priority merge over the same four frames; reference last-wins
    // contract: atomic.py:65-97.
    "s17_delta_overlay_precedence" -> ((s, dir) => {
      import graft.sources.{LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
      val evAll = eventsK(s, dir)
        .withColumn("symbol",
          concat(lit("SYM"), lpad((col("user_id") % 7).cast("string"), 2, "0"),
            lit("USDT")))
      // last 24 HOURS only (r20, VERDICT r19 #5 — was the full corpus):
      // this row's load is the ORDERING contract (double-patch,
      // delta-only symbol, last-wins), which a bounded window carries
      // in full; s16 keeps pricing the full-corpus bulk roundtrip
      val maxMin17 = evAll.agg(max(col("minute"))).collect()(0).getTimestamp(0)
      val cutoff17 = java.sql.Timestamp.from(
        maxMin17.toInstant.minus(24, java.time.temporal.ChronoUnit.HOURS))
      val ev = evAll.where(col("minute") >= cutoff17)
      // delta-only symbols, derived from click events so their days are
      // a subset of the base days (writeDeltaPatch's writer invariant)
      val newSym = eventsK(s, dir)
        .where(col("event_type") === "click" && col("minute") >= cutoff17)
        .withColumn("symbol",
          concat(lit("NEW"), lpad((col("user_id") % 3).cast("string"), 2, "0"),
            lit("USDT")))
      val root = java.nio.file.Files.createTempDirectory("graft-s17-lake").toString
      try {
        val writer = new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
          LakeLayout.DayWide(filesPerDay = 4))
        writer.writeDaysWide(wideCanon(ev, 0.0))
        writer.writeDeltaPatch(wideCanon(                             // seq 1
          ev.where(col("event_type") === "error"), 1000.0))
        writer.writeDeltaPatch(wideCanon(                             // seq 2
          ev.where((col("event_type") === "error") &&
                   (col("user_id") % 2 === 0)), 2000.0))
        writer.writeDeltaPatch(wideCanon(newSym, 3000.0))             // seq 3
        val b = ev.agg(min(col("minute")), max(col("minute"))).collect()(0)
        val win = new MinuteLakeReader(root)
          .readWindowAllSymbols(s, b.getTimestamp(0).toInstant, b.getTimestamp(1).toInstant)
          .get
          .groupBy("symbol")
          .agg(count(lit(1)).as("n_minutes"),
               round(sum(col("open")), 2).as("sum_open"),
               round(max(col("open")), 4).as("max_open"))
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(win.collect(): _*)),
          win.schema)
      } finally {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      }
    }),

    // S18: the LEDGER-GATED incremental tick through the real machinery
    // (VERDICT r16 #8) — the r16 tick gate had zero presence in any
    // committed ledger, so a gate regression (a token that never
    // matches and re-arms every poll) was invisible outside probe runs.
    // Timed body: bulk day-wide write → gated 15m tick (backfills the
    // window) → a STEADY tick that must token-skip (the shape that runs
    // forever in production: zero scans, zero writes, zero Spark jobs)
    // → a one-day delta patch → a PATCHED tick whose repair window
    // derives from the ledger's patch bounds. The result pins the final
    // HTF content per symbol PLUS the gate counters: steady tick zeros
    // and the patched tick's written-bucket count (== distinct patched
    // 15m buckets: the +1000 bump always changes bucket content; the
    // fingerprint write-skip keeps every other window bucket unwritten).
    "s18_gated_tick_roundtrip" -> ((s, dir) => {
      import graft.sources.{HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
      import graft.operators.AggregatorRunner
      val ev = eventsK(s, dir)
        .withColumn("symbol",
          concat(lit("SYM"), lpad((col("user_id") % 5).cast("string"), 2, "0"),
            lit("USDT")))
      // last 7 event-days only: the gate contract (token skip, patch
      // window, write counts) is shape-independent, and s16/s17 already
      // price the full-corpus bulk write — no reason to pay it 3× here
      val maxDay = ev.agg(date_trunc("day", max(col("minute"))))
        .collect()(0).getTimestamp(0)
      val winLo = java.sql.Timestamp.from(
        maxDay.toInstant.minus(6, java.time.temporal.ChronoUnit.DAYS))
      val evw = ev.where(col("minute") >= winLo)
      val root = java.nio.file.Files.createTempDirectory("graft-s18-lake").toString
      try {
        val ledger = new PartitionLedger(s"$root/_state")
        val writer = new MinuteLakeWriter(root, ledger, LakeLayout.DayWide(filesPerDay = 4))
        writer.writeDaysWide(wideCanon(evw, 0.0))
        val reader = new MinuteLakeReader(root)
        // the backfill writes its buckets as ONE bulk job per day set,
        // whatever the width
        val hw = new HtfLakeWriter(s"$root/htf", LakeLayout.DayWide(filesPerDay = 4))
        val state = new AggregatorRunner.AggregatorStateStore(s"$root/_aggstate")
        val spec = graft.schema.Timeframes.parse("15m")
        // lookback spans the whole corpus so the FIRST tick backfills
        // (no stored high-water yet → blind window); the patched tick
        // ignores it — its window comes from the ledger's patch bounds
        def tick() = AggregatorRunner.runFleetTick(s, reader, hw, state,
          s"$root/htf", Seq(spec), allowIncomplete = true,
          repairLookbackMinutes = 200000L, sourceLedger = Some(ledger)).head._2
        tick()              // backfill: aggregates + writes the window
        val steady = tick() // unchanged ledger: MUST token-skip
        // late repair: the last event-day's error minutes, bumped +1000
        writer.writeDeltaPatch(wideCanon(
          evw.where(col("event_type") === "error" && col("minute") >= maxDay),
          1000.0))
        val patched = tick()
        val summary = s.read.parquet(s"$root/htf/timeframe=15m")
          .groupBy("symbol")
          .agg(count(lit(1)).as("n_buckets"),
               round(sum(col("close")), 2).as("sum_close"),
               sum(col("trade_count")).as("sum_trades"))
          .withColumn("steady_scanned", lit(steady.bucketsScanned))
          .withColumn("steady_written", lit(steady.bucketsWritten))
          .withColumn("patched_written", lit(patched.bucketsWritten))
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(summary.collect(): _*)),
          summary.schema)
      } finally {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      }
    }),

    // ST5/r17 #6: the CAPPED drain, oracle-pinned (row 100). s18 pins
    // the gate; this row pins the bounded-drain choreography that r17
    // left spec-only — a late one-day patch drained through capped
    // polls (cap=480 buckets/symbol/poll) with the carried per-symbol
    // cursor (r17 #3). The oracle derives, from the same events data,
    // the EXACT drain arithmetic: polls = ceil(calendar window / cap),
    // total scanned = observed buckets in the window scanned ONCE
    // (cursor resume never re-scans, never gaps), total written =
    // distinct patched buckets (write-skip leaves the rest), plus the
    // final per-symbol HTF content. cap_violations pins every poll
    // ≤ cap × width, s18-style (a 0 the engine must earn).
    "s19_capped_drain_roundtrip" -> ((s, dir) => {
      import graft.sources.{HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
      import graft.operators.AggregatorRunner
      val ev = eventsK(s, dir)
        .withColumn("symbol",
          concat(lit("SYM"), lpad((col("user_id") % 5).cast("string"), 2, "0"),
            lit("USDT")))
      // last NINE HOURS only (r20, VERDICT r19 #5 — was the last
      // event-day): the drain contract is shape-independent, s18
      // already prices the multi-day lifecycle, and every extra
      // 480-bucket cap window is another full poll cycle in the timed
      // body. Nine hours (~540 observed minutes) still forces a
      // ≥2-poll capped drain — cursor-carry exercised — at one poll
      // fewer per drain than the full day's three.
      val maxMin9 = ev.agg(max(col("minute"))).collect()(0).getTimestamp(0)
      val cutoff9 = java.sql.Timestamp.from(
        maxMin9.toInstant.minus(9, java.time.temporal.ChronoUnit.HOURS))
      val evw = ev.where(col("minute") >= cutoff9)
      val root = java.nio.file.Files.createTempDirectory("graft-s19-lake").toString
      try {
        val ledger = new PartitionLedger(s"$root/_state")
        val writer = new MinuteLakeWriter(root, ledger, LakeLayout.DayWide(filesPerDay = 4))
        writer.writeDaysWide(wideCanon(evw, 0.0))
        val reader = new MinuteLakeReader(root)
        val hw = new HtfLakeWriter(s"$root/htf", LakeLayout.DayWide(filesPerDay = 4))
        val state = new AggregatorRunner.AggregatorStateStore(s"$root/_aggstate")
        // 1m spec: every observed minute IS a complete bucket, so the
        // watermark sits at each symbol's head after the first drain —
        // the patch drain's window floor is then EXACTLY the ledger's
        // patch floor for every symbol (a sparse 15m corpus would pull
        // watermark-rescue windows into the arithmetic), keeping the
        // oracle's drain math closed-form
        val spec = graft.schema.Timeframes.parse("1m")
        val Cap = 480
        // data-derived lookback: the cold capped tick's blind window
        // must open exactly at the corpus floor (a fixed huge lookback
        // would make the cursor walk months of EMPTY calendar at Cap
        // buckets/poll — the cap bounds calendar span, not observed
        // buckets)
        val mm = evw.agg(min(col("minute")), max(col("minute"))).collect()(0)
        val lookback = java.time.temporal.ChronoUnit.MINUTES.between(
          mm.getTimestamp(0).toInstant, mm.getTimestamp(1).toInstant)
        def tick() = AggregatorRunner.runFleetTick(s, reader, hw, state,
          s"$root/htf", Seq(spec), allowIncomplete = true,
          repairLookbackMinutes = lookback, sourceLedger = Some(ledger),
          maxBucketsPerTick = Cap).head._2
        val tickKey = s"1m|ai=true|lb=$lookback|cap=$Cap"
        // capped drain loop: poll until the carried cursor clears. Keys
        // on pendingFrom, not scanned==0 — a capped span of pure
        // calendar gap scans nothing yet MUST advance the cursor.
        def drain() = {
          val polls = scala.collection.mutable.Buffer(tick())
          var guard = 0
          while (state.getTickState(tickKey).exists(_.pendingFrom.isDefined) &&
                 guard < 20) {
            polls += tick()
            guard += 1
          }
          polls.toSeq
        }
        val drain1 = drain()  // initial index: the capped BACKFILL drain
        val steady = tick()   // unchanged ledger: MUST token-skip
        // late repair: the last THREE HOURS' error minutes, bumped
        // +1000 (r20, VERDICT r19 #5 — was the full 9 h window: the
        // cursor-carry contract is already exercised by drain1's two
        // polls; a ≤480-minute patch window makes the patch drain
        // single-poll, and the oracle's ceil(window/cap) arithmetic is
        // data-derived so it follows)
        val patchCut9 = java.sql.Timestamp.from(
          maxMin9.toInstant.minus(3, java.time.temporal.ChronoUnit.HOURS))
        writer.writeDeltaPatch(wideCanon(
          evw.where(col("event_type") === "error" && col("minute") >= patchCut9),
          1000.0))
        val drain2 = drain()  // patch drain: window from the ledger's bounds
        val width = evw.select("symbol").distinct().count()
        val capViolations = (drain1 ++ drain2)
          .count(_.bucketsScanned > Cap.toLong * width)
        val summary = s.read.parquet(s"$root/htf/timeframe=1m")
          .groupBy("symbol")
          .agg(count(lit(1)).as("n_buckets"),
               round(sum(col("close")), 2).as("sum_close"),
               sum(col("trade_count")).as("sum_trades"))
          .withColumn("steady_scanned", lit(steady.bucketsScanned))
          .withColumn("steady_written", lit(steady.bucketsWritten))
          .withColumn("drain1_polls", lit(drain1.size.toLong))
          .withColumn("drain1_scanned", lit(drain1.map(_.bucketsScanned).sum))
          .withColumn("drain1_written", lit(drain1.map(_.bucketsWritten).sum))
          .withColumn("drain2_polls", lit(drain2.size.toLong))
          .withColumn("drain2_scanned", lit(drain2.map(_.bucketsScanned).sum))
          .withColumn("drain2_written", lit(drain2.map(_.bucketsWritten).sum))
          .withColumn("cap_violations", lit(capViolations.toLong))
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(summary.collect(): _*)),
          summary.schema)
      } finally {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      }
    }),

    // S20 (VERDICT r18 #3): the BUDGET-driven drain, oracle-pinned.
    // s19 pins the capped drain with an EXPLICIT cap; this row drives
    // the same lifecycle through `pollBudgetMs` with a deliberately
    // PESSIMISTIC seeded cost (25 ms/bucket — the spec fixture's
    // number, ~100× this box), so the first derived cap is small and
    // the two-term model must adapt from its own (scanned, wall)
    // observations mid-drain. The cap trajectory is therefore
    // hardware-dependent BY DESIGN — the oracle pins only the
    // trajectory-INDEPENDENT invariants: converged content (last-wins
    // merge), cumulative scanned/written totals (cursor = each
    // observed bucket exactly once; write-skip = patched buckets
    // only), steady zeros, multi-poll shape (the seeded first cap is
    // span·2/3, so a >cap span MUST take ≥2 polls), and convergence
    // within the guard. Fixture: last 75 MINUTES of the events corpus
    // (r20, VERDICT r19 #5 — was six hours: the budget contract needs
    // only enough span to out-size the first seeded cap, and the
    // 20-bucket floor needs just over half an hour; s19 prices the
    // longer drain). Two cost-model columns joined the pinned set
    // (VERDICT r19 #6): `cost_obs_present` (the __cost_obs store holds
    // ≥2 (specs, scanned, wall) triples after the forced multi-poll
    // drain) and `model_engaged` (fitCostModel returns a fit on them —
    // the drain's later caps were MODEL-derived, not seed-derived).
    // Both are trajectory-independent: every drain1 poll scans >0 on a
    // dense corpus so observations accumulate one per poll, and the
    // EWMA-adapted second cap differs from the first, so the two
    // triples cannot be collinear.
    "s20_budget_drain_roundtrip" -> ((s, dir) => {
      import graft.sources.{HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}
      import graft.operators.AggregatorRunner
      val ev = eventsK(s, dir)
        .withColumn("symbol",
          concat(lit("SYM"), lpad((col("user_id") % 5).cast("string"), 2, "0"),
            lit("USDT")))
      val maxMin = ev.agg(max(col("minute"))).collect()(0).getTimestamp(0)
      val cutoff = java.sql.Timestamp.from(
        maxMin.toInstant.minus(75, java.time.temporal.ChronoUnit.MINUTES))
      val evw = ev.where(col("minute") >= cutoff)
      val root = java.nio.file.Files.createTempDirectory("graft-s20-lake").toString
      try {
        val ledger = new PartitionLedger(s"$root/_state")
        val writer = new MinuteLakeWriter(root, ledger, LakeLayout.DayWide(filesPerDay = 4))
        writer.writeDaysWide(wideCanon(evw, 0.0))
        val reader = new MinuteLakeReader(root)
        val hw = new HtfLakeWriter(s"$root/htf", LakeLayout.DayWide(filesPerDay = 4))
        val state = new AggregatorRunner.AggregatorStateStore(s"$root/_aggstate")
        val spec = graft.schema.Timeframes.parse("1m")
        val mm = evw.agg(min(col("minute")), max(col("minute")),
          countDistinct(col("symbol"))).collect()(0)
        val span = java.time.temporal.ChronoUnit.MINUTES.between(
          mm.getTimestamp(0).toInstant, mm.getTimestamp(1).toInstant) + 1
        val width = mm.getLong(2)
        // budget sized so the SEEDED first derivation lands cap =
        // span·2/3 (≥ the amortization floor): the drain cannot finish
        // in one poll — cursor-carry + observation loop forced — and
        // completes in exactly TWO seeded polls whose scan volumes
        // DIFFER (cap vs span−cap), so the two-term fit's collinearity
        // guard (det = (s1−s2)²) accepts the pair (r20, VERDICT r19
        // #5: the old span/3 seed took 4 polls to the same pinned
        // invariants — two extra ticks of pure fixed cost)
        val firstCap = math.max(AggregatorRunner.MinBudgetCap, (span * 2 / 3).toInt)
        val budgetMs = AggregatorRunner.SteadyFloorMs +
          (25.0 * width * firstCap).toLong
        state.setCostPerBucketMs(25.0) // pessimistic seed
        val lookback = span - 1
        def tick() = AggregatorRunner.runFleetTick(s, reader, hw, state,
          s"$root/htf", Seq(spec), allowIncomplete = true,
          repairLookbackMinutes = lookback, sourceLedger = Some(ledger),
          pollBudgetMs = budgetMs).head._2
        val tickKey = s"1m|ai=true|lb=$lookback|budget=$budgetMs"
        def drain() = {
          val polls = scala.collection.mutable.Buffer(tick())
          var guard = 0
          while (state.getTickState(tickKey).exists(_.pendingFrom.isDefined) &&
                 guard < 30) {
            polls += tick()
            guard += 1
          }
          (polls.toSeq, guard < 30)
        }
        val (drain1, ok1) = drain() // initial index under the budget cap
        // cost-model round-trip (VERDICT r19 #6): after the forced
        // multi-poll drain the observation store must hold ≥2 triples
        // and the two-term fit must ENGAGE on them — pinned here, where
        // the trajectory is already behind us
        val obs = state.getCostObservations
        val costObsPresent = obs.size >= 2
        val modelEngaged = AggregatorRunner.fitCostModel(obs).isDefined
        val steady = tick()         // unchanged ledger: MUST token-skip
        // tiny SFs can have zero error minutes in the window — an empty
        // patch means drain2 is a pure token-skip (oracle: pm/sc2 = 0)
        val patch = wideCanon(evw.where(col("event_type") === "error"), 1000.0)
        if (!patch.isEmpty) writer.writeDeltaPatch(patch)
        val (drain2, ok2) = drain() // patch drain, budget-derived caps
        val summary = s.read.parquet(s"$root/htf/timeframe=1m")
          .groupBy("symbol")
          .agg(count(lit(1)).as("n_buckets"),
               round(sum(col("close")), 2).as("sum_close"),
               sum(col("trade_count")).as("sum_trades"))
          .withColumn("steady_scanned", lit(steady.bucketsScanned))
          .withColumn("steady_written", lit(steady.bucketsWritten))
          .withColumn("drain1_scanned", lit(drain1.map(_.bucketsScanned).sum))
          .withColumn("drain1_written", lit(drain1.map(_.bucketsWritten).sum))
          .withColumn("drain2_scanned", lit(drain2.map(_.bucketsScanned).sum))
          .withColumn("drain2_written", lit(drain2.map(_.bucketsWritten).sum))
          .withColumn("multi_poll", lit(drain1.size >= 2))
          .withColumn("converged", lit(ok1 && ok2))
          .withColumn("cost_obs_present", lit(costObsPresent))
          .withColumn("model_engaged", lit(modelEngaged))
        s.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(summary.collect(): _*)),
          summary.schema)
      } finally {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
          s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
      }
    }),

    // ST-metrics: the streaming near-dup stage's recall-forfeit LEDGER
    // aggregation (VERDICT r16 #7) — the one aggregation family that
    // was spec-pinned only. The verdict fixture derives
    // DETERMINISTICALLY from the documents table (md5-hash-driven
    // buckets/flags, minute-spaced event times), so this row pins the
    // LEDGER's windowed count_distinct + conditional sums against the
    // DuckDB oracle; the stateful stage that produces real verdicts
    // stays spec-pinned (StreamNearDupSpec), as streaming choreography
    // must be.
    "stream_recall_ledger" -> ((s, dir) => {
      import s.implicits._
      val h = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
      val verdicts = t(s, dir, "documents")
        .select(col("doc_id").as("docId"),
          concat(lit("b"), pmod(h, lit(16L)).cast("string")).as("bucket"),
          (lit(1735689600000L) + pmod(h, lit(180L)) * lit(60000L)).as("eventMs"),
          when(pmod(h, lit(10L)) === 0L, col("doc_id") + 1000000L).as("matchedId"),
          (pmod(h, lit(7L)) === 0L).as("saturated"),
          pmod(h, lit(3L)).cast("int").as("prunedByHorizon"))
        .as[graft.streaming.StreamNearDup.BandVerdict]
      graft.streaming.StreamNearDup.recallLedger(verdicts, "15 minutes")
    })
  )

  /** Canonical minute frame from an events-derived frame carrying
    * (symbol, minute, value) — the shared scaffolding of the wide-lake
    * roundtrip rows (s16/s17): per-(symbol, minute)
    * open = round(sum(value), 4) + bump, the HARD_REQUIRED columns
    * derived from open (the DQ gate inside writeDeltaPatch rejects
    * nulls there — correctly), then cast/filled to CanonicalSchema. */
  private def wideCanon(df: DataFrame, bump: Double): DataFrame = {
    val g = df.groupBy(col("symbol"), col("minute").as("timestamp"))
      .agg((round(sum(col("value")), 4) + bump).as("open"))
      .withColumn("high", col("open") + 1.0)
      .withColumn("low", col("open") - 1.0)
      .withColumn("close", col("open") + 0.5)
      .withColumn("volume_btc", lit(1.0))
      .withColumn("volume_usdt", lit(100.0))
      .withColumn("trade_count", lit(10L))
      .withColumn("mark_price_open", col("open"))
      .withColumn("mark_price_close", col("open"))
      .withColumn("index_price_open", col("open"))
      .withColumn("index_price_close", col("open"))
    graft.schema.CanonicalSchema.columns.foldLeft(g) { (d, c) =>
      if (d.columns.contains(c.name)) d.withColumn(c.name, col(c.name).cast(c.sparkType))
      else d.withColumn(c.name, lit(null).cast(c.sparkType))
    }
  }

  // ------------------------------------------------------------ oracle SQL

  /** Shared DuckDB CTE chain text → shingle hashes → minhash signature
    * → LSH band buckets (mirrors TextFns.minhashSignatureFromText +
    * the 8×2 banding used by the dedup queries). */
  private lazy val minhashBandsCtes: String = {
    val shingles =
      """list_distinct(list_transform(
        |  generate_series(1, greatest(len(tk) - 2, 0)),
        |  i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT))""".stripMargin
    val mins = (0 until 16).map { p =>
      val (a, b) = TextFns.minhashPerm(p)
      s"list_min(list_transform(sh, h -> ($a * (h % 4294967296) + $b) % ${TextFns.MinhashPrime}))"
    }
    val minCols = mins.zipWithIndex.map { case (m, i) => s"$m AS m$i" }.mkString(", ")
    val bandList = (0 until 8).map { b =>
      s"md5(concat_ws('|', CAST(m${b * 2} AS VARCHAR), CAST(m${b * 2 + 1} AS VARCHAR)))"
    }.mkString("[", ", ", "]")
    s"w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents), " +
      s"d AS (SELECT doc_id, $shingles AS sh FROM w), " +
      s"sig AS (SELECT doc_id, $minCols FROM d), " +
      s"bands AS (SELECT doc_id, unnest($bandList) AS bucket FROM sig)"
  }

  /** Shared DuckDB CTE chain mirroring the AUTO-SIZED banding: same
    * shingle→signature text as [[minhashBandsCtes]], then `params`
    * derives `rows_per_band` from `count(*)` via an integer threshold
    * chain (exactly `TextFns.minhashGeometryFor(16, n, 128)`: rows =
    * ceil(log10(n/128)) clamped to [1,16], bands = max(1, 16/rows) —
    * n ≤ 128·10^r ⟺ ceil ≤ r, so no float log boundary can disagree)
    * and `abands(doc_id, bucket)` banding under that geometry. */
  private lazy val minhashAutosizeBandsCtes: String = {
    val shingles =
      """list_distinct(list_transform(
        |  generate_series(1, greatest(len(tk) - 2, 0)),
        |  i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT))""".stripMargin
    val mins = (0 until 16).map { p =>
      val (a, b) = TextFns.minhashPerm(p)
      s"list_min(list_transform(sh, h -> ($a * (h % 4294967296) + $b) % ${TextFns.MinhashPrime})) AS m$p"
    }.mkString(", ")
    val smList = (0 until 16).map(p => s"m$p").mkString("[", ", ", "]")
    val rowsCase = "CASE " + (1 to 15).map { r =>
      s"WHEN count(*) <= ${128L * math.pow(10, r).toLong} THEN $r"
    }.mkString(" ") + " ELSE 16 END"
    s"""w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents),
       |d AS (SELECT doc_id, $shingles AS sh FROM w),
       |sig AS (SELECT doc_id, $mins FROM d),
       |sm AS (SELECT doc_id, $smList AS sv FROM sig),
       |params AS (SELECT count(*) AS n, $rowsCase AS r FROM documents),
       |abands AS (
       |  SELECT doc_id, md5(coalesce(array_to_string(list_transform(
       |           sv[b * r + 1 : b * r + r], x -> CAST(x AS VARCHAR)), '|'), '')) AS bucket
       |  FROM sm CROSS JOIN params, unnest(generate_series(0, 15)) AS t(b)
       |  WHERE b < greatest(1, 16 // r))""".stripMargin
  }

  def oracleSql: Map[String, String] =
    rawOracleSql.map { case (k, v) => k -> stableRoundSql(v) }

  private def rawOracleSql: Map[String, String] = Map(

    "s1_pruned_scan_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(sum(l_extendedprice), 4) AS sum_price,
        |       round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,

    "s2_minmax_ts" ->
      "SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n FROM events",

    "s3_latest_wins_dedup" ->
      """SELECT user_id, event_id AS last_event_id,
        |       round(value, 4) AS last_value, event_type AS last_type
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    "p2_json_conditional_split" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k
        |           FROM events)
        |SELECT event_type,
        |       round(sum(CASE WHEN k >= 50 THEN value ELSE 0 END), 4) AS whale_value,
        |       round(sum(CASE WHEN k < 50 THEN value ELSE 0 END), 4) AS retail_value,
        |       CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS whale_cnt,
        |       count(*) AS cnt
        |FROM e GROUP BY event_type""".stripMargin,

    "mb_canonical_build" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute FROM events),
        |bounds AS (SELECT date_trunc('hour', min(ts)) AS h0 FROM events),
        |spine AS (
        |  SELECT unnest(generate_series((SELECT h0 FROM bounds),
        |    (SELECT h0 + INTERVAL 179 MINUTE FROM bounds), INTERVAL 1 MINUTE)) AS m),
        |kw AS (
        |  SELECT minute, ts, event_id, value, k,
        |         first_value(value) OVER w AS fo, last_value(value) OVER w AS fc
        |  FROM e WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY minute ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |kl AS (
        |  SELECT minute, any_value(fo) AS open, any_value(fc) AS close,
        |         sum(value) AS volume_btc, count(*) AS trade_count
        |  FROM kw GROUP BY minute),
        |tr1 AS (
        |  SELECT minute, value AS price, CAST(k % 5 + 1 AS DOUBLE) / 10.0 AS qty,
        |         k % 2 = 0 AS ibm,
        |         value * (CAST(k % 5 + 1 AS DOUBLE) / 10.0) AS notional,
        |         ln(value) - ln(lag(value) OVER
        |           (PARTITION BY minute
        |            ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id)) AS lr
        |  FROM e WHERE event_type = 'error' AND value > 0 AND k IS NOT NULL),
        |tr AS (
        |  SELECT minute, sum(notional) / sum(qty) AS vwap_1m,
        |         sum(CASE WHEN NOT ibm THEN qty ELSE 0 END) AS abq,
        |         sum(CASE WHEN ibm THEN qty ELSE 0 END) AS asq,
        |         CAST(sum(CASE WHEN NOT ibm THEN 1 ELSE 0 END) AS BIGINT) AS cnt_buy,
        |         sum(CASE WHEN NOT ibm AND notional <= 1000.0 THEN qty ELSE 0 END)
        |           AS vol_buy_retail,
        |         sqrt(sum(pow(coalesce(lr, 0.0), 2))) AS rv
        |  FROM tr1 GROUP BY minute),
        |fu AS (
        |  SELECT minute, CAST(k AS DOUBLE) / 1000000.0 AS funding_rate FROM (
        |    SELECT minute, k, row_number() OVER
        |      (PARTITION BY minute ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e WHERE event_type = 'signup' AND k % 20 = 0) WHERE rn = 1),
        |pr AS (
        |  SELECT minute, CAST(k AS DOUBLE) / 100000.0 AS predicted_funding,
        |         CAST(k AS DOUBLE) / 1000000.0 AS premium_last FROM (
        |    SELECT minute, k, row_number() OVER
        |      (PARTITION BY minute ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM e WHERE event_type = 'view') WHERE rn = 1),
        |j AS (
        |  SELECT m, kl.open, kl.close,
        |         kl.volume_btc,
        |         CAST(kl.trade_count AS BIGINT) AS trade_count,
        |         tr.vwap_1m,
        |         coalesce(tr.abq, 0.0) AS abq, coalesce(tr.asq, 0.0) AS asq,
        |         CAST(coalesce(tr.cnt_buy, 0) AS BIGINT) AS count_buy_trades,
        |         coalesce(tr.vol_buy_retail, 0.0) AS vol_buy_retail_btc,
        |         coalesce(tr.rv, 0.0) AS realized_vol_1m,
        |         coalesce(fu.funding_rate, pr.premium_last) AS funding_raw,
        |         pr.predicted_funding
        |  FROM spine LEFT JOIN kl ON kl.minute = m
        |             LEFT JOIN tr ON tr.minute = m
        |             LEFT JOIN fu ON fu.minute = m
        |             LEFT JOIN pr ON pr.minute = m),
        |ff AS (
        |  SELECT *, last_value(funding_raw IGNORE NULLS) OVER
        |    (ORDER BY m ROWS BETWEEN 60 PRECEDING AND CURRENT ROW) AS fr
        |  FROM j)
        |SELECT m AS timestamp, round(open, 4) AS open, round(close, 4) AS close,
        |  round(CASE WHEN vwap_1m IS NULL THEN close ELSE vwap_1m END, 4) AS vwap_1m,
        |  round(volume_btc, 4) AS volume_btc, trade_count,
        |  round(abq - asq, 4) AS net_taker_vol_btc,
        |  count_buy_trades,
        |  round(vol_buy_retail_btc, 4) AS vol_buy_retail_btc,
        |  round(CASE WHEN coalesce(trade_count, 0) > 0 THEN volume_btc / trade_count
        |             ELSE 0.0 END, 6) AS avg_trade_size_btc,
        |  round(CASE WHEN abq + asq > 0 THEN abq / (abq + asq) END, 6)
        |    AS taker_buy_ratio,
        |  round(realized_vol_1m, 6) AS realized_vol_1m,
        |  round(fr, 6) AS funding_rate,
        |  round(predicted_funding, 6) AS predicted_funding,
        |  false AS has_liq
        |FROM ff""".stripMargin,

    "p3_book_ticker_exprs" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k
        |           FROM events),
        |s0 AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS event_time,
        |         value AS bid_price,
        |         value + CAST(k % 10 + 1 AS DOUBLE) / 100.0 AS ask_price,
        |         CAST(k % 5 + 1 AS DOUBLE) AS bid_qty,
        |         CAST(k % 7 + 1 AS DOUBLE) AS ask_qty,
        |         event_id
        |  FROM e WHERE value > 0 AND k IS NOT NULL),
        |s1 AS (SELECT * FROM (
        |         SELECT *, row_number() OVER (PARTITION BY event_time
        |                                      ORDER BY event_id DESC) AS rn
        |         FROM s0) WHERE rn = 1),
        |d AS (
        |  SELECT date_trunc('minute', epoch_ms(event_time)) AS minute, event_time,
        |         ask_price - bid_price AS spread,
        |         (bid_qty - ask_qty) / (bid_qty + ask_qty) AS imbalance,
        |         (ask_price - bid_price) / ((ask_price + bid_price) / 2.0) AS spread_pct,
        |         (bid_price * ask_qty + ask_price * bid_qty) / (bid_qty + ask_qty) AS micro,
        |         bid_qty, ask_qty
        |  FROM s1),
        |lastm AS (SELECT minute, micro FROM (
        |            SELECT minute, micro, row_number() OVER
        |              (PARTITION BY minute ORDER BY event_time DESC) AS rn
        |            FROM d) WHERE rn = 1)
        |SELECT d.minute AS timestamp,
        |       round(avg(spread), 6) AS avg_spread_usdt,
        |       round(avg(imbalance), 6) AS bid_ask_imbalance,
        |       round(avg(bid_qty), 6) AS avg_bid_depth,
        |       round(avg(ask_qty), 6) AS avg_ask_depth,
        |       round(avg(spread_pct), 6) AS spread_pct,
        |       round(any_value(lastm.micro), 4) AS micro_price_close
        |FROM d JOIN lastm ON lastm.minute = d.minute
        |GROUP BY d.minute""".stripMargin,

    "j8_overlay_merge" ->
      """WITH base AS (
        |  SELECT date_trunc('minute', ts) AS minute, round(sum(value), 4) AS base_vol,
        |         false AS has_live
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |live AS (
        |  SELECT date_trunc('minute', ts) AS minute, round(sum(value), 4) AS live_vol,
        |         true AS live_flag
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT base.minute,
        |       coalesce(base.has_live, false) OR coalesce(live.live_flag, false)
        |         AS has_live,
        |       coalesce(live.live_vol, base.base_vol) AS vol,
        |       base.base_vol
        |FROM base LEFT JOIN live ON live.minute = base.minute""".stripMargin,

    "a13_ratio_dedup" ->
      """SELECT data_time, round(ratio, 4) AS ratio, event_id FROM (
        |  SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 60000) * 60000 AS data_time,
        |         value AS ratio, event_id,
        |         row_number() OVER (
        |           PARTITION BY (epoch_ms(CAST(ts AS TIMESTAMP)) // 60000) * 60000
        |           ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'signup') WHERE rn = 1""".stripMargin,

    "p5_null_gated_derived" ->
      """SELECT l_linestatus,
        |       round(sum(CASE WHEN l_discount > 0.02
        |                      THEN l_extendedprice * (1.0 - l_discount) END), 4)
        |         AS disc_revenue,
        |       round(sum(coalesce(nullif(l_tax, 0.0), 0.01) * l_extendedprice), 4)
        |         AS tax_amount,
        |       count(CASE WHEN l_discount > 0.02 THEN 1 END) AS n_discounted
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "j1_spine_left_join" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('minute', min(ts)) FROM events),
        |    (SELECT date_trunc('minute', max(ts)) FROM events),
        |    INTERVAL 1 MINUTE)) AS m),
        |per_min AS (
        |  SELECT date_trunc('minute', ts) AS minute, count(*) AS n_events,
        |         round(sum(value), 4) AS val
        |  FROM events GROUP BY 1)
        |SELECT m, coalesce(n_events, 0) AS n_events, coalesce(val, 0.0) AS val
        |FROM spine LEFT JOIN per_min ON spine.m = per_min.minute""".stripMargin,

    "j2_asof_tolerance" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS h),
        |p AS (
        |  SELECT ts, value FROM (
        |    SELECT ts, value, row_number() OVER
        |      (PARTITION BY ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT s.h,
        |       CASE WHEN s.h - p.ts <= INTERVAL 120 MINUTE
        |            THEN round(p.value, 4) END AS asof_value
        |FROM spine s ASOF LEFT JOIN p ON p.ts <= s.h""".stripMargin,

    "j6_anti_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
        |                      AND TIMESTAMP '1995-12-31')""".stripMargin,

    "j9_star_join_revenue" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    // Identical values to j9 — bucketing is a physical-layout decision,
    // so the oracle is the same relational query.
    "j9_star_join_bucketed" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(DISTINCT o_orderkey) AS n_orders,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "p9_serialize_scrub" ->
      """WITH e AS (SELECT date_trunc('minute', ts) AS minute, value FROM events)
        |SELECT strftime(minute, '%Y-%m-%dT%H:%M:%S') || '.000Z' AS timestamp,
        |       round(max(value), 4) AS high,
        |       round(avg(value), 4) AS vwap_bar
        |FROM e GROUP BY minute""".stripMargin,

    "u1_union_relaxed" ->
      """WITH e AS (SELECT date_trunc('minute', ts) AS minute, event_type,
        |                  value, user_id FROM events),
        |u AS (
        |  SELECT minute, value AS purchase_value,
        |         NULL::DOUBLE AS view_value, NULL::BIGINT AS user_id
        |  FROM e WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT minute, NULL::DOUBLE AS purchase_value,
        |         value AS view_value, user_id
        |  FROM e WHERE event_type = 'view')
        |SELECT minute, count(*) AS n_rows,
        |       count(purchase_value) AS n_purchase,
        |       count(view_value) AS n_view,
        |       count(user_id) AS n_users_present,
        |       round(sum(coalesce(purchase_value, view_value)), 4) AS sum_value
        |FROM u GROUP BY minute""".stripMargin,

    "j10_salted_skew_join" ->
      """WITH dim AS (
        |  SELECT event_type, round(avg(value), 4) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT e.event_type,
        |       count(*) AS n_rows,
        |       round(sum(e.value - d.type_avg), 4) AS sum_dev,
        |       round(max(e.value + d.type_avg), 4) AS max_sum
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type""".stripMargin,

    "a1_minute_trade_agg" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute
        |           FROM events)
        |SELECT minute, count(*) AS trade_count,
        |       round(CASE WHEN sum(k) > 0 THEN sum(value * k) / sum(k) END, 4) AS vwap,
        |       round(max(value), 4) AS max_value,
        |       round(sum(CASE WHEN event_id % 2 = 0 THEN value ELSE 0 END), 4) AS buy_value,
        |       round(sum(CASE WHEN event_id % 2 <> 0 THEN value ELSE 0 END), 4) AS sell_value
        |FROM e GROUP BY minute""".stripMargin,

    "a5_htf_ohlc_bucket" ->
      """WITH b AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, ts, event_id, value,
        |         date_trunc('minute', ts) AS minute,
        |         first_value(value) OVER w AS o, last_value(value) OVER w AS c
        |  FROM events
        |  WINDOW w AS (PARTITION BY date_trunc('hour', ts), event_type
        |               ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT hour, event_type,
        |       round(any_value(o), 4) AS open, round(max(value), 4) AS high,
        |       round(min(value), 4) AS low, round(any_value(c), 4) AS close,
        |       round(sum(value), 4) AS volume, count(*) AS cnt,
        |       count(DISTINCT minute) AS observed_minutes
        |FROM b GROUP BY hour, event_type""".stripMargin,

    "a6_percentile_p95" ->
      """SELECT event_type, round(quantile_cont(value, 0.95), 6) AS p95,
        |       round(quantile_cont(value, 0.5), 6) AS p50, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "a7_bucket_completeness" ->
      """SELECT date_trunc('day', ts) AS day,
        |       count(DISTINCT date_trunc('minute', ts)) AS observed_minutes,
        |       1440 AS expected_minutes,
        |       1440 - count(DISTINCT date_trunc('minute', ts)) AS missing_minutes,
        |       count(DISTINCT date_trunc('minute', ts)) = 1440 AS complete
        |FROM events GROUP BY 1""".stripMargin,

    "a9_partition_audit" ->
      """SELECT date_trunc('day', ts) AS day, count(*) AS n_rows,
        |       count(DISTINCT event_id) AS n_unique_ids,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS null_values,
        |       round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events GROUP BY 1""".stripMargin,

    "a11_side_split_weighted" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute
        |           FROM events WHERE event_type = 'error')
        |SELECT minute,
        |       round(sum(CASE WHEN k % 2 = 0 THEN value ELSE 0 END), 4) AS long_vol,
        |       round(sum(CASE WHEN k % 2 <> 0 THEN value ELSE 0 END), 4) AS short_vol,
        |       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS long_count,
        |       CAST(sum(CASE WHEN k % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS short_count,
        |       round(CASE WHEN sum(k) > 0 THEN sum(value * k) / sum(k)
        |                  ELSE avg(value) END, 4) AS avg_fill_price,
        |       bool_or(k > 90) AS any_extreme
        |FROM e GROUP BY minute""".stripMargin,

    "a12_latency_p95_nearest" ->
      """WITH e AS (SELECT CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute
        |           FROM events)
        |SELECT minute,
        |       list_sort(list(k))[CAST(greatest(1, ceil(0.95 * count(k))) AS INT)]
        |         AS p95_engine,
        |       bool_or(k > 90) AS latency_bad,
        |       count(k) AS n
        |FROM e GROUP BY minute""".stripMargin,

    "w1_log_return_vol" ->
      """WITH r AS (
        |  SELECT user_id,
        |         ln(value) - ln(lag(value) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id)) AS r
        |  FROM events WHERE value > 0)
        |SELECT user_id, round(sqrt(sum(r * r)), 6) AS realized_vol,
        |       count(r) AS n_returns
        |FROM r GROUP BY user_id""".stripMargin,

    "w3_bar_deltas" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, sum(value) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, round(v, 4) AS vol,
        |       round(v - lag(v) OVER (PARTITION BY event_type ORDER BY hour), 4)
        |         AS delta_vol
        |FROM hourly""".stripMargin,

    "w4_cvd_running" ->
      """SELECT event_id, user_id,
        |       round(sum(CASE WHEN event_id % 2 = 0 THEN value ELSE -value END)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |         AS cvd
        |FROM events""".stripMargin,

    "w5_bounded_ffill" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('minute', min(ts)) FROM events),
        |    (SELECT date_trunc('minute', max(ts)) FROM events),
        |    INTERVAL 1 MINUTE)) AS m),
        |lastpm AS (
        |  SELECT minute, value AS v FROM (
        |    SELECT date_trunc('minute', ts) AS minute, value,
        |           row_number() OVER (PARTITION BY date_trunc('minute', ts)
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |joined AS (
        |  SELECT m, v FROM spine LEFT JOIN lastpm ON spine.m = lastpm.minute)
        |SELECT m, round(last_value(v IGNORE NULLS) OVER
        |         (ORDER BY m ROWS BETWEEN 30 PRECEDING AND CURRENT ROW), 4)
        |         AS filled
        |FROM joined""".stripMargin,

    "w7_sessionization" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |           THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session
        |  FROM g),
        |per_sess AS (
        |  SELECT user_id, session, count(*) AS n FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |       round(avg(n), 6) AS avg_session_events,
        |       max(n) AS max_session_events
        |FROM per_sess GROUP BY user_id""".stripMargin,

    "s14_top200_recent" ->
      """SELECT event_id, ts, event_type, round(value, 4) AS value
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 200""".stripMargin,

    "o2_topk_users" ->
      """SELECT user_id, round(sum(value), 4) AS total_value, count(*) AS n
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id ASC LIMIT 10""".stripMargin,

    "u2_union_dedup_merge" ->
      """WITH u AS (
        |  SELECT * FROM orders WHERE o_totalprice >= 20000
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_totalprice <= 100000),
        |d AS (
        |  SELECT * FROM (SELECT *, row_number() OVER
        |    (PARTITION BY o_orderkey ORDER BY o_orderdate DESC, o_orderkey DESC)
        |      AS rn FROM u) WHERE rn = 1)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM d GROUP BY o_orderstatus""".stripMargin,

    // the lake round trip's declarative equivalent: base per-(symbol,
    // minute) aggregate, error-typed minutes overlaid at +1000 (the
    // delta patch), merged patch-wins — what writeDaysWide +
    // writeDeltaPatch + readWindowAllSymbols must compute physically
    "s16_wide_lake_roundtrip" ->
      """WITH sym AS (
        |  SELECT 'SYM' || lpad(CAST(user_id % 7 AS VARCHAR), 2, '0') || 'USDT'
        |           AS symbol,
        |         date_trunc('minute', ts) AS m, value, event_type
        |  FROM events),
        |base AS (SELECT symbol, m, round(sum(value), 4) + 0.0 AS open
        |         FROM sym GROUP BY 1, 2),
        |patch AS (SELECT symbol, m, round(sum(value), 4) + 1000.0 AS open
        |          FROM sym WHERE event_type = 'error' GROUP BY 1, 2),
        |merged AS (
        |  SELECT b.symbol, b.m, coalesce(p.open, b.open) AS open
        |  FROM base b LEFT JOIN patch p ON b.symbol = p.symbol AND b.m = p.m)
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_minutes,
        |       round(sum(open), 2) AS sum_open,
        |       round(max(open), 4) AS max_open
        |FROM merged GROUP BY symbol""".stripMargin,

    // the overlay-precedence roundtrip's declarative equivalent: four
    // frames at ascending priority (base < patch1 < patch2 < new-symbol
    // patch), merged max-priority-wins per (symbol, minute) — what the
    // physical base∪delta read must resolve via __delta_seq ordering;
    // bounded to the last 24 h (r20, VERDICT r19 #5)
    "s17_delta_overlay_precedence" ->
      """WITH sym0 AS (
        |  SELECT 'SYM' || lpad(CAST(user_id % 7 AS VARCHAR), 2, '0') || 'USDT'
        |           AS symbol,
        |         date_trunc('minute', ts) AS m, value, event_type, user_id
        |  FROM events),
        |cutoff AS (SELECT max(m) - INTERVAL 24 HOUR AS c FROM sym0),
        |sym AS (SELECT * FROM sym0 WHERE m >= (SELECT c FROM cutoff)),
        |base AS (SELECT symbol, m, round(sum(value), 4) + 0.0 AS open
        |         FROM sym GROUP BY 1, 2),
        |p1 AS (SELECT symbol, m, round(sum(value), 4) + 1000.0 AS open
        |       FROM sym WHERE event_type = 'error' GROUP BY 1, 2),
        |p2 AS (SELECT symbol, m, round(sum(value), 4) + 2000.0 AS open
        |       FROM sym WHERE event_type = 'error' AND user_id % 2 = 0
        |       GROUP BY 1, 2),
        |p3 AS (SELECT 'NEW' || lpad(CAST(user_id % 3 AS VARCHAR), 2, '0') || 'USDT'
        |                AS symbol,
        |              date_trunc('minute', ts) AS m,
        |              round(sum(value), 4) + 3000.0 AS open
        |       FROM events
        |       WHERE event_type = 'click'
        |         AND date_trunc('minute', ts) >= (SELECT c FROM cutoff)
        |       GROUP BY 1, 2),
        |u AS (
        |  SELECT symbol, m, open, 0 AS pri FROM base
        |  UNION ALL SELECT symbol, m, open, 1 FROM p1
        |  UNION ALL SELECT symbol, m, open, 2 FROM p2
        |  UNION ALL SELECT symbol, m, open, 3 FROM p3),
        |merged AS (
        |  SELECT symbol, m, open FROM (
        |    SELECT symbol, m, open,
        |           row_number() OVER (PARTITION BY symbol, m ORDER BY pri DESC)
        |             AS rn
        |    FROM u)
        |  WHERE rn = 1)
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_minutes,
        |       round(sum(open), 2) AS sum_open,
        |       round(max(open), 4) AS max_open
        |FROM merged GROUP BY symbol""".stripMargin,

    // the gated-tick roundtrip's declarative equivalent: 15m buckets
    // over the base∪patch merged minutes (the final HTF content after
    // backfill + patched repair), constant zeros for the steady tick's
    // token-skip counters, and distinct-patched-buckets for the patched
    // tick's written count (fingerprint write-skip leaves every
    // unpatched window bucket unwritten)
    "s18_gated_tick_roundtrip" ->
      """WITH sym0 AS (
        |  SELECT 'SYM' || lpad(CAST(user_id % 5 AS VARCHAR), 2, '0') || 'USDT'
        |           AS symbol,
        |         date_trunc('minute', ts) AS m, value, event_type
        |  FROM events),
        |cutoff AS (SELECT date_trunc('day', max(m)) AS c FROM sym0),
        |sym AS (SELECT * FROM sym0
        |        WHERE m >= (SELECT c - INTERVAL 6 DAY FROM cutoff)),
        |base AS (SELECT symbol, m, round(sum(value), 4) + 0.0 AS open
        |         FROM sym GROUP BY 1, 2),
        |patch AS (SELECT symbol, m, round(sum(value), 4) + 1000.0 AS open
        |          FROM sym
        |          WHERE event_type = 'error' AND m >= (SELECT c FROM cutoff)
        |          GROUP BY 1, 2),
        |merged AS (
        |  SELECT b.symbol, b.m, coalesce(p.open, b.open) AS open
        |  FROM base b LEFT JOIN patch p ON b.symbol = p.symbol AND b.m = p.m),
        |buckets AS (
        |  SELECT symbol, time_bucket(INTERVAL '15 minutes', m) AS b,
        |         arg_max(open, m) + 0.5 AS close,
        |         10 * count(*) AS trades
        |  FROM merged GROUP BY 1, 2),
        |pb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |         SELECT DISTINCT symbol, time_bucket(INTERVAL '15 minutes', m)
        |         FROM patch))
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_buckets,
        |       round(sum(close), 2) AS sum_close,
        |       CAST(sum(trades) AS BIGINT) AS sum_trades,
        |       CAST(0 AS BIGINT) AS steady_scanned,
        |       CAST(0 AS BIGINT) AS steady_written,
        |       (SELECT n FROM pb) AS patched_written
        |FROM buckets GROUP BY symbol""".stripMargin,

    // the capped drain's declarative twin (r17 #6): same base/patch
    // merge as s18 over the last nine hours, plus the drain
    // arithmetic — polls = ceil(calendar window / cap), scanned =
    // observed buckets in the window exactly once, written = distinct
    // patched buckets, zero cap violations
    "s19_capped_drain_roundtrip" ->
      """WITH sym0 AS (
        |  SELECT 'SYM' || lpad(CAST(user_id % 5 AS VARCHAR), 2, '0') || 'USDT'
        |           AS symbol,
        |         date_trunc('minute', ts) AS m, value, event_type
        |  FROM events),
        |cutoff AS (SELECT max(m) - INTERVAL 9 HOUR AS c FROM sym0),
        |sym AS (SELECT * FROM sym0
        |        WHERE m >= (SELECT c FROM cutoff)),
        |base AS (SELECT symbol, m, round(sum(value), 4) + 0.0 AS open
        |         FROM sym GROUP BY 1, 2),
        |patch AS (SELECT symbol, m, round(sum(value), 4) + 1000.0 AS open
        |          FROM sym
        |          WHERE event_type = 'error'
        |            AND m >= (SELECT max(m) - INTERVAL 3 HOUR FROM sym)
        |          GROUP BY 1, 2),
        |merged AS (
        |  SELECT b.symbol, b.m, coalesce(p.open, b.open) AS open
        |  FROM base b LEFT JOIN patch p ON b.symbol = p.symbol AND b.m = p.m),
        |-- 1m spec: every observed minute is one complete bucket
        |lk AS (SELECT date_diff('minute', min(m), max(m)) + 1 AS span FROM sym),
        |f2 AS (SELECT min(m) AS f FROM patch),
        |w2 AS (SELECT date_diff('minute', (SELECT f FROM f2), max(m)) + 1
        |         AS span FROM sym),
        |pm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM patch),
        |sc2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
        |        WHERE m >= (SELECT f FROM f2)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_buckets,
        |       round(sum(open + 0.5), 2) AS sum_close,
        |       CAST(10 * count(*) AS BIGINT) AS sum_trades,
        |       CAST(0 AS BIGINT) AS steady_scanned,
        |       CAST(0 AS BIGINT) AS steady_written,
        |       CAST(ceil((SELECT span FROM lk) / 480.0) AS BIGINT)
        |         AS drain1_polls,
        |       (SELECT n FROM tot) AS drain1_scanned,
        |       (SELECT n FROM tot) AS drain1_written,
        |       -- empty patch (no error minutes in the patch window at
        |       -- tiny SFs): the engine's drain loop still runs exactly
        |       -- one poll, which token-skips — 1, not NULL
        |       CAST(coalesce(ceil((SELECT span FROM w2) / 480.0), 1)
        |              AS BIGINT) AS drain2_polls,
        |       (SELECT n FROM sc2) AS drain2_scanned,
        |       (SELECT n FROM pm) AS drain2_written,
        |       CAST(0 AS BIGINT) AS cap_violations
        |FROM merged GROUP BY symbol""".stripMargin,

    // the budget-driven drain's declarative twin (r18 #3): same
    // base/patch merge over the last 75 MINUTES, but the cap
    // trajectory is model-derived and hardware-dependent, so the
    // oracle pins only the trajectory-INDEPENDENT invariants —
    // content, cumulative scanned/written (cursor: each observed
    // bucket exactly once; write-skip: patched buckets only), steady
    // zeros, the multi-poll shape (first seeded cap is
    // max(20, span·2/3), so a >20-minute span must take ≥2 polls),
    // convergence, and (r20) the cost-model round-trip: ≥2 stored
    // observations and an engaged two-term fit after drain1
    "s20_budget_drain_roundtrip" ->
      """WITH sym0 AS (
        |  SELECT 'SYM' || lpad(CAST(user_id % 5 AS VARCHAR), 2, '0') || 'USDT'
        |           AS symbol,
        |         date_trunc('minute', ts) AS m, value, event_type
        |  FROM events),
        |cutoff AS (SELECT max(m) - INTERVAL 75 MINUTE AS c FROM sym0),
        |sym AS (SELECT * FROM sym0 WHERE m >= (SELECT c FROM cutoff)),
        |base AS (SELECT symbol, m, round(sum(value), 4) + 0.0 AS open
        |         FROM sym GROUP BY 1, 2),
        |patch AS (SELECT symbol, m, round(sum(value), 4) + 1000.0 AS open
        |          FROM sym WHERE event_type = 'error' GROUP BY 1, 2),
        |merged AS (
        |  SELECT b.symbol, b.m, coalesce(p.open, b.open) AS open
        |  FROM base b LEFT JOIN patch p ON b.symbol = p.symbol AND b.m = p.m),
        |lk AS (SELECT date_diff('minute', min(m), max(m)) + 1 AS span FROM sym),
        |f2 AS (SELECT min(m) AS f FROM patch),
        |pm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM patch),
        |sc2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base
        |        WHERE m >= (SELECT f FROM f2)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_buckets,
        |       round(sum(open + 0.5), 2) AS sum_close,
        |       CAST(10 * count(*) AS BIGINT) AS sum_trades,
        |       CAST(0 AS BIGINT) AS steady_scanned,
        |       CAST(0 AS BIGINT) AS steady_written,
        |       (SELECT n FROM tot) AS drain1_scanned,
        |       (SELECT n FROM tot) AS drain1_written,
        |       (SELECT n FROM sc2) AS drain2_scanned,
        |       (SELECT n FROM pm) AS drain2_written,
        |       ((SELECT span FROM lk) > 20) AS multi_poll,
        |       TRUE AS converged,
        |       TRUE AS cost_obs_present,
        |       TRUE AS model_engaged
        |FROM merged GROUP BY symbol""".stripMargin,

    // the recall ledger's declarative twin: identical md5-derived
    // verdict fixture, 15-minute tumbling windows (epoch-aligned, like
    // Spark's window()), filtered distinct-count + conditional sums
    "stream_recall_ledger" ->
      """WITH v AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           AS h
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         'b' || CAST(h % 16 AS VARCHAR) AS bucket,
        |         1735689600000 + (h % 180) * 60000 AS event_ms,
        |         (h % 7) = 0 AS saturated,
        |         CAST(h % 3 AS INT) AS pruned
        |  FROM v)
        |SELECT make_timestamp((event_ms // 900000) * 900000 * 1000)
        |         AS window_start,
        |       make_timestamp(((event_ms // 900000) * 900000 + 900000) * 1000)
        |         AS window_end,
        |       CAST(count(DISTINCT CASE WHEN saturated THEN bucket END)
        |         AS BIGINT) AS buckets_saturated,
        |       CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT)
        |         AS arrivals_at_cap,
        |       CAST(sum(pruned) AS BIGINT) AS members_pruned_by_horizon,
        |       CAST(count(*) AS BIGINT) AS band_rows,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS docs_seen
        |FROM w GROUP BY 1, 2""".stripMargin,

    "txt_quality_score" ->
      """WITH d AS (SELECT doc_id, text,
        |                  string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens,
        |       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |             / len(toks), 6) AS mean_token_len,
        |       round(CAST(len(list_filter(toks, x -> x IN
        |               ('the','and','of','to','a','in','is','on'))) AS DOUBLE)
        |             / len(toks), 6) AS stopword_ratio,
        |       round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |                  AS DOUBLE) / length(text), 6) AS punct_ratio
        |FROM d""".stripMargin,

    "txt_token_count" ->
      """SELECT source,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |         AS total_tokens,
        |       round(avg(len(string_split_regex(trim(text), '\s+'))), 6) AS avg_tokens,
        |       count(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,

    "txt_token_count_bpe" ->
      """SELECT source,
        |       CAST(sum(len(regexp_extract_all(text,
        |         '''\p{L}{1,2}| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
        |         AS BIGINT) AS total_bpe_tokens,
        |       round(avg(len(regexp_extract_all(text,
        |         '''\p{L}{1,2}| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))), 6)
        |         AS avg_bpe_tokens,
        |       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |         AS total_ws_tokens,
        |       count(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,

    "txt_vocab_topk" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |FROM tk GROUP BY token
        |ORDER BY cnt DESC, token ASC LIMIT 50""".stripMargin,

    "sample_topk_per_source" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents)
        |SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 5""".stripMargin,

    "sample_stratified_hash" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |           AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket FROM d
        |WHERE bucket < CASE
        |  WHEN source IN ('src0','src1','src2','src3','src4') THEN 50
        |  WHEN source IN ('src5','src6','src7','src8','src9') THEN 20
        |  ELSE 10 END""".stripMargin,

    "txt_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |           / len(toks) AS mwl,
        |         CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |           AS DOUBLE) / len(toks) AS alpha,
        |         CAST(len(list_filter(toks, x -> x IN
        |           ('the','and','of','to','a','in','is','on'))) AS BIGINT) AS n_stop
        |  FROM d)
        |SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
        |       round(alpha, 6) AS alpha_word_ratio, n_stop,
        |       (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |        AND alpha >= 0.8 AND n_stop >= 2) AS keep
        |FROM m""".stripMargin,

    "txt_chunk_tokens" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         CASE WHEN n <= 128 THEN 1 ELSE (n - 33) // 96 + 1 END AS n_chunks
        |  FROM d),
        |u AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |       least(128, n - chunk_idx * 96) AS chunk_tokens
        |FROM u""".stripMargin,

    "ann_sq8_quantize" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, emb, list_min(emb) AS mn, list_max(emb) AS mx FROM e),
        |u AS (
        |  SELECT vec_id, emb, mn, mx,
        |         unnest(generate_series(1, len(emb))) AS gs
        |  FROM m)
        |SELECT vec_id, gs - 1 AS dim,
        |       CASE WHEN mx = mn THEN 0
        |            ELSE least(255, CAST(floor((emb[gs] - mn) * 255.0 / (mx - mn))
        |                                AS BIGINT)) END AS q
        |FROM u""".stripMargin,

    "txt_langid" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|nicht|ist)\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|y)\b')) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |            WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |            WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
        |            ELSE 'es' END AS pred_lang,
        |       (CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |             WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |             WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
        |             ELSE 'es' END) = lang AS is_match
        |FROM s""".stripMargin,

    "txt_fingerprint_dedup" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
        |         AS n_distinct,
        |       count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
        |         AS n_dups
        |FROM documents GROUP BY source""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(
        |           generate_series(1, greatest(len(tk) - 2, 0)),
        |           i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT)) AS sh
        |  FROM w),
        |p AS (
        |  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
        |         len(a.sh) + len(b.sh) AS s
        |  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT * FROM (
        |  SELECT source, id_a, id_b, round(i / (s - i), 6) AS jaccard FROM p)
        |WHERE jaccard >= 0.06""".stripMargin,

    "dedup_ngram_jaccard_capped" ->
      """WITH w AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |           generate_series(1, greatest(len(tk) - 2, 0)),
        |           i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT))) AS h
        |  FROM w),
        |hot AS (SELECT source, h FROM ex GROUP BY source, h HAVING count(*) > 20),
        |kept AS (SELECT ex.* FROM ex ANTI JOIN hot ON ex.source = hot.source AND ex.h = hot.h),
        |sizes AS (SELECT source, doc_id, count(*) AS sz FROM kept GROUP BY source, doc_id),
        |k AS (SELECT kept.source, kept.doc_id, kept.h, sizes.sz
        |      FROM kept JOIN sizes ON sizes.source = kept.source AND sizes.doc_id = kept.doc_id),
        |p AS (
        |  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |         a.sz AS sz_a, b.sz AS sz_b, CAST(count(*) AS DOUBLE) AS i
        |  FROM k a JOIN k b ON a.source = b.source AND a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT * FROM (
        |  SELECT source, id_a, id_b, round(i / (sz_a + sz_b - i), 6) AS jaccard FROM p)
        |WHERE jaccard >= 0.06""".stripMargin,

    "dedup_minhash_pairs" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH $minhashAutosizeBandsCtes, " +
        s"pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared_bands " +
        s"  FROM abands x JOIN abands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
        s"SELECT p.id_a, p.id_b, p.n_shared_bands, " +
        s"  round(CAST($agree AS DOUBLE) / 16.0, 6) AS est_jaccard, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM pairs p JOIN sig a ON a.doc_id = p.id_a JOIN sig b ON b.doc_id = p.id_b"
    },

    // Est-gated exact verify under AUTO-SIZED banding: same integer
    // gates as the Spark side (agree >= 4; 3*i >= sz_a+sz_b with
    // i >= 1) so no float boundary can flip a row; the geometry is
    // re-derived from count(*) via the integer threshold chain and
    // num_bands/rows_per_band ride in the output, hash-pinning the
    // sizing decision. DuckDB keeps the readable distinct-first form
    // (gate-then-distinct ≡ distinct-then-gate for a deterministic
    // per-pair estimate).
    "dedup_minhash_pairs_est" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH $minhashAutosizeBandsCtes, " +
        s"pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared_bands " +
        s"  FROM abands x JOIN abands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        s"gated AS (SELECT p.id_a, p.id_b, p.n_shared_bands, ($agree) AS agree " +
        s"  FROM pairs p JOIN sig a ON a.doc_id = p.id_a JOIN sig b ON b.doc_id = p.id_b), " +
        s"surv AS (SELECT * FROM gated WHERE agree >= 4), " +
        s"ex AS (SELECT s.id_a, s.id_b, s.n_shared_bands, s.agree, " +
        s"  CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS i, " +
        s"  CAST(len(da.sh) + len(db.sh) AS BIGINT) AS ssum " +
        s"  FROM surv s JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b) " +
        s"SELECT id_a, id_b, n_shared_bands, " +
        s"  round(CAST(agree AS DOUBLE) / 16.0, 6) AS est_jaccard, " +
        s"  round(CAST(i AS DOUBLE) / CAST(ssum - i AS DOUBLE), 6) AS jaccard, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM ex WHERE i >= 1 AND i * 3 >= ssum"
    },

    "dedup_bucket_cap_guard" ->
      (s"WITH $minhashBandsCtes, " +
        "occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS occupancy " +
        "        FROM bands GROUP BY 1) " +
        "SELECT occupancy, CAST(count(*) AS BIGINT) AS n_buckets, " +
        "       occupancy <= 2 AS kept " +
        "FROM occ GROUP BY occupancy"),

    // Duplicate clusters + canonical pick: DuckDB computes the same
    // components with a recursive reachability CTE (min reachable id
    // per doc == the propagated min label).
    "dedup_cc_canonical" ->
      (s"WITH RECURSIVE $minhashBandsCtes, " +
        "pairs AS (SELECT DISTINCT x.doc_id AS src, y.doc_id AS dst " +
        "  FROM bands x JOIN bands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id), " +
        "edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs), " +
        "reach(id, r) AS (" +
        "  SELECT doc_id, doc_id FROM documents " +
        "  UNION " +
        "  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r) " +
        "SELECT id AS doc_id, min(r) AS component_id, " +
        "  (min(r) = id) AS is_canonical " +
        "FROM reach GROUP BY id"),

    "dedup_simhash" -> {
      val bits = (0 until 32).map { b =>
        s"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      """WITH d AS (
        |  SELECT doc_id,
        |         list_transform(string_split_regex(trim(text), '\s+'),
        |           t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
        |  FROM documents)
        |""".stripMargin + s"SELECT doc_id, $bits AS simhash FROM d"
    },

    "dedup_minhash_bands" -> {
      val shingles =
        """list_distinct(list_transform(
          |  generate_series(1, greatest(len(tk) - 2, 0)),
          |  i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT))""".stripMargin
      val mins = (0 until 16).map { p =>
        val (a, b) = TextFns.minhashPerm(p)
        s"list_min(list_transform(sh, h -> ($a * (h % 4294967296) + $b) % ${TextFns.MinhashPrime})) AS m$p"
      }.mkString(", ")
      val bands = (0 until 8).map { b =>
        s"md5(concat_ws('|', CAST(m${b * 2} AS VARCHAR), CAST(m${b * 2 + 1} AS VARCHAR))) AS band$b"
      }.mkString(", ")
      s"WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents), " +
        s"d AS (SELECT doc_id, $shingles AS sh FROM w), " +
        s"sig AS (SELECT doc_id, $mins FROM d) " +
        s"SELECT doc_id, $bands FROM sig"
    },

    // Auto-sized twin: geometry from count(*) with integer-exact
    // threshold comparisons (r = smallest r with n <= 128*10^r — no
    // float log whose ceil could flip an ulp), bands gated on b < 16//r,
    // band key = md5 over the signature SLICE (coalesce('') matches
    // Spark concat_ws's all-null -> "" behavior for empty-shingle docs).
    "dedup_minhash_autosize" ->
      s"""WITH $minhashAutosizeBandsCtes,
         |oc AS (SELECT bucket, count(*) AS occ FROM abands GROUP BY bucket)
         |SELECT occ, count(*) AS n_buckets,
         |       (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands,
         |       (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band,
         |       (SELECT n FROM params) AS n_docs
         |FROM oc GROUP BY occ""".stripMargin,

    "dedup_cc_autosize" ->
      s"""WITH RECURSIVE $minhashAutosizeBandsCtes,
         |bmin AS (SELECT bucket, min(doc_id) AS src FROM abands GROUP BY bucket),
         |pairs AS (SELECT DISTINCT m.src, a.doc_id AS dst
         |  FROM abands a JOIN bmin m ON a.bucket = m.bucket AND m.src < a.doc_id),
         |edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
         |reach(id, rr) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.rr)
         |SELECT id AS doc_id, min(rr) AS component_id,
         |  (min(rr) = id) AS is_canonical,
         |  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands,
         |  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band
         |FROM reach GROUP BY id""".stripMargin,

    "dedup_cc_incremental" ->
      s"""WITH RECURSIVE $minhashAutosizeBandsCtes,
         |sp AS (SELECT a.doc_id, a.bucket, (a.doc_id % 4 = 0) AS is_new FROM abands a),
         |eb AS (SELECT doc_id, bucket FROM sp WHERE NOT is_new),
         |ebm AS (SELECT bucket, min(doc_id) AS src FROM eb GROUP BY bucket),
         |ep AS (SELECT DISTINCT m.src, a.doc_id AS dst
         |  FROM eb a JOIN ebm m ON a.bucket = m.bucket AND m.src < a.doc_id),
         |ee AS (SELECT src, dst FROM ep UNION SELECT dst, src FROM ep),
         |er(id, rr) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 4 <> 0
         |  UNION
         |  SELECT er.id, e.dst FROM er JOIN ee e ON e.src = er.rr),
         |assign AS (SELECT id, min(rr) AS comp FROM er GROUP BY id),
         |ae AS (SELECT comp AS src, id AS dst FROM assign WHERE comp <> id),
         |touched AS (SELECT DISTINCT bucket FROM sp WHERE is_new),
         |tb AS (SELECT s.doc_id, s.bucket FROM sp s JOIN touched t ON t.bucket = s.bucket),
         |tbm AS (SELECT bucket, min(doc_id) AS src FROM tb GROUP BY bucket),
         |tp AS (SELECT DISTINCT m.src, a.doc_id AS dst
         |  FROM tb a JOIN tbm m ON a.bucket = m.bucket AND m.src < a.doc_id),
         |al0 AS (SELECT src, dst FROM ae UNION SELECT src, dst FROM tp),
         |al AS (SELECT src, dst FROM al0 UNION SELECT dst, src FROM al0),
         |r2(id, rr) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r2.id, e.dst FROM r2 JOIN al e ON e.src = r2.rr)
         |SELECT id AS doc_id, min(rr) AS component_id,
         |  (min(rr) = id) AS is_canonical, (id % 4 = 0) AS is_new,
         |  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands,
         |  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band
         |FROM r2 GROUP BY id""".stripMargin,

    // Verified-edge closure: gated pairs CTE (same integer gates as the
    // Spark side — agree >= 4, then 3*i >= sz sum with i >= 1) feeds the
    // recursive reachability closure instead of raw bucket pairs.
    "dedup_cc_verified" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH RECURSIVE $minhashAutosizeBandsCtes, " +
        s"cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        s"  FROM abands x JOIN abands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id), " +
        s"surv AS (SELECT c.id_a, c.id_b FROM cand c " +
        s"  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b " +
        s"  WHERE ($agree) >= 4), " +
        s"vp AS (SELECT s.id_a AS src, s.id_b AS dst FROM surv s " +
        s"  JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b " +
        s"  WHERE len(list_intersect(da.sh, db.sh)) >= 1 " +
        s"    AND len(list_intersect(da.sh, db.sh)) * 3 >= len(da.sh) + len(db.sh)), " +
        s"edges AS (SELECT src, dst FROM vp UNION SELECT dst, src FROM vp), " +
        s"reach(id, rr) AS (" +
        s"  SELECT doc_id, doc_id FROM documents " +
        s"  UNION " +
        s"  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.rr) " +
        s"SELECT id AS doc_id, min(rr) AS component_id, " +
        s"  (min(rr) = id) AS is_canonical, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM reach GROUP BY id"
    },

    // Verified-STAR closure: candidates restricted to (bucket-min,
    // member) pairs; gates and closure identical to dedup_cc_verified.
    "dedup_cc_verified_star" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH RECURSIVE $minhashAutosizeBandsCtes, " +
        s"bm AS (SELECT bucket, min(doc_id) AS id_a FROM abands GROUP BY bucket), " +
        s"cand AS (SELECT DISTINCT m.id_a, x.doc_id AS id_b " +
        s"  FROM abands x JOIN bm m ON x.bucket = m.bucket AND m.id_a < x.doc_id), " +
        s"surv AS (SELECT c.id_a, c.id_b FROM cand c " +
        s"  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b " +
        s"  WHERE ($agree) >= 4), " +
        s"vp AS (SELECT s.id_a AS src, s.id_b AS dst FROM surv s " +
        s"  JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b " +
        s"  WHERE len(list_intersect(da.sh, db.sh)) >= 1 " +
        s"    AND len(list_intersect(da.sh, db.sh)) * 3 >= len(da.sh) + len(db.sh)), " +
        s"edges AS (SELECT src, dst FROM vp UNION SELECT dst, src FROM vp), " +
        s"reach(id, rr) AS (" +
        s"  SELECT doc_id, doc_id FROM documents " +
        s"  UNION " +
        s"  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.rr) " +
        s"SELECT id AS doc_id, min(rr) AS component_id, " +
        s"  (min(rr) = id) AS is_canonical, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM reach GROUP BY id"
    },

    // Star + rescue: the star closure's verified pairs (vp), plus a
    // second round where every (hub, member) candidate NOT in vp
    // re-pairs with its highest-signature-agreement non-hub bucket
    // partner (ties → smallest pid) and passes the same two gates —
    // mirrors DedupOps.verifiedStarRescueEdges exactly.
    "dedup_cc_verified_star_rescue" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH RECURSIVE $minhashAutosizeBandsCtes, " +
        s"bm AS (SELECT bucket, min(doc_id) AS id_a FROM abands GROUP BY bucket), " +
        s"cand AS (SELECT DISTINCT m.id_a, x.doc_id AS id_b " +
        s"  FROM abands x JOIN bm m ON x.bucket = m.bucket AND m.id_a < x.doc_id), " +
        s"surv AS (SELECT c.id_a, c.id_b FROM cand c " +
        s"  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b " +
        s"  WHERE ($agree) >= 4), " +
        s"vp AS (SELECT s.id_a AS src, s.id_b AS dst FROM surv s " +
        s"  JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b " +
        s"  WHERE len(list_intersect(da.sh, db.sh)) >= 1 " +
        s"    AND len(list_intersect(da.sh, db.sh)) * 3 >= len(da.sh) + len(db.sh)), " +
        s"mem AS (SELECT DISTINCT bucket, doc_id FROM abands), " +
        s"failed AS (SELECT m2.bucket, m2.id_a AS hub, x.doc_id FROM mem x " +
        s"  JOIN bm m2 ON x.bucket = m2.bucket AND m2.id_a < x.doc_id " +
        s"  WHERE NOT EXISTS (SELECT 1 FROM vp v " +
        s"    WHERE v.src = m2.id_a AND v.dst = x.doc_id)), " +
        s"scored AS (SELECT f.bucket, f.doc_id, x.doc_id AS pid, ($agree) AS agree " +
        s"  FROM failed f JOIN mem x " +
        s"    ON x.bucket = f.bucket AND x.doc_id <> f.doc_id AND x.doc_id <> f.hub " +
        s"  JOIN sig a ON a.doc_id = f.doc_id JOIN sig b ON b.doc_id = x.doc_id), " +
        s"top1 AS (SELECT bucket, doc_id, pid FROM (" +
        s"  SELECT bucket, doc_id, pid, row_number() OVER (" +
        s"    PARTITION BY bucket, doc_id ORDER BY agree DESC, pid ASC) AS rn " +
        s"  FROM scored) WHERE rn = 1), " +
        s"rcand AS (SELECT DISTINCT least(doc_id, pid) AS id_a, " +
        s"  greatest(doc_id, pid) AS id_b FROM top1), " +
        s"rsurv AS (SELECT c.id_a, c.id_b FROM rcand c " +
        s"  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b " +
        s"  WHERE ($agree) >= 4), " +
        s"rvp AS (SELECT s.id_a AS src, s.id_b AS dst FROM rsurv s " +
        s"  JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b " +
        s"  WHERE len(list_intersect(da.sh, db.sh)) >= 1 " +
        s"    AND len(list_intersect(da.sh, db.sh)) * 3 >= len(da.sh) + len(db.sh)), " +
        s"vp2 AS (SELECT src, dst FROM vp UNION SELECT src, dst FROM rvp), " +
        s"edges AS (SELECT src, dst FROM vp2 UNION SELECT dst, src FROM vp2), " +
        s"reach(id, rr) AS (" +
        s"  SELECT doc_id, doc_id FROM documents " +
        s"  UNION " +
        s"  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.rr) " +
        s"SELECT id AS doc_id, min(rr) AS component_id, " +
        s"  (min(rr) = id) AS is_canonical, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM reach GROUP BY id"
    },

    // The oracle for the INCREMENTAL verified closure is the BATCH
    // verified closure over the full corpus — identical gated-pairs
    // chain as dedup_cc_verified (agree >= 4, exact 3*i >= ssum) plus
    // the is_new marker. A hash-green row therefore pins the
    // equivalence incremental ≡ batch, the operator's whole contract.
    "dedup_cc_verified_incremental" -> {
      val agree = (0 until 16).map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH RECURSIVE $minhashAutosizeBandsCtes, " +
        s"cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b " +
        s"  FROM abands x JOIN abands y ON x.bucket = y.bucket AND x.doc_id < y.doc_id), " +
        s"surv AS (SELECT c.id_a, c.id_b FROM cand c " +
        s"  JOIN sig a ON a.doc_id = c.id_a JOIN sig b ON b.doc_id = c.id_b " +
        s"  WHERE ($agree) >= 4), " +
        s"vp AS (SELECT s.id_a AS src, s.id_b AS dst FROM surv s " +
        s"  JOIN d da ON da.doc_id = s.id_a JOIN d db ON db.doc_id = s.id_b " +
        s"  WHERE len(list_intersect(da.sh, db.sh)) >= 1 " +
        s"    AND len(list_intersect(da.sh, db.sh)) * 3 >= len(da.sh) + len(db.sh)), " +
        s"edges AS (SELECT src, dst FROM vp UNION SELECT dst, src FROM vp), " +
        s"reach(id, rr) AS (" +
        s"  SELECT doc_id, doc_id FROM documents " +
        s"  UNION " +
        s"  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.rr) " +
        s"SELECT id AS doc_id, min(rr) AS component_id, " +
        s"  (min(rr) = id) AS is_canonical, (id % 4 = 0) AS is_new, " +
        s"  (SELECT CAST(greatest(1, 16 // r) AS BIGINT) FROM params) AS num_bands, " +
        s"  (SELECT CAST(r AS BIGINT) FROM params) AS rows_per_band " +
        s"FROM reach GROUP BY id"
    },

    "htf_aggregate_1h" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute FROM events),
        |mw AS (
        |  SELECT minute, ts, event_id, value, event_type, k,
        |         first_value(value) OVER w AS mo, last_value(value) OVER w AS mc
        |  FROM e WINDOW w AS (PARTITION BY minute ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |mins AS (
        |  SELECT minute, any_value(mo) AS o, max(value) AS hi, min(value) AS lo,
        |         any_value(mc) AS c, sum(value) AS vb, sum(value * k) AS vu,
        |         count(*) AS tc,
        |         max(CASE WHEN event_type = 'view' THEN CAST(k AS DOUBLE) END) AS oi
        |  FROM mw GROUP BY minute),
        |b AS (
        |  SELECT date_trunc('hour', minute) AS bucket_start, minute, o, hi, lo, c,
        |         vb, vu, tc, oi,
        |         first_value(o) OVER wb AS bo, last_value(c) OVER wb AS bc,
        |         last_value(oi IGNORE NULLS) OVER wb AS boi,
        |         lag(c) OVER (PARTITION BY date_trunc('hour', minute)
        |                      ORDER BY minute) AS prev_c
        |  FROM mins
        |  WINDOW wb AS (PARTITION BY date_trunc('hour', minute) ORDER BY minute
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT bucket_start,
        |       round(any_value(bo), 4) AS open, round(max(hi), 4) AS high,
        |       round(min(lo), 4) AS low, round(any_value(bc), 4) AS close,
        |       round(sum(vb), 4) AS volume_btc,
        |       round(CASE WHEN sum(vb) > 0 THEN sum(vu) / sum(vb) END, 4) AS vwap,
        |       CAST(sum(tc) AS BIGINT) AS trade_count,
        |       count(*) AS observed_minutes_in_bucket,
        |       60 - count(*) AS missing_minutes_count,
        |       count(*) = 60 AS bucket_complete,
        |       round(any_value(boi), 4) AS oi_contracts,
        |       round(sqrt(coalesce(sum(CASE WHEN prev_c > 0 AND c > 0
        |                                    THEN pow(ln(c / prev_c), 2) END), 0.0)), 6)
        |         AS realized_vol_htf
        |FROM b GROUP BY bucket_start""".stripMargin,

    "htf_aggregate_1w" -> htfCalendarOracle("week", "7 DAY"),
    "htf_aggregate_1mo" -> htfCalendarOracle("month", "1 MONTH"),

    // Unrolled 2-iteration Lloyd's: 3 assignment passes (seeds → c1 →
    // c2) + 2 centroid updates, distances and centroid components
    // stable-rounded at 6dp on both engines, argmin ties by cluster id.
    "ivf_kmeans_train" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |dims AS (SELECT vec_id, i + 1 AS d, vec[CAST(i + 1 AS INT)] AS x
        |         FROM v, range(64) t(i)),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |                 vec_id
        |          FROM (SELECT vec_id FROM embeddings
        |                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4)),
        |c0 AS (SELECT s.c, dm.d, dm.x AS cx FROM seeds s JOIN dims dm ON dm.vec_id = s.vec_id),
        |d1 AS (SELECT dims.vec_id, c0.c, round(sum((dims.x - c0.cx) * (dims.x - c0.cx)), 6) AS dist
        |       FROM dims JOIN c0 ON c0.d = dims.d GROUP BY dims.vec_id, c0.c),
        |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.c, dims.d, round(avg(dims.x), 6) AS cx
        |       FROM dims JOIN a1 USING (vec_id) GROUP BY a1.c, dims.d),
        |d2 AS (SELECT dims.vec_id, c1.c, round(sum((dims.x - c1.cx) * (dims.x - c1.cx)), 6) AS dist
        |       FROM dims JOIN c1 ON c1.d = dims.d GROUP BY dims.vec_id, c1.c),
        |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d2) WHERE rn = 1),
        |c2 AS (SELECT a2.c, dims.d, round(avg(dims.x), 6) AS cx
        |       FROM dims JOIN a2 USING (vec_id) GROUP BY a2.c, dims.d),
        |d3 AS (SELECT dims.vec_id, c2.c, round(sum((dims.x - c2.cx) * (dims.x - c2.cx)), 6) AS dist
        |       FROM dims JOIN c2 ON c2.d = dims.d GROUP BY dims.vec_id, c2.c),
        |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d3) WHERE rn = 1)
        |SELECT c AS cluster, count(*) AS n_members,
        |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
        |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
        |FROM a3 GROUP BY c""".stripMargin,

    // Sample-trained twin: the two Lloyd iterations run over the
    // md5-hash 1-in-4 sample only (sdims); the FINAL assignment pass
    // (d3/a3) runs over every vector against the sample-trained c2.
    "ivf_kmeans_sample_train" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |dims AS (SELECT vec_id, i + 1 AS d, vec[CAST(i + 1 AS INT)] AS x
        |         FROM v, range(64) t(i)),
        |samp AS (SELECT vec_id FROM embeddings
        |         WHERE (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 4) = 0),
        |sdims AS (SELECT dims.* FROM dims JOIN samp USING (vec_id)),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |                 vec_id
        |          FROM (SELECT vec_id FROM samp
        |                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4)),
        |c0 AS (SELECT s.c, dm.d, dm.x AS cx FROM seeds s JOIN sdims dm ON dm.vec_id = s.vec_id),
        |d1 AS (SELECT sdims.vec_id, c0.c, round(sum((sdims.x - c0.cx) * (sdims.x - c0.cx)), 6) AS dist
        |       FROM sdims JOIN c0 ON c0.d = sdims.d GROUP BY sdims.vec_id, c0.c),
        |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.c, sdims.d, round(avg(sdims.x), 6) AS cx
        |       FROM sdims JOIN a1 USING (vec_id) GROUP BY a1.c, sdims.d),
        |d2 AS (SELECT sdims.vec_id, c1.c, round(sum((sdims.x - c1.cx) * (sdims.x - c1.cx)), 6) AS dist
        |       FROM sdims JOIN c1 ON c1.d = sdims.d GROUP BY sdims.vec_id, c1.c),
        |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d2) WHERE rn = 1),
        |c2 AS (SELECT a2.c, sdims.d, round(avg(sdims.x), 6) AS cx
        |       FROM sdims JOIN a2 USING (vec_id) GROUP BY a2.c, sdims.d),
        |d3 AS (SELECT dims.vec_id, c2.c, round(sum((dims.x - c2.cx) * (dims.x - c2.cx)), 6) AS dist
        |       FROM dims JOIN c2 ON c2.d = dims.d GROUP BY dims.vec_id, c2.c),
        |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d3) WHERE rn = 1)
        |SELECT c AS cluster, count(*) AS n_members,
        |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
        |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
        |FROM a3 GROUP BY c""".stripMargin,

    // Incremental IVF tick: the oracle computes the ONE-SHOT full
    // assignment under the same existing-only sample-trained centroids
    // — the Spark side's yesterday+delta merge must equal it exactly,
    // so both the pointwise assignment and the mergeable-stats algebra
    // are hash-pinned.
    "ann_ivf_incremental" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |dims AS (SELECT vec_id, i + 1 AS d, vec[CAST(i + 1 AS INT)] AS x
        |         FROM v, range(64) t(i)),
        |samp AS (SELECT vec_id FROM embeddings
        |         WHERE vec_id % 4 != 0
        |           AND (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 4) = 0),
        |sdims AS (SELECT dims.* FROM dims JOIN samp USING (vec_id)),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |                 vec_id
        |          FROM (SELECT vec_id FROM samp
        |                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4)),
        |c0 AS (SELECT s.c, dm.d, dm.x AS cx FROM seeds s JOIN sdims dm ON dm.vec_id = s.vec_id),
        |d1 AS (SELECT sdims.vec_id, c0.c, round(sum((sdims.x - c0.cx) * (sdims.x - c0.cx)), 6) AS dist
        |       FROM sdims JOIN c0 ON c0.d = sdims.d GROUP BY sdims.vec_id, c0.c),
        |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.c, sdims.d, round(avg(sdims.x), 6) AS cx
        |       FROM sdims JOIN a1 USING (vec_id) GROUP BY a1.c, sdims.d),
        |d2 AS (SELECT sdims.vec_id, c1.c, round(sum((sdims.x - c1.cx) * (sdims.x - c1.cx)), 6) AS dist
        |       FROM sdims JOIN c1 ON c1.d = sdims.d GROUP BY sdims.vec_id, c1.c),
        |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d2) WHERE rn = 1),
        |c2 AS (SELECT a2.c, sdims.d, round(avg(sdims.x), 6) AS cx
        |       FROM sdims JOIN a2 USING (vec_id) GROUP BY a2.c, sdims.d),
        |d3 AS (SELECT dims.vec_id, c2.c, round(sum((dims.x - c2.cx) * (dims.x - c2.cx)), 6) AS dist
        |       FROM dims JOIN c2 ON c2.d = dims.d GROUP BY dims.vec_id, c2.c),
        |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d3) WHERE rn = 1)
        |SELECT c AS cluster, count(*) AS n_members,
        |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
        |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id,
        |       CAST(sum(CASE WHEN vec_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM a3 GROUP BY c""".stripMargin,

    // Same unrolled Lloyd's at k=64 over the first-32-dims slice —
    // the scale-shape proof case for the broadcast-centroid assignment.
    "ivf_kmeans_train_k64" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |dims AS (SELECT vec_id, i + 1 AS d, vec[CAST(i + 1 AS INT)] AS x
        |         FROM v, range(32) t(i)),
        |seeds AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
        |                 vec_id
        |          FROM (SELECT vec_id FROM embeddings
        |                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64)),
        |c0 AS (SELECT s.c, dm.d, dm.x AS cx FROM seeds s JOIN dims dm ON dm.vec_id = s.vec_id),
        |d1 AS (SELECT dims.vec_id, c0.c, round(sum((dims.x - c0.cx) * (dims.x - c0.cx)), 6) AS dist
        |       FROM dims JOIN c0 ON c0.d = dims.d GROUP BY dims.vec_id, c0.c),
        |a1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d1) WHERE rn = 1),
        |c1 AS (SELECT a1.c, dims.d, round(avg(dims.x), 6) AS cx
        |       FROM dims JOIN a1 USING (vec_id) GROUP BY a1.c, dims.d),
        |d2 AS (SELECT dims.vec_id, c1.c, round(sum((dims.x - c1.cx) * (dims.x - c1.cx)), 6) AS dist
        |       FROM dims JOIN c1 ON c1.d = dims.d GROUP BY dims.vec_id, c1.c),
        |a2 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d2) WHERE rn = 1),
        |c2 AS (SELECT a2.c, dims.d, round(avg(dims.x), 6) AS cx
        |       FROM dims JOIN a2 USING (vec_id) GROUP BY a2.c, dims.d),
        |d3 AS (SELECT dims.vec_id, c2.c, round(sum((dims.x - c2.cx) * (dims.x - c2.cx)), 6) AS dist
        |       FROM dims JOIN c2 ON c2.d = dims.d GROUP BY dims.vec_id, c2.c),
        |a3 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number() OVER
        |         (PARTITION BY vec_id ORDER BY dist, c) AS rn FROM d3) WHERE rn = 1)
        |SELECT c AS cluster, count(*) AS n_members,
        |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id,
        |       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
        |FROM a3 GROUP BY c""".stripMargin,

    // Mirrors the native-route composition: bars + aux series per 15m
    // bucket; the exact-with-one-bar-fallback enrichment resolves (when
    // any bar lacks exact coverage — the populated-count gate) to
    // coalesce(next-bucket value, own-bucket value) because aux rows sit
    // exactly on bucket boundaries; funding is an ASOF join at bar close.
    "native_enrich_route" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  (epoch_ms(CAST(ts AS TIMESTAMP)) // 900000) * 900000 AS b
        |           FROM events),
        |pw AS (
        |  SELECT b, ts, event_id, value, k,
        |         first_value(value) OVER w AS fo, last_value(value) OVER w AS fc
        |  FROM e WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY b ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |bars AS (
        |  SELECT b, any_value(fo) AS o, max(value) AS h, min(value) AS l,
        |         any_value(fc) AS c,
        |         coalesce(sum(value), 0.0) AS vb,
        |         coalesce(sum(value * k), 0.0) AS vu,
        |         count(*) AS tc,
        |         sum(CASE WHEN k % 2 = 0 THEN value ELSE 0 END) AS tb
        |  FROM pw GROUP BY b),
        |mkw AS (
        |  SELECT b, value, first_value(value) OVER w AS mo, last_value(value) OVER w AS mc
        |  FROM e WHERE event_type = 'view'
        |  WINDOW w AS (PARTITION BY b ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |mk AS (SELECT b, any_value(mo) AS m_open, any_value(mc) AS m_close FROM mkw GROUP BY b),
        |ixw AS (
        |  SELECT b, value, first_value(value) OVER w AS io, last_value(value) OVER w AS ic
        |  FROM e WHERE event_type = 'click'
        |  WINDOW w AS (PARTITION BY b ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |ix AS (SELECT b, any_value(io) AS i_open, any_value(ic) AS i_close FROM ixw GROUP BY b),
        |f AS (
        |  SELECT ft, fr FROM (
        |    SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ft,
        |           CAST(k AS DOUBLE) / 10000.0 AS fr,
        |           row_number() OVER (PARTITION BY epoch_ms(CAST(ts AS TIMESTAMP))
        |                              ORDER BY event_id DESC) AS rn
        |    FROM e WHERE event_type = 'error' AND k IS NOT NULL) WHERE rn = 1),
        |fa AS (SELECT bars.b, f.fr FROM bars ASOF LEFT JOIN f ON bars.b + 900000 >= f.ft),
        |mk_gap AS (SELECT count(*) AS n FROM bars LEFT JOIN mk ON mk.b = bars.b
        |           WHERE mk.m_open IS NULL OR mk.m_close IS NULL),
        |ix_gap AS (SELECT count(*) AS n FROM bars LEFT JOIN ix ON ix.b = bars.b
        |           WHERE ix.i_open IS NULL OR ix.i_close IS NULL),
        |enr AS (
        |  SELECT bars.*,
        |    CASE WHEN (SELECT n FROM mk_gap) = 0 THEN mk1.m_close
        |         ELSE coalesce(mk2.m_close, mk1.m_close) END AS mark_close,
        |    CASE WHEN (SELECT n FROM ix_gap) = 0 THEN ix1.i_close
        |         ELSE coalesce(ix2.i_close, ix1.i_close) END AS index_close,
        |    fa.fr AS funding_rate
        |  FROM bars
        |  LEFT JOIN mk mk1 ON mk1.b = bars.b
        |  LEFT JOIN mk mk2 ON mk2.b = bars.b + 900000
        |  LEFT JOIN ix ix1 ON ix1.b = bars.b
        |  LEFT JOIN ix ix2 ON ix2.b = bars.b + 900000
        |  LEFT JOIN fa ON fa.b = bars.b),
        |drv AS (
        |  SELECT *, lag(funding_rate) OVER wo AS prev_fr, lag(c) OVER wo AS prev_c
        |  FROM enr WINDOW wo AS (ORDER BY b)),
        |tl AS (SELECT * FROM drv ORDER BY b DESC LIMIT 200)
        |SELECT strftime(epoch_ms(b), '%Y-%m-%dT%H:%M:%S') || '.000Z' AS timestamp,
        |  round(o, 4) AS open, round(c, 4) AS close,
        |  round(vb, 4) AS volume_btc,
        |  round(CASE WHEN vb > 0 THEN vu / vb ELSE c END, 4) AS vwap_bar,
        |  tc AS trade_count,
        |  round(CASE WHEN vb > 0 THEN tb / vb END, 6) AS taker_buy_ratio,
        |  round(tb - greatest(vb - tb, 0.0), 4) AS net_taker_vol_btc,
        |  round(mark_close, 4) AS mark_price_close,
        |  round(index_close, 4) AS index_price_close,
        |  round(CASE WHEN index_close IS NOT NULL AND index_close <> 0
        |             THEN mark_close / index_close - 1.0 END, 6) AS premium_index,
        |  round(funding_rate, 6) AS funding_rate,
        |  round(CASE WHEN funding_rate IS NOT NULL AND prev_fr IS NOT NULL
        |             THEN funding_rate - prev_fr END, 6) AS delta_funding_rate,
        |  round(CASE WHEN c > 0 AND prev_c > 0 THEN abs(ln(c / prev_c)) END, 6)
        |    AS realized_vol_bar
        |FROM tl""".stripMargin,

    "qagg_aggregate_15m" ->
      """WITH e AS (SELECT *, CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
        |                  date_trunc('minute', ts) AS minute FROM events),
        |mw AS (
        |  SELECT minute, ts, event_id, value, event_type, k,
        |         first_value(value) OVER w AS mo, last_value(value) OVER w AS mc
        |  FROM e WINDOW w AS (PARTITION BY minute ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |per_min AS (
        |  SELECT minute, any_value(mo) AS o, any_value(mc) AS c,
        |         sum(value) AS vb, sum(value * k) AS vu, count(*) AS tc,
        |         sum(CASE WHEN event_id % 2 = 0 THEN value ELSE -value END) AS net,
        |         max(CASE WHEN event_type = 'error'
        |                  THEN CAST(k AS DOUBLE) / 1000.0 END) AS fr
        |  FROM mw GROUP BY minute),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('minute', min(ts)) FROM events),
        |    (SELECT date_trunc('minute', max(ts)) FROM events),
        |    INTERVAL 1 MINUTE)) AS mts),
        |dense AS (
        |  SELECT mts, o, c, coalesce(vb, 0.0) AS vb, coalesce(vu, 0.0) AS vu,
        |         coalesce(tc, 0) AS tc, coalesce(net, 0.0) AS net, fr
        |  FROM spine LEFT JOIN per_min ON mts = minute),
        |ff AS (
        |  SELECT *, last_value(fr IGNORE NULLS) OVER
        |    (ORDER BY mts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS frf
        |  FROM dense),
        |bkt AS (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, mts) AS bs, mts, o, c, vb, tc, net,
        |         first_value(o) OVER wb AS bo, last_value(c) OVER wb AS bc,
        |         last_value(frf) OVER wb AS bfr,
        |         CASE WHEN c IS NOT NULL THEN c * vb END AS notional
        |  FROM ff
        |  WINDOW wb AS (PARTITION BY time_bucket(INTERVAL 15 MINUTE, mts)
        |                ORDER BY mts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |bars AS (
        |  SELECT bs, any_value(bo) AS o, any_value(bc) AS c, sum(vb) AS vb,
        |         sum(notional) AS notional, sum(tc) AS tc, sum(net) AS net,
        |         any_value(bfr) AS fr, count(*) AS n
        |  FROM bkt GROUP BY bs),
        |tl AS (
        |  SELECT * FROM bars WHERE n = 15 ORDER BY bs DESC LIMIT 200)
        |SELECT bs AS timestamp, round(o, 4) AS open, round(c, 4) AS close,
        |       round(vb, 4) AS volume_btc,
        |       round(CASE WHEN vb > 0 THEN notional / vb ELSE c END, 4) AS vwap_bar,
        |       CAST(tc AS BIGINT) AS trade_count, round(fr, 6) AS funding_rate,
        |       round(sum(net) OVER (ORDER BY bs
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cvd_btc
        |FROM tl""".stripMargin,

    "ann_lsh_bucket" -> {
      val planes = (0 until 8).map { p =>
        val dot = s"list_sum(list_transform(generate_series(1, 64), d -> " +
          s"CAST(embedding[d] AS DOUBLE) * " +
          s"((('0x' || substr(md5('7:$p:' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0 - 0.5)))"
        s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $planes AS bucket FROM embeddings"
    },

    // Auto-sized twin: the oracle derives the plane count from count(*)
    // with the SAME ceil-log2 rule as VectorFns.planesFor (integer
    // bucket count first, so log2 lands on exact powers of two), then
    // gates each of the 24 generated plane terms on p < planes.
    "ann_lsh_autosize" -> {
      val planeTerms = (0 until 24).map { p =>
        val dot = s"list_sum(list_transform(generate_series(1, 64), d -> " +
          s"CAST(embedding[d] AS DOUBLE) * " +
          s"((('0x' || substr(md5('7:$p:' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0 - 0.5)))"
        s"(CASE WHEN $p < (SELECT planes FROM params) AND ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH params AS (
         |  SELECT count(*) AS n,
         |         least(24, greatest(1,
         |           CAST(ceil(log2(ceil(count(*) / 128.0))) AS INT))) AS planes
         |  FROM embeddings),
         |b AS (SELECT vec_id, CAST($planeTerms AS BIGINT) AS bucket FROM embeddings)
         |SELECT bucket, count(*) AS n,
         |       (SELECT CAST(planes AS BIGINT) FROM params) AS num_planes,
         |       (SELECT n FROM params) AS n_vectors
         |FROM b GROUP BY bucket""".stripMargin
    },

    "dedup_embed_lsh" -> {
      def bucketExpr(seed: Int): String = (0 until 4).map { p =>
        val dot = s"list_sum(list_transform(generate_series(1, 64), d -> " +
          s"CAST(embedding[d] AS DOUBLE) * " +
          s"((('0x' || substr(md5('$seed:$p:' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0 - 0.5)))"
        s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id, 0 AS band, ${bucketExpr(11)} AS bucket FROM e
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, ${bucketExpr(23)} AS bucket FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
         |  FROM b a JOIN b bb ON a.band = bb.band AND a.bucket = bb.bucket
         |    AND a.vec_id < bb.vec_id),
         |p AS (
         |  SELECT id_a, id_b,
         |         round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
         |           pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) /
         |           (ea.nrm * eb.nrm), 5) AS cos
         |  FROM cand JOIN e ea ON ea.vec_id = cand.id_a
         |            JOIN e eb ON eb.vec_id = cand.id_b)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.42""".stripMargin
    },

    "dedup_embed_lsh_sq8" -> {
      // 24 generated plane terms gated on p < planes — the
      // ann_lsh_autosize technique, with planesFor's count re-derived
      // from count(*) in params (24 matches the Spark side's maxPlanes;
      // the earlier 12-term form clamped the rule at 2M vectors and let
      // candidate volume go quadratic)
      def bucketExpr(seed: Int): String = (0 until 24).map { p =>
        val dot = s"list_sum(list_transform(generate_series(1, 64), d -> " +
          s"CAST(embedding[d] AS DOUBLE) * " +
          s"((('0x' || substr(md5('$seed:$p:' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0 - 0.5)))"
        s"(CASE WHEN $p < (SELECT planes FROM params) AND ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      // mirrors the Spark pipeline EXACTLY, incl. the algebraic
      // expansion of the dequantized-cosine estimate and its operation
      // order (both engines left-associate * and +)
      s"""WITH params AS (
         |  SELECT count(*) AS n,
         |         least(24, greatest(1,
         |           CAST(ceil(log2(ceil(count(*) / 128.0))) AS INT))) AS planes
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, embedding,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |         sqrt(list_sum(list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |m AS (SELECT vec_id, embedding, emb, nrm,
         |             list_min(emb) AS mn, list_max(emb) AS mx FROM e),
         |c AS (
         |  SELECT vec_id, nrm, mn, (mx - mn) / 255.0 AS sc,
         |         list_transform(emb, x -> CASE WHEN mx = mn THEN 0
         |           ELSE least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
         |           END) AS codes
         |  FROM m),
         |st AS (
         |  SELECT vec_id, nrm, mn, sc, codes,
         |         CAST(list_sum(codes) AS BIGINT) AS sumq,
         |         sqrt(list_sum(list_transform(codes,
         |           q -> (mn + q * sc) * (mn + q * sc)))) AS qnrm
         |  FROM c),
         |b AS (
         |  SELECT vec_id, 0 AS band, ${bucketExpr(11)} AS bucket FROM e
         |  UNION ALL
         |  SELECT vec_id, 1 AS band, ${bucketExpr(23)} AS bucket FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b
         |  FROM b a JOIN b bb ON a.band = bb.band AND a.bucket = bb.bucket
         |    AND a.vec_id < bb.vec_id),
         |sl AS (
         |  SELECT id_a, id_b
         |  FROM cand JOIN st sa ON sa.vec_id = cand.id_a
         |            JOIN st sb ON sb.vec_id = cand.id_b
         |  WHERE round((64.0 * sa.mn * sb.mn
         |      + sa.mn * sb.sc * CAST(sb.sumq AS DOUBLE)
         |      + sb.mn * sa.sc * CAST(sa.sumq AS DOUBLE)
         |      + sa.sc * sb.sc * CAST(list_sum(list_transform(generate_series(1, 64),
         |          j -> sa.codes[j] * sb.codes[j])) AS DOUBLE))
         |    / (sa.qnrm * sb.qnrm), 5) >= 0.40),
         |p AS (
         |  SELECT id_a, id_b,
         |         round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
         |           pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) /
         |           (ea.nrm * eb.nrm), 5) AS cos
         |  FROM sl JOIN e ea ON ea.vec_id = sl.id_a
         |          JOIN e eb ON eb.vec_id = sl.id_b)
         |SELECT id_a, id_b, cos,
         |       (SELECT CAST(planes AS BIGINT) FROM params) AS num_planes
         |FROM p WHERE cos >= 0.42""".stripMargin
    },

    "ann_ivf_probe" ->
      """WITH dims AS (
        |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS cv
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(d)
        |  GROUP BY label, d),
        |cent AS (SELECT label AS c_label, list(cv ORDER BY d) AS cvec FROM dims GROUP BY label),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |probed AS (
        |  SELECT q_id, q_emb, c_label,
        |         list_sum(list_transform(generate_series(1, 64),
        |           d -> CAST(q_emb[d] AS DOUBLE) * cvec[d])) /
        |         (sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(cvec, x -> x * x)))) AS ccos
        |  FROM q CROSS JOIN cent),
        |assigned AS (
        |  SELECT q_id, q_emb, c_label AS probe_label FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY q_id ORDER BY ccos DESC, c_label ASC) AS r
        |    FROM probed) WHERE r = 1),
        |scored AS (
        |  SELECT a.q_id, a.probe_label, e.vec_id AS n_id,
        |         list_sum(list_transform(list_zip(a.q_emb, e.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(a.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM assigned a JOIN embeddings e
        |    ON e.label = a.probe_label AND e.vec_id <> a.q_id)
        |SELECT q_id, probe_label, n_id, round(cos, 4) AS cos, rank FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin,

    "ann_ivf_recall" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS cv
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(d)
        |  GROUP BY label, d),
        |cent AS (SELECT label AS c_label, list(cv ORDER BY d) AS cvec FROM dims GROUP BY label),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 10),
        |pr AS (
        |  SELECT q_id, c_label, cr FROM (
        |    SELECT q_id, c_label, row_number() OVER
        |      (PARTITION BY q_id ORDER BY ccos DESC, c_label ASC) AS cr
        |    FROM (
        |      SELECT q_id, c_label,
        |             list_sum(list_transform(generate_series(1, 64),
        |               d -> CAST(q_emb[d] AS DOUBLE) * cvec[d])) /
        |             (q_nrm * sqrt(list_sum(list_transform(cvec, x -> x * x)))) AS ccos
        |      FROM q CROSS JOIN cent))
        |  WHERE cr <= 4),
        |sc AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, b.label AS n_label,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |           (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |tr AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id, row_number() OVER
        |      (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk FROM sc)
        |  WHERE rk <= 5),
        |ap1 AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT s.q_id, s.n_id, row_number() OVER
        |      (PARTITION BY s.q_id ORDER BY s.cos DESC, s.n_id ASC) AS rk
        |    FROM sc s JOIN pr ON pr.q_id = s.q_id AND pr.c_label = s.n_label
        |      AND pr.cr <= 1)
        |  WHERE rk <= 5),
        |ap4 AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT s.q_id, s.n_id, row_number() OVER
        |      (PARTITION BY s.q_id ORDER BY s.cos DESC, s.n_id ASC) AS rk
        |    FROM sc s JOIN pr ON pr.q_id = s.q_id AND pr.c_label = s.n_label
        |      AND pr.cr <= 4)
        |  WHERE rk <= 5),
        |j AS (
        |  SELECT tr.q_id,
        |         CASE WHEN a1.n_id IS NULL THEN 0 ELSE 1 END AS hit1,
        |         CASE WHEN a4.n_id IS NULL THEN 0 ELSE 1 END AS hit4
        |  FROM tr LEFT JOIN ap1 a1 ON tr.q_id = a1.q_id AND tr.n_id = a1.n_id
        |          LEFT JOIN ap4 a4 ON tr.q_id = a4.q_id AND tr.n_id = a4.n_id)
        |SELECT q_id, count(*) AS n_true,
        |       CAST(sum(hit1) AS BIGINT) AS n_hit_p1,
        |       CAST(sum(hit4) AS BIGINT) AS n_hit_p4,
        |       round(CAST(sum(hit1) AS DOUBLE) / count(*), 6) AS recall_p1,
        |       round(CAST(sum(hit4) AS DOUBLE) / count(*), 6) AS recall_p4
        |FROM j GROUP BY q_id""".stripMargin,

    "ema_daily_revenue" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate AS day, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT row_number() OVER (ORDER BY day) AS rn, day, rev FROM daily),
        |seed AS (
        |  SELECT list_sum(list_slice(list(rev ORDER BY day), 1, 10)) / 10.0 AS e
        |  FROM daily),
        |ema AS (
        |  SELECT rn, day, rev,
        |         CASE WHEN rn = 10 THEN (SELECT e FROM seed) END AS e
        |  FROM idx WHERE rn <= 10
        |  UNION ALL
        |  SELECT i.rn, i.day, i.rev,
        |         (2.0 / 11.0) * i.rev + (1.0 - 2.0 / 11.0) * ema.e
        |  FROM idx i JOIN ema ON i.rn = ema.rn + 1 AND ema.rn >= 10)
        |SELECT day, round(rev, 2) AS rev, round(e, 4) AS ema
        |FROM ema""".stripMargin,

    "mm_binary_meta" ->
      """WITH h AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |         ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, n_bytes,
        |       64 + hv % 1857 AS width,
        |       64 + (hv // 2048) % 1081 AS height,
        |       (64 + hv % 1857) * (64 + (hv // 2048) % 1081) AS n_pixels
        |FROM h""".stripMargin,

    "mm_decode_png_header" ->
      """WITH h AS (
        |  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, CAST(45 AS BIGINT) AS n_bytes,
        |       1 + hv % 1023 AS width,
        |       1 + (hv // 4096) % 767 AS height,
        |       'png' AS format, true AS ok
        |FROM h""".stripMargin,

    "j3_align_close" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS h),
        |p AS (
        |  SELECT ts, value FROM (
        |    SELECT ts, value, row_number() OVER
        |      (PARTITION BY ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1)
        |SELECT s.h, round(p.value, 4) AS close_value
        |FROM spine s ASOF LEFT JOIN p ON p.ts <= s.h + INTERVAL 1 HOUR""".stripMargin,

    "j5_align_exact" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('hour', min(ts)) FROM events),
        |    (SELECT date_trunc('hour', max(ts)) FROM events),
        |    INTERVAL 1 HOUR)) AS h),
        |p AS (
        |  SELECT ts, value FROM (
        |    SELECT ts, value, row_number() OVER
        |      (PARTITION BY ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
        |fl AS (
        |  SELECT hb, value FROM (
        |    SELECT date_trunc('hour', ts) AS hb, value,
        |           row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |                              ORDER BY ts DESC) AS rn2
        |    FROM p) WHERE rn2 = 1)
        |SELECT h, round(value, 4) AS snap_value
        |FROM spine LEFT JOIN fl ON h = hb""".stripMargin,

    "a8_indicator_ohlc" ->
      """WITH e AS (SELECT *, date_trunc('minute', ts) AS minute FROM events),
        |hl AS (SELECT minute, max(value) AS high, min(value) AS low
        |       FROM e GROUP BY minute),
        |vo AS (SELECT minute, value AS o FROM (
        |  SELECT minute, value, row_number() OVER
        |    (PARTITION BY minute ORDER BY ts, event_id) AS rn
        |  FROM e WHERE event_type = 'view') WHERE rn = 1),
        |vc AS (SELECT minute, value AS c FROM (
        |  SELECT minute, value, row_number() OVER
        |    (PARTITION BY minute ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e WHERE event_type = 'view') WHERE rn = 1),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT date_trunc('minute', min(ts)) FROM events),
        |    (SELECT date_trunc('minute', max(ts)) FROM events),
        |    INTERVAL 1 MINUTE)) AS m),
        |mins AS (
        |  SELECT spine.m AS minute, vo.o, hl.high, hl.low, vc.c
        |  FROM spine LEFT JOIN hl ON spine.m = hl.minute
        |             LEFT JOIN vo ON spine.m = vo.minute
        |             LEFT JOIN vc ON spine.m = vc.minute),
        |bo AS (SELECT bs, o FROM (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, minute) AS bs, o, row_number()
        |    OVER (PARTITION BY time_bucket(INTERVAL 15 MINUTE, minute)
        |          ORDER BY minute) AS rn
        |  FROM mins WHERE o IS NOT NULL) WHERE rn = 1),
        |bc AS (SELECT bs, c FROM (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, minute) AS bs, c, row_number()
        |    OVER (PARTITION BY time_bucket(INTERVAL 15 MINUTE, minute)
        |          ORDER BY minute DESC) AS rn
        |  FROM mins WHERE c IS NOT NULL) WHERE rn = 1),
        |b AS (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, minute) AS bs, count(*) AS n,
        |         max(high) AS high, min(low) AS low
        |  FROM mins GROUP BY 1)
        |SELECT b.bs AS timestamp, round(bo.o, 4) AS open,
        |       round(b.high, 4) AS high, round(b.low, 4) AS low,
        |       round(bc.c, 4) AS close
        |FROM b LEFT JOIN bo ON b.bs = bo.bs LEFT JOIN bc ON b.bs = bc.bs
        |WHERE b.n = 15 AND bo.o IS NOT NULL AND bc.c IS NOT NULL
        |  AND b.bs + INTERVAL 15 MINUTE <=
        |      date_trunc('minute', (SELECT max(ts) FROM events)) + INTERVAL 1 MINUTE""".stripMargin,

    "ind_pivot_points" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, max(value) AS high,
        |         min(value) AS low
        |  FROM events GROUP BY 1),
        |cl AS (SELECT day, value AS close FROM (
        |  SELECT date_trunc('day', ts) AS day, value, row_number() OVER
        |    (PARTITION BY date_trunc('day', ts) ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1),
        |d AS (SELECT daily.day, high, low, close
        |      FROM daily JOIN cl ON daily.day = cl.day),
        |pv AS (SELECT day, lag(high) OVER (ORDER BY day) AS ph,
        |              lag(low) OVER (ORDER BY day) AS pl,
        |              lag(close) OVER (ORDER BY day) AS pc
        |       FROM d)
        |SELECT day, round((ph + pl + pc) / 3.0, 4) AS p,
        |       round((ph + pl + pc) / 3.0 * 2.0 - pl, 4) AS r1,
        |       round((ph + pl + pc) / 3.0 + (ph - pl), 4) AS r2,
        |       round((ph + pl + pc) / 3.0 * 2.0 - ph, 4) AS s1,
        |       round((ph + pl + pc) / 3.0 - (ph - pl), 4) AS s2
        |FROM pv""".stripMargin,

    "dedup_embed_cosine" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |pr AS (
        |  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(a.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(b.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, id_a, id_b, cos FROM pr WHERE cos >= 0.42""".stripMargin,

    "ann_cosine_topk" ->
      """WITH scored AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(a.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(b.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, cos, row_number() OVER
        |    (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |  FROM scored)
        |SELECT q_id, n_id, round(cos, 5) AS cos, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    "txt_tfidf_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS dl,
        |         unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, term, count(*) AS tf
        |       FROM tk GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |              avg(len(string_split_regex(trim(text), '\s+'))) AS avgdl
        |       FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         tf.tf * ln(st.n_docs / df.df) AS tfidf,
        |         (ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) * (tf.tf * 2.2)) /
        |           (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl) / st.avgdl)) AS bm25
        |  FROM tf, df, st WHERE tf.term = df.term),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rank
        |      FROM sc)
        |SELECT doc_id, rank, term, tf, df,
        |       round(tfidf, 6) AS tfidf, round(bm25, 6) AS bm25
        |FROM r WHERE rank <= 3""".stripMargin,

    "txt_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 3, 0)),
        |    i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
        |          tk[i+3]), 1, 15))::BIGINT)) AS gs
        |  FROM d),
        |ev AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 25 = 0),
        |tr AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
        |       FROM g WHERE doc_id % 25 != 0),
        |m AS (SELECT tr.doc_id, tr.n_grams,
        |             CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END AS hit
        |      FROM tr LEFT JOIN ev ON tr.g = ev.g)
        |SELECT doc_id, max(n_grams) AS n_grams,
        |       CAST(sum(hit) AS BIGINT) AS n_matched,
        |       sum(hit) > 0 AS contaminated
        |FROM m GROUP BY doc_id""".stripMargin,

    "txt_repetition_rules" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
        |u AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
        |         1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS dup_word_frac
        |  FROM d),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM d),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |bm AS (SELECT doc_id, max(c) AS top_c, count(*) AS n_distinct_bg
        |       FROM bc GROUP BY 1),
        |j AS (
        |  SELECT u.doc_id, u.n_words, u.dup_word_frac,
        |         CAST(bm.top_c AS DOUBLE) / (u.n_words - 1) AS top_bigram_frac,
        |         1.0 - CAST(bm.n_distinct_bg AS DOUBLE) / (u.n_words - 1) AS dup_bigram_frac
        |  FROM u JOIN bm ON u.doc_id = bm.doc_id)
        |SELECT doc_id, n_words,
        |       round(dup_word_frac, 6) AS dup_word_frac,
        |       round(top_bigram_frac, 6) AS top_bigram_frac,
        |       round(dup_bigram_frac, 6) AS dup_bigram_frac,
        |       (dup_word_frac <= 0.55 AND top_bigram_frac <= 0.06) AS keep
        |FROM j""".stripMargin,

    "txt_pack_sequences" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, tok,
        |         CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
        |           AS end_off
        |  FROM d),
        |e AS (SELECT source, doc_id, end_off - tok AS start_off, end_off FROM o),
        |u AS (
        |  SELECT source, doc_id, start_off, end_off,
        |         unnest(generate_series(start_off // 256, (end_off - 1) // 256)) AS pack_id
        |  FROM e)
        |SELECT source, pack_id, count(*) AS n_docs,
        |       CAST(sum(least(end_off, (pack_id + 1) * 256) -
        |                greatest(start_off, pack_id * 256)) AS BIGINT) AS pack_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM u GROUP BY 1, 2""".stripMargin,

    "mm_frame_sample" ->
      """WITH h AS (
        |  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         64 + hv % 1857 AS width,
        |         64 + (hv // 2048) % 1081 AS height,
        |         1000 + hv % 29000 AS duration_ms,
        |         CASE WHEN hv % 2 = 0 THEN 24 ELSE 30 END AS fps
        |  FROM h),
        |f AS (SELECT *, duration_ms * fps // 1000 AS n_frames FROM m),
        |u AS (SELECT doc_id, n_frames, width, height,
        |             unnest(generate_series(0, 3)) AS slot
        |      FROM f)
        |SELECT doc_id, slot,
        |       slot * (n_frames - 1) // 3 AS frame_idx,
        |       (slot * (n_frames - 1) // 3) * width * height * 3 AS byte_offset
        |FROM u""".stripMargin,

    "ann_lsh_recall" -> {
      val planes = (0 until 8).map { p =>
        val dot = s"list_sum(list_transform(generate_series(1, 64), d -> " +
          s"CAST(embedding[d] AS DOUBLE) * " +
          s"((('0x' || substr(md5('7:$p:' || CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1000) / 1000.0 - 0.5)))"
        s"(CASE WHEN ($dot) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_sum(list_transform(embedding,
         |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         |         $planes AS bucket
         |  FROM embeddings),
         |sc AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |         a.bucket AS qb, b.bucket AS nb,
         |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
         |           (a.nrm * b.nrm) AS cos
         |  FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |tr AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk FROM sc)
         |  WHERE rk <= 5),
         |ap AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, row_number() OVER
         |      (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
         |    FROM sc WHERE qb = nb)
         |  WHERE rk <= 5),
         |j AS (
         |  SELECT tr.q_id, CASE WHEN ap.n_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM tr LEFT JOIN ap ON tr.q_id = ap.q_id AND tr.n_id = ap.n_id)
         |SELECT q_id, count(*) AS n_true, CAST(sum(hit) AS BIGINT) AS n_hit,
         |       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall
         |FROM j GROUP BY q_id""".stripMargin
    },

    "txt_langid_confusion" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|nicht|ist)\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(el|los|las|una|y)\b')) AS s_es
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |            WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |            WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
        |            ELSE 'es' END AS pred_lang,
        |       count(*) AS n
        |FROM s GROUP BY 1, 2""".stripMargin,

    "txt_rolling_fingerprint" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
        |  FROM documents WHERE doc_id < 100),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(tk,
        |           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) AS hs,
        |         list_transform(tk[1:16],
        |           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 1000000007) AS hs16
        |  FROM d)
        |SELECT doc_id,
        |       list_reduce(hs, (a, b) -> (a * 131 + b) % 1000000007) AS fp,
        |       list_reduce(hs16, (a, b) -> (a * 131 + b) % 1000000007) AS fp_prefix16
        |FROM h""".stripMargin,

    "txt_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN
        |                text || ' contact user' || doc_id || '@example.com now'
        |              WHEN doc_id % 10 = 5 THEN
        |                text || ' call +1-555-01' ||
        |                lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today'
        |              ELSE text END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(txt,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |         AS n_emails,
        |       CAST(len(regexp_extract_all(txt, '\+1-555-[0-9]{4}')) AS BIGINT)
        |         AS n_phones,
        |       CAST(length(regexp_replace(regexp_replace(txt,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |         '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS BIGINT) AS redacted_len,
        |       (len(regexp_extract_all(txt,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |        len(regexp_extract_all(txt, '\+1-555-[0-9]{4}'))) = 0 AS pii_free
        |FROM p""".stripMargin,

    "mix_epoch_weights" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
        |           AS bucket,
        |         CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2
        |              WHEN source IN ('src5','src6','src7','src8','src9') THEN 1
        |              ELSE 0 END AS n_full,
        |         CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 30
        |              WHEN source IN ('src5','src6','src7','src8','src9') THEN 0
        |              ELSE 50 END AS frac_pct
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source,
        |         n_full + CASE WHEN bucket < frac_pct THEN 1 ELSE 0 END AS n_copies
        |  FROM d)
        |SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch
        |FROM n WHERE n_copies > 0""".stripMargin,

    "export_shard_assign" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |       row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM d""".stripMargin,

    "mm_audio_windows" ->
      """WITH h AS (
        |  SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT AS hv
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CASE WHEN hv % 2 = 0 THEN 16000 ELSE 22050 END AS sample_rate,
        |         1000 + hv % 29000 AS duration_ms
        |  FROM h),
        |s AS (SELECT doc_id, sample_rate,
        |             duration_ms * sample_rate // 1000 AS n_samples FROM m),
        |w AS (
        |  SELECT doc_id, sample_rate, n_samples,
        |         CASE WHEN n_samples <= 1024 THEN 1
        |              ELSE (n_samples - 513) // 512 + 1 END AS n_windows
        |  FROM s)
        |SELECT doc_id, sample_rate, n_samples, n_windows,
        |       least(1024, n_samples - (n_windows - 1) * 512) AS last_window_fill
        |FROM w""".stripMargin,

    "ann_sq8_search" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |m AS (SELECT vec_id, embedding, emb,
        |             list_min(emb) AS mn, list_max(emb) AS mx FROM e),
        |c AS (
        |  SELECT vec_id, embedding,
        |         list_transform(emb, x -> CASE WHEN mx = mn THEN 0
        |           ELSE least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT))
        |           END) AS codes
        |  FROM m),
        |i AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |         list_sum(list_transform(generate_series(1, len(a.codes)),
        |           j -> a.codes[j] * b.codes[j])) AS iscore
        |  FROM c a JOIN c b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |s AS (SELECT q_id, n_id, row_number() OVER
        |        (PARTITION BY q_id ORDER BY iscore DESC, n_id ASC) AS irank
        |      FROM i),
        |sl AS (SELECT q_id, n_id FROM s WHERE irank <= 20),
        |x AS (
        |  SELECT sl.q_id, sl.n_id,
        |         list_sum(list_transform(list_zip(qa.embedding, nb.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
        |         (sqrt(list_sum(list_transform(qa.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          sqrt(list_sum(list_transform(nb.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM sl JOIN embeddings qa ON qa.vec_id = sl.q_id
        |          JOIN embeddings nb ON nb.vec_id = sl.n_id),
        |r AS (SELECT q_id, n_id, cos, row_number() OVER
        |        (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        |      FROM x)
        |SELECT q_id, n_id, round(cos, 5) AS cos, rank FROM r WHERE rank <= 5""".stripMargin
  )
}
