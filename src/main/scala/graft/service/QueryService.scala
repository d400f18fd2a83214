package graft.service

import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.concurrent.{Future, Promise}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Indicators, QueryAggregator}
import graft.schema.Timeframes
import graft.sources.MinuteLakeReader

/** Keyed result cache with TTL + LRU + hit taxonomy (reference
  * `live_data_api_service/service.py:192-550`): exact hits, superset
  * hits (a cached window covering the request is sliced), and in-flight
  * dedup (concurrent identical requests share one computation).
  * TTL splits stable (window fully in the past) vs recent.
  * Plain Scala service-layer code — `df.cache()` is not a substitute for
  * keyed result caching (SURVEY §4).
  *
  * @param inflightWaitSeconds how long a caller that lost the in-flight
  *        race waits for the winner's result before timing out (reference
  *        waits indefinitely on an Event; bounded here so one wedged
  *        compute can't park threads forever) */
final class ResultCache[K, V](maxEntries: Int = 256,
                              stableTtlSeconds: Long = 21600,
                              recentTtlSeconds: Long = 15,
                              now: () => Instant = () => Instant.now,
                              inflightWaitSeconds: Long = 300) {

  final case class Entry(value: V, storedAt: Instant, stable: Boolean)
  sealed trait HitType
  case object Miss extends HitType
  case object ExactHit extends HitType
  case object SupersetHit extends HitType
  case object PartialHit extends HitType
  case object InFlightHit extends HitType

  private val entries = mutable.LinkedHashMap[K, Entry]()
  private val inflight = new ConcurrentHashMap[K, Promise[V]]()
  private var lastHit: HitType = Miss
  def lastHitType: HitType = lastHit

  private def fresh(e: Entry): Boolean = {
    val ttl = if (e.stable) stableTtlSeconds else recentTtlSeconds
    ChronoUnit.SECONDS.between(e.storedAt, now()) <= ttl
  }

  /** Get-or-compute with exact/superset/partial/in-flight semantics.
    * @param supersetOf  key k2 "covers" key k1 (e.g. wider window)
    * @param slice       derive the requested value from a superset value
    * @param partialOf   key k2 PARTIALLY covers k1 — same window, smaller
    *                    limit (reference `service.py:444-471`)
    * @param partialRank rank among matching partials; highest wins
    *                    (reference: max cached limit)
    * @param extend      extend-and-merge: compute only the missing slice
    *                    and combine with the partial value (reference
    *                    `service.py:1902-1960`); the result is stored
    *                    under the requested key */
  def getOrCompute(key: K, stable: Boolean,
                   supersetOf: (K, K) => Boolean = (_: K, _: K) => false,
                   slice: (K, V) => V = (_: K, v: V) => v,
                   partialOf: (K, K) => Boolean = (_: K, _: K) => false,
                   partialRank: K => Long = (_: K) => 0L,
                   extend: (K, V) => Option[V] = (_: K, _: V) => None)(compute: => V): V = {
    // Under the lock: answer exact/superset hits (pure driver-side list
    // ops) and CAPTURE the best partial. `extend` may run a Spark job,
    // so it must not execute while holding the monitor — it runs below,
    // outside the lock, through the same in-flight dedup as a miss.
    val bestPartial: Option[V] = synchronized {
      entries.get(key).filter(fresh) match {
        case Some(e) =>
          lastHit = ExactHit
          entries.remove(key); entries.put(key, e) // LRU touch
          return e.value
        case None =>
      }
      entries.find { case (k2, e) => supersetOf(k2, key) && fresh(e) } match {
        case Some((_, e)) =>
          lastHit = SupersetHit
          return slice(key, e.value)
        case None =>
      }
      val partials = entries.filter { case (k2, e) => partialOf(k2, key) && fresh(e) }
      if (partials.nonEmpty)
        Some(partials.maxBy { case (k2, _) => partialRank(k2) }._2.value)
      else None
    }
    // in-flight dedup outside the lock: first caller extends/computes,
    // the rest await its promise
    val p = Promise[V]()
    val existing = inflight.putIfAbsent(key, p)
    if (existing != null) {
      lastHit = InFlightHit
      return scala.concurrent.Await.result(existing.future,
        scala.concurrent.duration.Duration(inflightWaitSeconds, "seconds"))
    }
    try {
      val extended = bestPartial.flatMap(extend(key, _))
      val v = extended.getOrElse(compute)
      synchronized {
        entries.put(key, Entry(v, now(), stable))
        while (entries.size > maxEntries) entries.remove(entries.head._1)
      }
      lastHit = if (extended.isDefined) PartialHit else Miss
      p.success(v)
      v
    } catch {
      case e: Throwable => p.failure(e); throw e
    } finally inflight.remove(key)
  }

  def size: Int = synchronized(entries.size)
}

/** Per-symbol snapshot cache with a sub-second TTL + in-flight dedup
  * (reference `_fetch_cached_native_premium_index_snapshot`,
  * `service.py:863-917`; TTL knob `premium_index_snapshot_cache_ttl_seconds
  * = 1.0`, `:200`): burst load on the native route collapses to ONE
  * upstream snapshot fetch per TTL window per symbol — the rest are
  * served from cache or await the in-flight winner. Reference semantics
  * kept exactly: keys normalize to upper case, the clock is monotonic
  * (injectable for tests), expired entries are evicted on read, a fetch
  * error propagates to every waiter and is never cached, and TTL ≤ 0
  * disables storing (every caller fetches). */
final class SnapshotCache[V](ttlMillis: Long = 1000L,
                             nowMillis: () => Long = () => System.nanoTime() / 1000000L,
                             inflightWaitSeconds: Long = 30) {
  private final case class Entry(value: V, expiresAtMillis: Long)
  private val cache = new ConcurrentHashMap[String, Entry]()
  private val inflight = new ConcurrentHashMap[String, Promise[V]]()

  def getOrFetch(symbol: String)(fetch: => V): V = {
    val key = symbol.toUpperCase
    val cached = cache.get(key)
    if (cached != null) {
      if (cached.expiresAtMillis > nowMillis()) return cached.value
      cache.remove(key, cached)
    }
    val p = Promise[V]()
    val existing = inflight.putIfAbsent(key, p)
    if (existing != null)
      return scala.concurrent.Await.result(existing.future,
        scala.concurrent.duration.Duration(inflightWaitSeconds, "seconds"))
    try {
      val v = fetch
      if (ttlMillis > 0) cache.put(key, Entry(v, nowMillis() + ttlMillis))
      p.success(v)
      v
    } catch {
      case e: Throwable => p.failure(e); throw e
    } finally inflight.remove(key)
  }

  def size: Int = cache.size
}

/** API query service (reference `live_data_api_service/service.py`,
  * §3.1): canonical window load with coverage accounting → timeframe
  * aggregation → delta fields → serialization. */
object QueryService {

  final case class WindowCoverage(expectedMinutes: Long, observedMinutes: Long) {
    def complete: Boolean = expectedMinutes == observedMinutes
  }

  /** A loaded canonical window (lazy) and its minute coverage. */
  final case class CanonicalWindow(frame: DataFrame, coverage: WindowCoverage)

  /** Load [start, end] canonical minutes with latest-wins dedup and
    * coverage check (reference `service.py:1036-1117`). The coverage
    * costs one `countDistinct` job; only the on-demand rebuild
    * ([[loadCanonicalWindowWithRebuild]]) reads it, to decide whether to
    * patch. Routes that only serve the window call
    * `reader.readWindow` directly. */
  def loadCanonicalWindow(spark: SparkSession, reader: MinuteLakeReader,
                          symbol: String, start: Instant, end: Instant): CanonicalWindow = {
    val df = reader.readWindow(spark, symbol, start, end)
    val observed = df.select(countDistinct(col("timestamp"))).collect().head.getLong(0)
    val expected = ChronoUnit.MINUTES.between(start, end) + 1
    CanonicalWindow(df, WindowCoverage(expected, observed))
  }

  /** End-time resolution (reference `service.py:944-966`): an explicit
    * end is floored to the minute; an omitted end resolves to the last
    * completed UTC minute, clamped down to the lake's watermark when the
    * lag is within tolerance (within tolerance the lake is the freshest
    * consistent view; beyond it the watermark is assumed stale and the
    * wall-clock end wins). */
  def resolveEndTime(requested: Option[Instant], lastCompleted: Instant,
                     watermark: Option[Instant] = None,
                     toleranceMinutes: Option[Long] = None): Instant =
    requested match {
      case Some(t) => t.truncatedTo(ChronoUnit.MINUTES)
      case None =>
        val resolved = lastCompleted.truncatedTo(ChronoUnit.MINUTES)
        watermark match {
          case None => resolved
          case Some(wm) =>
            val effective = if (resolved.isBefore(wm)) resolved else wm
            toleranceMinutes match {
              case None => effective
              case Some(tol) =>
                if (ChronoUnit.MINUTES.between(effective, resolved) <= tol) effective
                else resolved
            }
        }
    }

  /** ISO-string form (reference: `parse_iso_datetime(end_time) or
    * last_completed_utc_minute()` — an unparsable string falls back to
    * the last completed minute UNfloored-parse semantics). */
  def resolveEndTime(endTime: String, lastCompleted: Instant): Instant =
    scala.util.Try(Instant.parse(endTime)).toOption.getOrElse(
      lastCompleted.truncatedTo(ChronoUnit.MINUTES))

  /** Canonical window with provenance (reference
    * `CanonicalWindowResult`, `service.py:1036-1117`). */
  /** @param release unpersists the cached patch stage once the caller
    *                 has materialized `frame` (no-op when no patch ran) */
  final case class CanonicalWindowResult(symbol: String, start: Instant,
                                         end: Instant, source: String,
                                         frame: DataFrame,
                                         coverage: WindowCoverage,
                                         notes: Seq[String],
                                         release: () => Unit = () => ())

  /** The on-demand rebuild path (reference `load_canonical_window`,
    * `service.py:1036-1117` + persist-back `:694-751`): when the local
    * lake cannot serve the full window, fetch the missing minutes
    * through a [[graft.pipeline.Orchestrator.BandCollector]], run the
    * minute builder over the window, overlay the patch UNDER the local
    * rows (local wins on timestamp collisions —
    * `merge_canonical_frames`, `utils.py:59-70`), and persist the
    * genuinely-new rows back through the atomic hour writer so the next
    * request is served locally.
    *
    * Patch windows are bounded by `onDemandMaxMinutes` (reference
    * `_on_demand_max_minutes`), so the per-hour persist loop and the
    * patch build are driver-bounded API work, not lake-scale jobs. */
  def loadCanonicalWindowWithRebuild(
      spark: SparkSession, reader: MinuteLakeReader, symbol: String,
      start: Instant, end: Instant,
      collector: graft.pipeline.Orchestrator.BandCollector,
      persistTo: Option[graft.sources.MinuteLakeWriter] = None,
      nowForBand: Instant = Instant.now,
      onDemandMaxMinutes: Long = 1440,
      allowBinancePatch: Boolean = true): CanonicalWindowResult = {
    import graft.pipeline.Orchestrator
    require(!end.isBefore(start), "end_time must be on or after start_time")
    val CanonicalWindow(local, coverage) = loadCanonicalWindow(spark, reader, symbol, start, end)
    if (coverage.complete || !allowBinancePatch)
      return CanonicalWindowResult(symbol, start, end, "local", local, coverage, Nil)
    if (coverage.expectedMinutes > onDemandMaxMinutes) {
      if (coverage.observedMinutes == 0)
        throw new IllegalArgumentException(
          "Requested window is not available locally and is too large for " +
            "on-demand retrieval. Reduce limit or materialize the symbol " +
            "into the minute lake first.")
      return CanonicalWindowResult(symbol, start, end, "local", local, coverage,
        Seq("window_too_large_for_on_demand_patch"))
    }

    // Any throw past this point must unpersist the frames this path
    // persisted before propagating — otherwise each failed patch
    // request leaks a CacheManager entry, the exact leak class the
    // release() seam exists to close (r19 advice).
    var patchPinned: Option[DataFrame] = None
    var combinedPinned: Option[DataFrame] = None
    try {
    val notes = scala.collection.mutable.Buffer[String]()
    val band = Orchestrator.chooseBand(nowForBand, end)
    val patch =
      try Some(Orchestrator.collectAndBuild(spark, collector, start, end, band).persist())
      catch {
        case _: Orchestrator.DataQualityError =>
          notes += "binance_patch_no_source_rows"
          None
      }
    patchPinned = patch

    val (combined0, source) = patch match {
      case Some(p) if coverage.observedMinutes > 0 =>
        // merge_canonical_frames(remote, local): local wins per minute
        val merged = graft.ops.Ops.dedupKeepLast(
          p.withColumn("__pri", lit(0))
            .unionByName(local.withColumn("__pri", lit(1)), allowMissingColumns = true),
          Seq("timestamp"), Seq(col("__pri"))).drop("__pri")
        (merged, "local+binance")
      case Some(p) => (p, "binance")
      case None => (local, "local")
    }
    // pin the served frame BEFORE persist-back: its lineage reads the
    // very lake files the atomic writer is about to replace, so it must
    // be fully materialized into the cache first (eager count — the
    // reference's frames are eager by construction)
    val combined = if (patch.isDefined) combined0.persist() else combined0
    if (patch.isDefined) { combinedPinned = Some(combined); combined.count() }

    // persist-back (service.py:694-751): only rows the lake does not
    // already have, hour by hour through the atomic writer (which
    // itself merges LIVE_ONLY columns with any existing partition)
    patch.foreach { p =>
      persistTo.foreach { writer =>
        try {
          // eager count, not isEmpty: the hour loop below re-reads this
          // frame after the writer starts replacing the backing files
          val freshRows = p.join(local.select("timestamp"), Seq("timestamp"), "left_anti")
            .persist()
          if (freshRows.count() > 0) {
            var written = 0
            var hour = start.truncatedTo(ChronoUnit.HOURS)
            while (!hour.isAfter(end)) {
              val next = hour.plus(1, ChronoUnit.HOURS)
              val hourFrame = freshRows.where(
                col("timestamp") >= java.sql.Timestamp.from(hour) &&
                  col("timestamp") < java.sql.Timestamp.from(next))
              if (!hourFrame.isEmpty) {
                writer.writeHourPartition(symbol, hour, hourFrame)
                written += 1
              }
              hour = next
            }
            if (written > 0) notes += s"binance_patch_persisted_partitions:$written"
          }
          freshRows.unpersist()
        } catch {
          // reference logs and serves anyway — persistence is best-effort
          case e: Exception => notes += s"binance_patch_persist_failed:${e.getMessage}"
        }
      }
    }

    val observedAfter = combined.select(countDistinct(col("timestamp")))
      .collect().head.getLong(0)
    CanonicalWindowResult(symbol, start, end, source, combined,
      WindowCoverage(coverage.expectedMinutes, observedAfter), notes.toSeq,
      release = () => patch.foreach { p => p.unpersist(); combined.unpersist() })
    } catch {
      case e: Throwable =>
        combinedPinned.foreach(f => scala.util.Try(f.unpersist()))
        patchPinned.foreach(f => scala.util.Try(f.unpersist()))
        throw e
    }
  }

  /** Frame granularity inference (reference `_infer_frame_minutes`,
    * `service.py:2293-2301`): read the first TWO rows by timestamp and
    * take their gap in whole minutes, floored, clamped to ≥ 1. A frame
    * with fewer than 2 rows, no `timestamp` column, or null leading
    * timestamps is treated as 1-minute data — exactly the reference's
    * fallbacks. A `limit(2)` collect — the driver reads two rows, never
    * the frame. */
  def inferFrameMinutes(frame: DataFrame): Int = {
    if (!frame.columns.contains("timestamp")) return 1
    val ts = frame.select("timestamp").orderBy("timestamp").limit(2).collect()
    if (ts.length < 2 || ts(0).isNullAt(0) || ts(1).isNullAt(0)) 1
    else {
      val gapSecs = ChronoUnit.SECONDS.between(
        ts(0).getTimestamp(0).toInstant, ts(1).getTimestamp(0).toInstant)
      math.max((gapSecs / 60L).toInt, 1)
    }
  }

  /** One timeframe of the flagship query: aggregate the canonical
    * window, add lag deltas, serialize (reference `service.py:1553-1693`).
    *
    * The lake path ALWAYS aggregates (reference `load_candle_bars` —
    * `_infer_frame_minutes` is used only for the OI overlay,
    * `service.py:1182`, see [[NativeCandles.overlayOiHist]]). Inferring
    * granularity here would misclassify a sparse 1m window whose leading
    * gap equals the requested bar width (e.g. 4 missing minutes on a 5m
    * request) as pre-aggregated and serve minute OHLC rows raw, skipping
    * both aggregation and the complete-bar gate. */
  def candleBars(spark: SparkSession, reader: MinuteLakeReader, symbol: String,
                 timeframe: String, start: Instant, end: Instant,
                 limit: Int = 200): DataFrame = {
    val spec = Timeframes.parse(timeframe)
    candleBarsFromFrame(reader.readWindow(spark, symbol, start, end), spec, limit)
  }

  /** The aggregate-vs-passthrough core of [[candleBars]], callable on any
    * canonical-shaped frame (lake window, cached replay, test fixture).
    *
    * @param preAggregated set ONLY when the CALLER knows the frame is
    *   already at `spec`'s granularity (a cached aggregate replayed
    *   through the API): the frame passes through with just the
    *   trailing-limit tail instead of being re-bucketed (which would
    *   gate every bucket incomplete and drop all bars). Never inferred
    *   from the data — a 2-row gap heuristic on sparse lake minutes is
    *   indistinguishable from genuine pre-aggregated input. */
  def candleBarsFromFrame(window: DataFrame, spec: graft.schema.TimeframeSpec,
                          limit: Int, preAggregated: Boolean = false): DataFrame = {
    val bars =
      if (preAggregated)
        window.orderBy(col("timestamp").desc).limit(limit).orderBy("timestamp")
      else
        QueryAggregator.aggregateCanonicalFrame(window, spec, limit)
    serializeFrame(QueryAggregator.addDeltaFields(bars))
  }

  /** Cache-fronted candle loading (reference `load_candle_bars`'s cache
    * front, `service.py:1877-1960`): exact → superset-slice →
    * partial-extend → in-flight dedup → compute, keyed by
    * (symbol, timeframe, limit, resolved end). Values are materialized
    * (timestamp-ms, serialized-row) pairs, so slicing and extension are
    * driver-side list ops; `stable` when the window is fully in the
    * past (reference `_canonical_patch_cache_ttl_seconds`). */
  final class CachedCandleService(
      cache: ResultCache[(String, String, Int, Long), Seq[(Long, String)]],
      lastCompletedMinute: () => Instant = () => Instant.now.truncatedTo(ChronoUnit.MINUTES)) {

    /** @param compute (limit, endExclusiveMs) → trailing bars ascending */
    def candleBars(symbol: String, timeframe: String, limit: Int, endMs: Long)
                  (compute: (Int, Long) => Seq[(Long, String)]): Seq[(Long, String)] = {
      val key = (symbol, timeframe, limit, endMs)
      val stable = endMs < lastCompletedMinute().toEpochMilli
      cache.getOrCompute(key, stable,
        supersetOf = (k2, k1) => k2._1 == k1._1 && k2._2 == k1._2 &&
          k2._4 == k1._4 && k2._3 >= k1._3,
        slice = (k1, v) => v.takeRight(k1._3),
        partialOf = (k2, k1) => k2._1 == k1._1 && k2._2 == k1._2 &&
          k2._4 == k1._4 && k2._3 < k1._3,
        partialRank = k2 => k2._3.toLong,
        extend = (k1, partial) =>
          partial.headOption.map { case (earliestMs, _) =>
            val missing = compute(k1._3 - partial.size, earliestMs)
            (missing ++ partial).sortBy(_._1)
              .foldRight(List.empty[(Long, String)]) { (r, acc) =>
                if (acc.headOption.exists(_._1 == r._1)) acc else r :: acc
              } // dedup keep-last on collision (cached side wins)
              .takeRight(k1._3)
          }) {
        compute(limit, endMs + 1)
      }
    }
  }

  /** BTC local-only route result (reference `service.py:1729-1831`).
    * @param frame   a local frame over the ≤ limit bars already collected
    * @param release a no-op: the route pins nothing, so a served request
    *                leaves no cached state; kept so callers that release
    *                after materializing keep compiling */
  final case class BtcLocalResult(frame: DataFrame, source: String,
                                  sourceStrategy: String, fetchMode: String,
                                  notes: Seq[String],
                                  release: () => Unit = () => ())

  /** The BTC local-only path (§3.1 step 5a — reference
    * `service.py:1729-1831`): for timeframes above 3m, try the HTF lake
    * directly; if it can't fill the limit, aggregate the local 1m lake;
    * if neither covers, serve the best partial frame — never a Binance
    * fallback. Notes follow the reference vocabulary.
    *
    * Each strategy's tail (≤ limit bars) is collected once and the
    * choice is made on the collected row counts; the returned frame is
    * a local frame over the winner's rows, so the caller's collect
    * re-reads nothing and nothing stays cached. */
  def btcLocalOnlyBars(spark: SparkSession, minuteReader: MinuteLakeReader,
                       htfReader: graft.sources.HtfLakeReader,
                       symbol: String, timeframe: String,
                       resolvedEnd: Instant, limit: Int): BtcLocalResult = {
    val spec = Timeframes.parse(timeframe)
    val start = spec.addBuckets(resolvedEnd, -limit)
    val notes = scala.collection.mutable.Buffer[String]()
    // (local frame over the collected rows, row count)
    def collected(df: DataFrame): (DataFrame, Long) = {
      val rows = df.collect()
      (spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema), rows.length)
    }

    var htfBars: Option[(DataFrame, Long)] = None
    if (spec.fixedMinutes.forall(_ > 3)) {
      // end bound = last bucket whose FULL span fits inside the request
      // (latestCompleteBucketStart) — a later bucket's minutes extend
      // past resolvedEnd, so the 1m path could never serve it and the
      // two strategies must agree on the bar set (also correct for
      // non-bucket-aligned ends)
      htfBars = spec.latestCompleteBucketStart(resolvedEnd).flatMap(htfEnd =>
        htfReader.readWindow(spark, spec.name, symbol, start, htfEnd))
        .map(df => collected(
          df.orderBy(col("timestamp").desc).limit(limit).orderBy("timestamp")))
      val htfCount = htfBars.map(_._2).getOrElse(0L)
      if (htfCount >= limit)
        return BtcLocalResult(htfBars.get._1, "local", "local_higher_timeframe_lake",
          "direct_local_higher_tf", Seq("using_local_btc_higher_timeframe_lake"))
      notes += (if (htfCount > 0) "btc_higher_tf_local_lake_partial_window"
                else "btc_higher_tf_local_lake_missing_required_window")
      notes += "btc_higher_tf_local_minute_aggregation_fallback"
    }

    val (aggregate, aggCount) = collected(QueryAggregator.aggregateCanonicalFrame(
      minuteReader.readWindow(spark, symbol, start, resolvedEnd), spec, limit))
    if (aggCount >= limit) {
      notes += "using_local_btc_minute_lake"
      notes += "btc_local_path_selected"
      return BtcLocalResult(aggregate, "local", "local_minute_lake_preferred",
        "aggregate_from_1m", notes.toSeq)
    }

    // best partial frame, no Binance fallback (service.py:1696,1806-1831)
    val htfCount = htfBars.map(_._2).getOrElse(0L)
    val useAgg = aggCount >= htfCount
    val partialCount = math.max(aggCount, htfCount)
    if (aggCount > 0) notes += "using_local_btc_minute_lake"
    notes += "local_btc_missing_required_window"
    notes += "btc_local_only_no_binance_fallback"
    BtcLocalResult(if (useAgg) aggregate else htfBars.get._1,
      source = if (partialCount > 0) "local" else "local_unavailable",
      sourceStrategy = if (useAgg) "local_minute_lake_preferred"
                       else "local_higher_timeframe_lake",
      fetchMode =
        if (partialCount == 0) "local_only_unavailable"
        else if (useAgg) "aggregate_from_1m" else "direct_local_higher_tf",
      notes = notes.toSeq)
  }

  /** Native candle route result (§3.1 step 5c).
    * @param release unpersists the enrichment's cached stage — call once
    *                `frame` has been materialized */
  final case class NativeCandleResult(frame: DataFrame, notes: Seq[String],
                                      release: () => Unit = () => ())

  /** The native candle route (§3.1 step 5c — reference
    * `service.py:1833-2078`): capability-planned direct-timeframe bars
    * from typed kline records, enriched with the auxiliary series, then
    * tailed and serialized. Returns the frame plus the planner +
    * enrichment notes the API surfaces as metadata, and the enrichment
    * release handle so a long-lived service can unpersist after serving.
    *
    * `premiumSnapshot` is the LIVE premium-index snapshot fetch
    * (reference `service.py:1524-1543`) — callers front it with a
    * [[SnapshotCache]] so burst load costs one upstream fetch per TTL
    * window. When the snapshot's event time falls inside the latest
    * bar's open span, that bar's `next_funding_time` is overwritten from
    * the snapshot (it is a live-only column, NULL on historical fetches)
    * and the reference's note is emitted. A snapshot failure degrades to
    * the un-overlaid frame, as in the reference. */
  def nativeCandleBars(klines: DataFrame, aux: NativeCandles.AuxSeries,
                       timeframe: String, limit: Int = 200,
                       config: Capabilities.FetchPlannerConfig =
                         Capabilities.FetchPlannerConfig(),
                       premiumSnapshot: Option[() => graft.sources.RestEndpoints.PremiumSnapshot] = None): NativeCandleResult = {
    val decision = Capabilities.planTimeframeFetch(timeframe, config)
    require(decision.candleSource == "binance_native",
      s"planner chose ${decision.candleSource} for $timeframe — use candleBars")
    val spec = Timeframes.parse(timeframe)
    val enriched = NativeCandles.enrichNativeFrame(
      NativeCandles.nativeKlinesToFrame(klines), aux, spec,
      decision.binanceInterval.get)
    val tailed = enriched.frame
      .orderBy(col("timestamp").desc).limit(limit).orderBy("timestamp")
    val (overlaid, snapNotes) = premiumSnapshot match {
      case Some(fetch) =>
        // All BinanceNativeCandleTfs are fixed-minute today; if 1w/1M ever
        // becomes native, a silent 1-minute default would collapse the
        // attach window so the snapshot almost never overlays. Fail loudly
        // (outside the degrade-to-unoverlaid catch) — calendar timeframes
        // need the close derived from spec.bucketEnd, not a constant.
        val barMinutes = spec.fixedMinutes.getOrElse(throw new IllegalStateException(
          s"premium snapshot overlay requires a fixed-minute timeframe, got '$timeframe'"))
        try {
          val latest = tailed.agg(max(col("timestamp"))).collect().head
          if (latest.isNullAt(0)) (tailed, Nil)
          else {
            val snap = fetch()
            val latestTs = latest.getTimestamp(0)
            val latestMs = latestTs.toInstant.toEpochMilli
            val barCloseMs = latestMs + barMinutes * 60000L
            if (latestMs <= snap.event_time && snap.event_time <= barCloseMs)
              (tailed.withColumn("next_funding_time",
                when(col("timestamp") === lit(latestTs), lit(snap.next_funding_time))
                  .otherwise(col("next_funding_time"))),
               Seq("using_current_snapshot_only_for_next_funding_time"))
            else (tailed, Nil)
          }
        } catch {
          // reference logs the warning and serves without the overlay
          case scala.util.control.NonFatal(_) =>
            (tailed, Seq("premium_index_snapshot_fetch_failed"))
        }
      case None => (tailed, Nil)
    }
    NativeCandleResult(serializeFrame(overlaid),
      decision.notes ++ enriched.notes ++ snapNotes, enriched.release)
  }

  /** Indicator payload (reference `live_indicators/service.py:32-238`):
    * TradingView EMA over the trailing bars of one timeframe plus
    * traditional pivots from the PREVIOUS completed period of another.
    * Both computations share one window read (five columns) and cost one
    * action each. */
  final case class IndicatorPayload(emaTf: String, emaLength: Int,
                                    ema: Option[Double], emaBarTs: Option[String],
                                    pivotTf: String,
                                    pivots: Map[String, Double])

  def indicatorPayload(spark: SparkSession, reader: MinuteLakeReader,
                       symbol: String, emaTf: String, emaLength: Int,
                       pivotTf: String, endTime: Instant): IndicatorPayload = {
    require(emaLength >= 1, "ema_length must be at least 1")
    val emaSpec = Timeframes.parse(emaTf)
    val pivotSpec = Timeframes.parse(pivotTf)
    // warm-up window: 3x length bars (EMA converges), at least length+5
    val emaBars = math.max(emaLength * 3, emaLength + 5)
    val emaStart = emaSpec.addBuckets(endTime, -emaBars)
    val pivotStart = pivotSpec.addBuckets(endTime, -1)
    val start = if (emaStart.isBefore(pivotStart)) emaStart else pivotStart

    val window = reader.readWindow(spark, symbol, start, endTime)
      .select("timestamp", "open", "high", "low", "close")

    // indicator bars use the dedicated OHLC aggregation with non-null
    // gates and end-exclusive bound (live_indicators/aggregation.py:22-75);
    // only the last complete bar's EMA is served, so it is read off the
    // end of the recursion's arrays (Indicators.emaArrays, the ones
    // withEma explodes) instead of joining every bar's EMA back
    val lastBar = Indicators.emaArrays(
        Indicators.aggregateOhlcBars(window, emaSpec, endTime), "close", emaLength)
      .where(size(col("ks")) > 0)
      .select(element_at(col("ks"), -1), element_at(col("emas"), -1))
      .collect().headOption
    val emaVal = lastBar.flatMap(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val emaTs = lastBar.map(r => r.getTimestamp(0).toInstant.toString)

    // previous completed pivot period: [start-1 bucket, current bucket);
    // the pivots are columns of the period's own aggregate (all NULL
    // when the period has no complete H/L/C)
    val prevStart = pivotSpec.addBuckets(endTime, -1)
    val prevEnd = pivotSpec.floorInstant(endTime)
    val pivotExprs = Indicators.pivotPoints(col("h"), col("l"), col("c"))
    val prev = window
      .where(col("timestamp") >= java.sql.Timestamp.from(prevStart) &&
        col("timestamp") < java.sql.Timestamp.from(prevEnd))
      .agg(max(col("high")).as("h"), min(col("low")).as("l"),
        graft.ops.Ops.lastByOrd(col("close"), col("timestamp")).as("c"))
      .select(pivotExprs.map { case (n, e) => e.as(n) }: _*)
      .collect().head
    val pivots =
      if (prev.isNullAt(0)) Map.empty[String, Double]
      else pivotExprs.map(_._1).zipWithIndex.map { case (n, i) => n -> prev.getDouble(i) }.toMap
    IndicatorPayload(emaTf, emaLength, emaVal, emaTs, pivotTf, pivots)
  }

  /** Per-timeframe result as the payload assembler consumes it —
    * serialized rows (one JSON object per bar) + response metadata
    * (reference `service.py:1984-2010` TimeframeCandleResult.metadata). */
  final case class TimeframeResult(rows: Seq[String], source: String,
                                   fetchMode: String, fallbackUsed: Boolean,
                                   notes: Seq[String], latencySecs: Double)

  /** The flagship response envelope (reference `service.py:2174-2197`):
    * per-timeframe thread fan-out, then payload assembly — data map,
    * timeframe metadata map, mixed-source detection, usage-tracker log
    * fields. `fetch` runs once per timeframe on a fan-out thread with
    * the request's usage tracker installed. */
  final case class PerpetualPayload(symbol: String, timeframes: Seq[String],
                                    limit: Int, endTime: String, source: String,
                                    timeframeMetadata: Map[String, TimeframeResult],
                                    data: Map[String, Seq[String]],
                                    usage: Map[String, Any])

  def perpetualPayload(symbol: String, timeframes: Seq[String], limit: Int,
                       endTime: java.time.Instant,
                       fetch: String => TimeframeResult): PerpetualPayload =
    UsageTracker.scope(s"/api/v1/perpetual-data") { tracker =>
      val fetched = graft.sources.RestClient.fanOut(
        timeframes.map(tf => () =>
          tf -> UsageTracker.withTracker(tracker)(fetch(tf)))).toMap
      val sources = fetched.values.map(_.source).toSet
      PerpetualPayload(
        symbol = symbol,
        timeframes = timeframes,
        limit = limit,
        endTime = endTime.toString.replace("+00:00", "Z"),
        source = if (sources.size > 1) "mixed" else sources.headOption.getOrElse("none"),
        timeframeMetadata = fetched,
        data = fetched.map { case (tf, r) => tf -> r.rows },
        usage = tracker.asLogFields)
    }

  /** Serialization (reference `utils.py:73-110`): timeframe-neutral
    * aliases (vwap_1m → vwap_bar, realized_vol_1m → realized_vol_bar),
    * `_`-prefixed internal-column scrub, ISO-8601 timestamps with
    * exactly 3 fraction digits. */
  def serializeFrame(frameIn: DataFrame,
                     includeDeprecatedFields: Boolean = false): DataFrame = {
    var frame = frameIn
    val cols = frame.columns.toSet
    if (!cols.contains("vwap_bar") && cols.contains("vwap_1m"))
      frame = frame.withColumn("vwap_bar", col("vwap_1m"))
    if (!cols.contains("realized_vol_bar") && cols.contains("realized_vol_1m"))
      frame = frame.withColumn("realized_vol_bar", col("realized_vol_1m"))
    if (!includeDeprecatedFields)
      frame = frame.drop("vwap_1m", "realized_vol_1m")
    frame = frame.drop(frame.columns.filter(_.startsWith("_")).toSeq: _*)
    frame.withColumn("timestamp",
      date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
  }
}
