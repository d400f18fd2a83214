package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.service.ApiTimeframes
import graft.service.HttpFacade
import graft.service.HttpFacade.{HttpRequest, IndicatorQuery, PerpetualQuery, Router}
import graft.service.QueryService

/** Route-layer semantics from reference `app.py:171-248` +
  * `timeframes.py:25-125` — no Spark, no real server. */
class HttpFacadeSpec extends AnyFunSuite {

  private def okPerpetual(q: PerpetualQuery): Map[String, Any] = Map(
    "symbol" -> ApiTimeframes.normalizeSymbol(q.coin),
    "tf_count" -> ApiTimeframes.parseTimeframeRequests(q.tfs).size)

  private def okIndicators(q: IndicatorQuery): Map[String, Any] = Map(
    "ema_length" -> q.emaLength)

  private def router = new Router(okPerpetual, okIndicators)

  test("healthz responds ok with X-Response-Time-Secs (app.py:190-192)") {
    val r = router.handle(HttpRequest("/healthz"))
    assert(r.status == 200 && r.body == Map("status" -> "ok"))
    assert(r.responseTimeSecs >= 0.0)
  }

  test("unknown path is 404, still timed (app.py middleware)") {
    val r = router.handle(HttpRequest("/api/v1/nope"))
    assert(r.status == 404 && r.body("detail") == "Not Found")
    assert(r.headers.contains("X-Response-Time-Secs"))
  }

  test("perpetual-data: success embeds response_time_secs and sets the header (app.py:211-220)") {
    val r = router.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "btc", "tfs" -> "1m,5m,1hr", "limit" -> "50")))
    assert(r.status == 200)
    assert(r.body("symbol") == "BTCUSDT")
    assert(r.body("tf_count") == 3)
    assert(r.body.contains("response_time_secs"))
    assert(r.body("response_time_secs").asInstanceOf[Double] >= 0.0)
    assert(r.headers.contains("X-Response-Time-Secs"))
  }

  test("perpetual-data: missing required params are 422, pre-handler (FastAPI validation parity)") {
    var handlerRan = false
    val strict = new Router(q => { handlerRan = true; okPerpetual(q) }, okIndicators)
    assert(strict.handle(HttpRequest("/api/v1/perpetual-data",
      Map("tfs" -> "1m"))).status == 422)
    assert(strict.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC"))).status == 422)
    // blank counts as missing
    assert(strict.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "  ", "tfs" -> "1m"))).status == 422)
    assert(!handlerRan)
  }

  test("perpetual-data: limit must be an integer >= 1 (Query(ge=1) parity)") {
    def req(l: String) = HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC", "tfs" -> "1m", "limit" -> l))
    assert(router.handle(req("0")).status == 422)
    assert(router.handle(req("-5")).status == 422)
    assert(router.handle(req("abc")).status == 422)
    assert(router.handle(req("1")).status == 200)
    // and at most max_limit (config.py:14-16), checked before the handler
    var handled = Seq.empty[Option[Int]]
    val capped = new Router(q => { handled :+= q.limit; okPerpetual(q) }, okIndicators)
    assert(ApiTimeframes.MaxLimit == 500)
    assert(capped.handle(req("500")).status == 200)
    assert(handled == Seq(Some(500)))
    val over = capped.handle(req("501"))
    assert(over.status == 422 && over.body("detail") == "limit must be at most 500")
    assert(handled == Seq(Some(500)))
    // an inline limit is parsed by the handler: over the cap is a 400
    val inline = capped.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC", "tfs" -> "5m=501")))
    assert(inline.status == 400)
    assert(inline.body("detail") == "Limit for timeframe '5m' must be at most 500")
    assert(capped.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC", "tfs" -> "5m=500"))).status == 200)
  }

  test("service-level ValueError maps to 400 with detail (app.py:222-223)") {
    // unsupported timeframe raises inside the handler, not validation
    val r = router.handle(HttpRequest("/api/v1/perpetual-data",
      Map("coin" -> "BTC", "tfs" -> "2h")))
    assert(r.status == 400)
    assert(r.body("detail").toString.contains("Unsupported timeframe '2h'"))
  }

  test("live-indicators: required params + ema_length >= 1 (app.py:226-236)") {
    def req(q: Map[String, String]) = router.handle(
      HttpRequest("/api/v1/live-indicators", q))
    val full = Map("coin" -> "BTC", "ema_tf" -> "5m", "ema_length" -> "21",
      "pivot_tf" -> "1hr")
    val ok = req(full)
    assert(ok.status == 200 && ok.body.contains("response_time_secs"))
    for (missing <- Seq("coin", "ema_tf", "ema_length", "pivot_tf"))
      assert(req(full - missing).status == 422, s"missing $missing")
    assert(req(full + ("ema_length" -> "0")).status == 422)
    assert(req(full + ("ema_length" -> "x")).status == 422)
  }

  test("normalize_symbol appends USDT unless a known quote is present (timeframes.py:44-50)") {
    assert(ApiTimeframes.normalizeSymbol("btc") == "BTCUSDT")
    assert(ApiTimeframes.normalizeSymbol(" ETHusdt ") == "ETHUSDT")
    assert(ApiTimeframes.normalizeSymbol("solBUSD") == "SOLBUSD")
    assert(ApiTimeframes.normalizeSymbol("xrpUSDC") == "XRPUSDC")
    assertThrows[IllegalArgumentException](ApiTimeframes.normalizeSymbol("  "))
  }

  test("parse_timeframe_requests: aliases, inline limits, dedup, errors (timeframes.py:59-105)") {
    val parsed = ApiTimeframes.parseTimeframeRequests("1m=50, 5m=25,1h,4hr,1m=99,,")
    assert(parsed.map(_.apiName) == Seq("1m", "5m", "1hr", "4hr"))
    assert(parsed.map(_.limit) == Seq(Some(50), Some(25), None, None))
    assert(parsed.map(_.spec.minutes) == Seq(1, 5, 60, 240))

    assertThrows[IllegalArgumentException](
      ApiTimeframes.parseTimeframeRequests("2h"))
    assertThrows[IllegalArgumentException](
      ApiTimeframes.parseTimeframeRequests(" , "))
    assertThrows[IllegalArgumentException](
      ApiTimeframes.parseTimeframeRequests("1m="))
    assertThrows[IllegalArgumentException](
      ApiTimeframes.parseTimeframeRequests("1m=zero"))
    assertThrows[IllegalArgumentException](
      ApiTimeframes.parseTimeframeRequests("1m=0"))
  }

  test("requested_window_start widens to the most demanding timeframe (timeframes.py:120-125)") {
    import java.time.Instant
    val end = Instant.parse("2026-01-15T12:00:00Z")
    val specs = ApiTimeframes.parseTimeframeRequests("1m,1hr").map(_.spec)
    // limit=10 → max((10+1)*1, (10+1)*60) = 660 minutes → end - 659m
    assert(ApiTimeframes.requestedWindowStart(end, specs, limit = Some(10)) ==
      end.minusSeconds(659L * 60))
    // per-tf limits override the shared limit
    assert(ApiTimeframes.requestedWindowStart(end, specs,
      timeframeLimits = Map("1m" -> 1000, "1hr" -> 2)) ==
      end.minusSeconds((1001L * 1 - 1) * 60))
    assertThrows[IllegalArgumentException](
      ApiTimeframes.requestedWindowStart(end, specs))
    // mixed: inline limit for 1m, global default covers 1hr
    // (`tfs=1m=2,1hr` with limit=5) → max((2+1)*1, (5+1)*60) = 360
    assert(ApiTimeframes.requestedWindowStart(end, specs, limit = Some(5),
      timeframeLimits = Map("1m" -> 2)) == end.minusSeconds(359L * 60))
    // partial per-tf limits with NO global default → explicit error,
    // not a NoSuchElementException
    assertThrows[IllegalArgumentException](
      ApiTimeframes.requestedWindowStart(end, specs,
        timeframeLimits = Map("1m" -> 2)))
  }

  test("payload body flattening matches the reference envelope keys (service.py:2174-2197)") {
    val payload = QueryService.PerpetualPayload(
      symbol = "BTCUSDT", timeframes = Seq("1m"), limit = 5,
      endTime = "2026-01-15T12:00:00Z", source = "local",
      timeframeMetadata = Map("1m" -> QueryService.TimeframeResult(
        rows = Seq("""{"close":1.0}"""), source = "local",
        fetchMode = "aggregate_from_1m", fallbackUsed = false,
        notes = Seq("n1"), latencySecs = 0.01)),
      data = Map("1m" -> Seq("""{"close":1.0}""")),
      usage = Map("rest_calls" -> 0))
    val body = HttpFacade.perpetualBody(payload)
    assert(body.keySet == Set("symbol", "timeframes", "limit", "end_time",
      "source", "data", "timeframe_metadata", "binance_usage"))
    val meta = body("timeframe_metadata").asInstanceOf[Map[String, Map[String, Any]]]("1m")
    assert(meta("fetch_mode") == "aggregate_from_1m" && meta("fallback_used") == false)

    val ind = HttpFacade.indicatorBody(QueryService.IndicatorPayload(
      "5m", 21, Some(100.5), Some("2026-01-15T11:55:00.000Z"), "1hr",
      Map("p" -> 1.0)))
    assert(ind.keySet == Set("ema_timeframe", "ema_length", "ema_value",
      "ema_timestamp", "pivot_timeframe", "pivot_points"))
  }
}
