package graft.service

/** Thin HTTP route layer over the payload builders (reference
  * `live_data_api_service/app.py:171-248`) — the routing, validation
  * and response-header semantics of the FastAPI app, with no server
  * attached: a harness (or any JVM HTTP server) drives [[Router.handle]]
  * with parsed query maps. Spark never appears here; handlers close
  * over [[QueryService]] payload builders.
  *
  * Status-code parity with the reference:
  *   - missing/ill-typed/out-of-range query params → 422 (FastAPI's
  *     request-validation layer, before the endpoint body runs)
  *   - `ValueError` raised by the service (bad coin, bad tfs, bad
  *     end_time) → 400 with the message as `detail`
  *     (`app.py:222-223,246-248`); here `IllegalArgumentException`
  *   - unknown path → 404
  *   - every response carries `X-Response-Time-Secs` (middleware,
  *     `app.py:172-188`) and API payloads also embed
  *     `response_time_secs` (`app.py:218-220`). */
object HttpFacade {

  final case class HttpRequest(path: String, query: Map[String, String] = Map.empty)

  final case class HttpResponse(status: Int, headers: Map[String, String],
                                body: Map[String, Any]) {
    def responseTimeSecs: Double = headers("X-Response-Time-Secs").toDouble
  }

  /** Parsed+validated query of `GET /api/v1/perpetual-data`
    * (`app.py:194-210`). */
  final case class PerpetualQuery(coin: String, tfs: String,
                                  limit: Option[Int], endTime: Option[String])

  /** Parsed+validated query of `GET /api/v1/live-indicators`
    * (`app.py:226-236`). */
  final case class IndicatorQuery(coin: String, emaTf: String, emaLength: Int,
                                  pivotTf: String, endTime: Option[String])

  /** Raised by param validation; mapped to 422 like FastAPI's
    * RequestValidationError. */
  private final case class ValidationError(detail: String)
    extends RuntimeException(detail)

  class Router(perpetual: PerpetualQuery => Map[String, Any],
               indicators: IndicatorQuery => Map[String, Any],
               nanoClock: () => Long = () => System.nanoTime()) {

    def handle(request: HttpRequest): HttpResponse = {
      val startedAt = nanoClock()
      def elapsed: Double = (nanoClock() - startedAt) / 1e9
      def finish(status: Int, body: Map[String, Any],
                 embedTime: Boolean = false): HttpResponse = {
        val t = elapsed
        HttpResponse(status,
          Map("X-Response-Time-Secs" -> f"$t%.6f"),
          if (embedTime) body + ("response_time_secs" -> t) else body)
      }
      try {
        request.path match {
          case "/healthz" =>
            finish(200, Map("status" -> "ok"))
          case "/api/v1/perpetual-data" =>
            val q = PerpetualQuery(
              coin = required(request, "coin"),
              tfs = required(request, "tfs"),
              limit = optionalInt(request, "limit", atLeast = 1,
                atMost = ApiTimeframes.MaxLimit),
              endTime = request.query.get("end_time"))
            finish(200, perpetual(q), embedTime = true)
          case "/api/v1/live-indicators" =>
            val q = IndicatorQuery(
              coin = required(request, "coin"),
              emaTf = required(request, "ema_tf"),
              emaLength = requiredInt(request, "ema_length", atLeast = 1),
              pivotTf = required(request, "pivot_tf"),
              endTime = request.query.get("end_time"))
            finish(200, indicators(q), embedTime = true)
          case _ =>
            finish(404, Map("detail" -> "Not Found"))
        }
      } catch {
        case ValidationError(detail) => finish(422, Map("detail" -> detail))
        case e: IllegalArgumentException =>
          // service-level ValueError parity (app.py:222-223)
          finish(400, Map("detail" ->
            Option(e.getMessage).getOrElse("invalid request")
              .stripPrefix("requirement failed: ")))
      }
    }

    private def required(request: HttpRequest, name: String): String =
      request.query.get(name).map(_.trim).filter(_.nonEmpty)
        .getOrElse(throw ValidationError(s"field required: $name"))

    private def requiredInt(request: HttpRequest, name: String, atLeast: Int): Int =
      parseInt(name, required(request, name), atLeast, Int.MaxValue)

    private def optionalInt(request: HttpRequest, name: String,
                            atLeast: Int, atMost: Int): Option[Int] =
      request.query.get(name).map(parseInt(name, _, atLeast, atMost))

    private def parseInt(name: String, raw: String, atLeast: Int, atMost: Int): Int = {
      val v = raw.trim.toIntOption.getOrElse(
        throw ValidationError(s"$name must be an integer"))
      if (v < atLeast)
        throw ValidationError(s"$name must be at least $atLeast")
      if (v > atMost)
        throw ValidationError(s"$name must be at most $atMost")
      v
    }
  }

  /** Flatten the flagship payload into the response-body shape the
    * reference returns from `fetch_perpetual_data` (`service.py:
    * 2174-2197` — data + metadata maps, usage log fields). */
  def perpetualBody(p: QueryService.PerpetualPayload): Map[String, Any] = Map(
    "symbol" -> p.symbol,
    "timeframes" -> p.timeframes,
    "limit" -> p.limit,
    "end_time" -> p.endTime,
    "source" -> p.source,
    "data" -> p.data,
    "timeframe_metadata" -> p.timeframeMetadata.map { case (tf, r) => tf -> Map(
      "source" -> r.source, "fetch_mode" -> r.fetchMode,
      "fallback_used" -> r.fallbackUsed, "notes" -> r.notes,
      "latency_secs" -> r.latencySecs)
    },
    "binance_usage" -> p.usage)

  /** Indicator payload body (`live_indicators/service.py:32-238`). */
  def indicatorBody(p: QueryService.IndicatorPayload): Map[String, Any] = Map(
    "ema_timeframe" -> p.emaTf,
    "ema_length" -> p.emaLength,
    "ema_value" -> p.ema,
    "ema_timestamp" -> p.emaBarTs,
    "pivot_timeframe" -> p.pivotTf,
    "pivot_points" -> p.pivots)
}
