package graft.service

import java.time.{Duration, Instant}

/** API-surface timeframe grammar (reference
  * `live_data_api_service/timeframes.py:25-125`) — distinct from the
  * HTF bucketing grammar in [[graft.schema.Timeframes]]: the API speaks
  * `1m/3m/5m/15m/1hr/4hr` (with `1h`/`60m`/`4h`/`240m` aliases) and
  * accepts inline per-timeframe limits (`tfs=1m=50,5m=25`). All
  * driver-side request plumbing; nothing here touches the data plane. */
object ApiTimeframes {

  final case class ApiTimeframeSpec(apiName: String, minutes: Int)

  /** One parsed `tfs` item: the spec plus its optional inline limit
    * (`timeframes.py:15-22`). */
  final case class TimeframeRequest(spec: ApiTimeframeSpec, limit: Option[Int]) {
    def apiName: String = spec.apiName
  }

  private val supported: Map[String, ApiTimeframeSpec] = Seq(
    "1m" -> 1, "3m" -> 3, "5m" -> 5, "15m" -> 15, "1hr" -> 60, "4hr" -> 240)
    .map { case (n, m) => n -> ApiTimeframeSpec(n, m) }.toMap

  val supportedNames: Seq[String] = Seq("1m", "3m", "5m", "15m", "1hr", "4hr")

  /** Most bars one timeframe may request, query or inline limit alike
    * (reference `max_limit`, `live_data_api_service/config.py:14-16`). */
  val MaxLimit = 500

  private val aliases =
    Map("1h" -> "1hr", "60m" -> "1hr", "4h" -> "4hr", "240m" -> "4hr")

  private val knownQuotes = Seq("USDT", "BUSD", "USDC")

  /** `BTC` → `BTCUSDT`; a symbol already carrying a known quote is kept
    * (`timeframes.py:44-50`). */
  def normalizeSymbol(value: String): String = {
    val normalized = value.trim.toUpperCase
    if (normalized.isEmpty)
      throw new IllegalArgumentException("coin is required")
    if (knownQuotes.exists(normalized.endsWith)) normalized
    else normalized + "USDT"
  }

  /** Parse one timeframe token with alias normalization
    * (`timeframes.py:59-68`). */
  def parseSpec(value: String): ApiTimeframeSpec = {
    val token0 = value.trim.toLowerCase
    if (token0.isEmpty)
      throw new IllegalArgumentException("tfs must contain at least one timeframe")
    val token = aliases.getOrElse(token0, token0)
    supported.getOrElse(token,
      throw new IllegalArgumentException(
        s"Unsupported timeframe '${value.trim}'. Supported values: " +
          supportedNames.mkString(", ")))
  }

  /** Parse the full `tfs` parameter (`timeframes.py:71-105`): comma
    * items, optional inline `tf=limit`, first occurrence wins on
    * duplicates, empty items skipped, at least one required. */
  def parseTimeframeRequests(value: String): Seq[TimeframeRequest] = {
    val resolved = scala.collection.mutable.LinkedHashMap.empty[String, TimeframeRequest]
    for (rawItem <- value.split(",", -1); token = rawItem.trim; if token.nonEmpty) {
      val (tfToken, limitToken) = token.indexOf('=') match {
        case -1 => (token, None)
        case i => (token.substring(0, i), Some(token.substring(i + 1)))
      }
      val spec = parseSpec(tfToken)
      val explicitLimit = limitToken.map { raw =>
        val text = raw.trim
        if (text.isEmpty)
          throw new IllegalArgumentException(
            s"Missing limit for timeframe '${tfToken.trim}'")
        val parsed = text.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"Invalid limit '$text' for timeframe '${tfToken.trim}'"))
        if (parsed < 1)
          throw new IllegalArgumentException(
            s"Limit for timeframe '${spec.apiName}' must be at least 1")
        if (parsed > MaxLimit)
          throw new IllegalArgumentException(
            s"Limit for timeframe '${spec.apiName}' must be at most $MaxLimit")
        parsed
      }
      if (!resolved.contains(spec.apiName))
        resolved(spec.apiName) = TimeframeRequest(spec, explicitLimit)
    }
    if (resolved.isEmpty)
      throw new IllegalArgumentException("tfs must contain at least one timeframe")
    resolved.values.toSeq
  }

  /** Earliest minute the window must cover so every requested timeframe
    * can serve its limit (`timeframes.py:120-125`): widest of
    * `(limit + 1) * minutes`, inclusive-end adjusted. */
  def requestedWindowStart(endTime: Instant, specs: Seq[ApiTimeframeSpec],
                           limit: Option[Int] = None,
                           timeframeLimits: Map[String, Int] = Map.empty): Instant = {
    require(specs.nonEmpty, "at least one timeframe spec is required")
    // inline per-tf limits override the global default PER TIMEFRAME
    // (the grammar allows `tfs=1m=50,5m` with a global limit covering
    // 5m), so the lookup falls back spec-by-spec instead of requiring
    // an all-or-nothing map
    val requestedMinutes = specs.map { s =>
      val l = timeframeLimits.getOrElse(s.apiName,
        limit.getOrElse(throw new IllegalArgumentException(
          s"limit is required when timeframe_limits omit '${s.apiName}'")))
      (l + 1).toLong * s.minutes
    }.max
    endTime.minus(Duration.ofMinutes(requestedMinutes - 1))
  }
}
