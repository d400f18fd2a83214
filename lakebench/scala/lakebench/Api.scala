package lakebench

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.schema.Timeframes
import graft.service.{ApiTimeframes, HttpFacade, QueryService, ResultCache}
import graft.service.HttpFacade.HttpRequest

/** One request of the serving mix, with its span and, for candle
  * requests, what an independent check needs to recompute its bars. */
final case class Req(span: String, http: HttpRequest, symbol: String,
                     end: Instant, tfs: Seq[String], limit: Int)

/** Seeded request mix: a round of three requests, one per API route —
  * a 5m `/perpetual-data` request (limit 200), a 15m BTCUSDT request
  * through the local-only route (limit 50) and a `/live-indicators`
  * request — so every run serves the same work. The seed picks the Zipf-skewed symbol and the end of each request: the
  * latest bar or one of 12 past minute marks, half and half. */
final class RequestMix(seed: Long, symbols: Seq[String], head: Instant) {
  private val rnd = new scala.util.Random(seed * 7919L + 17L)
  private val others = symbols.filterNot(_ == "BTCUSDT")
  private val zipf = {
    val w = others.indices.map(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  // past ends: minute marks spread back from the head, 37 minutes apart
  private def mark(i: Int): Instant = head.minus(i * 37L, ChronoUnit.MINUTES)
  // (route, timeframes, limit): P = perpetual, B = BTC local-only, I = indicators
  private val shapes = Seq(("P", Seq("5m"), 200), ("B", Seq("15m"), 50), ("I", Nil, 0))

  private def pickSymbol(): String = {
    val x = rnd.nextDouble()
    others(zipf.indexWhere(_ >= x) max 0)
  }

  /** One round. */
  def round(): IndexedSeq[Req] = shapes.toIndexedSeq.map { shape =>
    val past = rnd.nextBoolean()
    request(shape, if (past) Some(mark(1 + rnd.nextInt(12))) else None)
  }

  private def request(shape: (String, Seq[String], Int), pastEnd: Option[Instant]): Req = {
    val (route, tfs, limit) = shape
    val end = pastEnd.getOrElse(head)
    val endParam = pastEnd.map(e => Map("end_time" -> e.toString)).getOrElse(Map.empty[String, String])
    if (route == "I") {
      val sym = pickSymbol()
      val q = Map("coin" -> sym, "ema_tf" -> "15m", "ema_length" -> "21",
        "pivot_tf" -> "1h") ++ endParam
      Req("service.indicators", HttpRequest("/api/v1/live-indicators", q), sym, end, Nil, 0)
    } else {
      val btc = route == "B"
      val sym = if (btc) "BTCUSDT" else pickSymbol()
      val q = Map("coin" -> sym, "tfs" -> tfs.mkString(","), "limit" -> limit.toString) ++
        endParam
      Req(if (btc) "service.btc_local" else "service.perpetual",
        HttpRequest("/api/v1/perpetual-data", q), sym, end, tfs, limit)
    }
  }
}

/** The API wired as the demo wires it: candle requests go through a
  * [[QueryService.CachedCandleService]] in front of `candleBars`, BTCUSDT
  * through `btcLocalOnlyBars` (HTF tree first), indicators through
  * `indicatorPayload`. Work that `perpetualPayload` fans out to pooled
  * threads is re-tagged there, so the tracer attributes it to the
  * request's span. */
final class Api(spark: SparkSession, lake: Lake, head: Instant, tracer: Tracer) {
  val cache = new ResultCache[(String, String, Int, Long), Seq[(Long, String)]]()
  private val cached = new QueryService.CachedCandleService(cache,
    lastCompletedMinute = () => head.plus(1, ChronoUnit.MINUTES))
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val lookups = new java.util.concurrent.atomic.AtomicLong

  def hitRatio: Double = if (lookups.get == 0) 0.0 else hits.get.toDouble / lookups.get

  private def tsMs(json: String): Long =
    Instant.parse(Json.field(json, "timestamp").toString).toEpochMilli

  private def candleRows(symbol: String, tf: String, limit: Int, end: Instant): Seq[String] = {
    val spec = Timeframes.parse(tf)
    val rows = cached.candleBars(symbol, spec.name, limit, end.toEpochMilli) { (lim, endExclMs) =>
      val e = Instant.ofEpochMilli(endExclMs - 60000L)
      val s = ApiTimeframes.requestedWindowStart(e,
        Seq(ApiTimeframes.parseSpec(tf)), Some(lim))
      QueryService.candleBars(spark, lake.reader, symbol, spec.name, s, e, lim)
        .toJSON.collect().toSeq.map(r => (tsMs(r), r))
    }
    lookups.incrementAndGet()
    if (cache.lastHitType != cache.Miss) hits.incrementAndGet()
    rows.map(_._2)
  }

  private def btcRows(tf: String, limit: Int, end: Instant): Seq[String] = {
    val r = QueryService.btcLocalOnlyBars(spark, lake.reader, lake.htfReader, "BTCUSDT",
      Timeframes.parse(tf).name, end, limit)
    try r.frame.toJSON.collect().toSeq finally r.release()
  }

  val router = new HttpFacade.Router(
    perpetual = q => {
      val symbol = ApiTimeframes.normalizeSymbol(q.coin)
      val requests = ApiTimeframes.parseTimeframeRequests(q.tfs)
      val end = q.endTime.map(Instant.parse).getOrElse(head)
      val limit = q.limit.getOrElse(200)
      val span = if (symbol == "BTCUSDT") "service.btc_local" else "service.perpetual"
      HttpFacade.perpetualBody(QueryService.perpetualPayload(symbol,
        requests.map(_.apiName), limit, end,
        fetch = tf => tracer.onThread(span) {
          val rows = if (symbol == "BTCUSDT") btcRows(tf, limit, end)
                     else candleRows(symbol, tf, limit, end)
          QueryService.TimeframeResult(rows = rows, source = "local",
            fetchMode = "aggregate_from_1m", fallbackUsed = false, notes = Nil,
            latencySecs = 0.0)
        }))
    },
    indicators = q => HttpFacade.indicatorBody(QueryService.indicatorPayload(spark,
      lake.reader, ApiTimeframes.normalizeSymbol(q.coin), q.emaTf, q.emaLength, q.pivotTf,
      q.endTime.map(Instant.parse).getOrElse(head))))

  /** Serve one request inside its span; returns (status, latency ms, body). */
  def serve(r: Req): (Int, Double, Map[String, Any]) = {
    val t0 = System.nanoTime()
    val resp = tracer.span(r.span)(router.handle(r.http))
    (resp.status, (System.nanoTime() - t0) / 1e6, resp.body)
  }
}

/** Minimal JSON field access for the bar rows the API returns. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def field(json: String, name: String): Any = {
    val n = mapper.readTree(json).get(name)
    if (n == null || n.isNull) null
    else if (n.isNumber) n.asDouble
    else n.asText
  }
}

/** Closed-loop driver: `clients` threads serve the requests in order,
  * each taking the next one when its last is done. Returns (request,
  * status, latency ms, body) per request and the loop's wall time in
  * seconds. */
object ClosedLoop {
  def run(api: Api, reqs: IndexedSeq[Req], clients: Int)
      : (Seq[(Req, Int, Double, Map[String, Any])], Double) = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = mutable.ArrayBuffer.empty[(Req, Int, Double, Map[String, Any])]
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val r = reqs(i)
          val res =
            try { val (s, ms, b) = api.serve(r); (r, s, ms, b) }
            catch { case e: Throwable => (r, 599, 0.0, Map[String, Any]("detail" -> e.toString)) }
          out.synchronized(out += res)
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}
