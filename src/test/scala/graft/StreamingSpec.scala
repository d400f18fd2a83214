package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{DepthDiffEvent, DepthOrderBook, DepthSyncError, LiveCollector}
import graft.streaming.LiveCollector.{LatencySample, LiquidationEvent}

/** Golden semantics from reference `tests/test_live_collector.py`. */
class StreamingSpec extends SparkSpec {

  private def diff(first: Long, last: Long, bid: (Double, Double),
                   ask: (Double, Double), pu: Option[Long] = None) =
    DepthDiffEvent("BTCUSDT", 0L, first, last, Seq(bid), Seq(ask), pu)

  test("depth sync requires the first event to bridge the snapshot (test_live_collector.py:23-41)") {
    val book = new DepthOrderBook
    book.bufferEvent(diff(120, 125, (99.0, 10.0), (101.0, 10.0)))
    assertThrows[DepthSyncError](
      book.syncFromSnapshot(100, Seq((99.0, 10.0)), Seq((101.0, 10.0))))
    assert(book.degraded)
  }

  test("snapshot + bridging diffs sync the book; impact projection fillable (test_live_collector.py:45-94)") {
    val book = new DepthOrderBook
    // buffered pre-snapshot diffs
    book.applyEvent(diff(101, 105, (99.0, 1000.0), (101.0, 1000.0)))
    book.applyEvent(diff(106, 110, (99.5, 1100.0), (101.5, 1100.0)))
    assert(!book.isSynchronized)
    // snapshot at lastUpdateId=102 bridges via the first buffered diff...
    book.syncFromSnapshot(102,
      Seq((99.0, 2000.0), (98.5, 2000.0)),
      Seq((100.5, 2000.0), (101.0, 2000.0), (101.5, 2000.0)))
    assert(book.isSynchronized && !book.degraded)
    book.applyEvent(diff(111, 115, (99.75, 1200.0), (100.75, 2200.0)))
    assert(book.lastUpdateId.contains(115L))
    val (impact, fillable) = book.computeBuyPriceImpact(100000.0)
    assert(fillable && impact.isDefined && impact.get > 0)
    val (spreadPct, avgBid, avgAsk) = book.computeHealthMetrics()
    assert(spreadPct.isDefined && avgBid.isDefined && avgAsk.isDefined)
  }

  test("continuity break on pu mismatch degrades the book (websocket.py:305-311)") {
    val book = new DepthOrderBook
    book.syncFromSnapshot(100, Seq((99.0, 10.0)), Seq((101.0, 10.0)))
    assertThrows[DepthSyncError](
      book.applyEvent(diff(150, 160, (99.0, 5.0), (101.0, 5.0), pu = Some(140))))
    assert(book.degraded && !book.isSynchronized)
  }

  test("best_bid >= best_ask breaks the invariant (websocket.py:345-355)") {
    val book = new DepthOrderBook
    assertThrows[DepthSyncError](
      book.syncFromSnapshot(100, Seq((102.0, 10.0)), Seq((101.0, 10.0))))
  }

  test("liquidation minute accumulation: side split, weighted fill, unfilled ratio (test_live_collector.py:120-220)") {
    import spark.implicits._
    val minute = ms("2026-01-15T10:00:00Z")
    val events = Seq(
      // SELL = long liquidation
      LiquidationEvent("BTCUSDT", minute + 1000, "SELL", 100.0, 2.0,
        origQuantity = Some(3.0), executedQuantity = Some(2.0)),
      // BUY = short liquidation
      LiquidationEvent("BTCUSDT", minute + 2000, "BUY", 101.0, 1.0,
        origQuantity = Some(1.0), executedQuantity = Some(1.0))
    ).toDS()
    val out = LiveCollector.liquidationMinuteFeaturesBatch(events).collect()
    assert(out.length == 1)
    val f = out.head
    assert(f.hasLiq && f.timestampMs == minute)
    assert(f.liqLongVolUsdt.contains(200.0))   // SELL notional
    assert(f.liqShortVolUsdt.contains(101.0))  // BUY notional
    assert(f.liqLongCount.contains(1L) && f.liqShortCount.contains(1L))
    // qty-weighted fill price: (100*2 + 101*1) / 3
    assert(math.abs(f.liqAvgFillPrice.get - 301.0 / 3.0) < 1e-12)
    // unfilled: orig 4, executed 3 → 0.25
    assert(math.abs(f.liqUnfilledRatio.get - 0.25) < 1e-12)
    assert(f.liqUnfilledSupported.contains(true))
  }

  test("unfilled support demotes when quantities are missing (websocket.py:1614-1623)") {
    import spark.implicits._
    val minute = ms("2026-01-15T10:00:00Z")
    val events = Seq(
      LiquidationEvent("BTCUSDT", minute + 1000, "SELL", 100.0, 2.0,
        origQuantity = Some(3.0), executedQuantity = Some(2.0)),
      LiquidationEvent("BTCUSDT", minute + 2000, "BUY", 101.0, 1.0) // no orig/executed
    ).toDS()
    val f = LiveCollector.liquidationMinuteFeaturesBatch(events).collect().head
    assert(f.liqUnfilledSupported.contains(false))
    assert(f.liqUnfilledRatio.isEmpty)
  }

  test("latency p95 is nearest-rank; bad flag on any sample > 500ms (websocket.py:100-105,1521-1528)") {
    import spark.implicits._
    val minute = ms("2026-01-15T10:00:00Z")
    // 20 samples: engine latencies 10..200 (i*10), one spike 600
    val samples = (1 to 20).map { i =>
      val et = minute + i * 100L
      LatencySample("BTCUSDT", et, et - 5, et + (if (i == 20) 600L else i * 10L))
    }.toDS()
    val f = LiveCollector.latencyMinuteFeaturesBatch(samples).collect().head
    assert(f.hasWsLatency)
    // nearest-rank p95 of 20 samples = 19th smallest: engine values are
    // 10..190 + 600 → sorted 19th = 190
    assert(f.latencyEngine.contains(190L))
    assert(f.wsLatencyBad.contains(true))
    assert(f.eventTime.contains(minute + 2000L))
  }

  test("depth pipeline: snapshot+diffs → per-minute features with impact (test_live_collector.py:45-94)") {
    import spark.implicits._
    import graft.streaming.DepthFeatures
    import graft.streaming.DepthFeatures.DepthMsg
    val minute = ms("2026-01-15T10:00:00Z")
    val msgs = Seq(
      DepthMsg.diff(diff(101, 105, (99.0, 1000.0), (101.0, 1000.0)).copy(eventTime = minute)),
      DepthMsg.diff(diff(106, 110, (99.5, 1100.0), (101.5, 1100.0)).copy(eventTime = minute + 500)),
      DepthMsg.snapshot("BTCUSDT", minute + 600, 102,
        Seq((99.0, 2000.0), (98.5, 2000.0)),
        Seq((100.5, 2000.0), (101.0, 2000.0), (101.5, 2000.0))),
      DepthMsg.diff(diff(111, 115, (99.75, 1200.0), (100.75, 2200.0)).copy(eventTime = minute + 900))
    ).toDS()
    val out = DepthFeatures.depthFeaturesBatch(msgs).collect()
    assert(out.length == 1)
    val f = out.head
    assert(f.hasDepth && f.timestampMs == minute)
    assert(f.updateIdStart.contains(101L) && f.updateIdEnd.contains(115L))
    assert(f.impactFillable.contains(true) && f.priceImpact100k.exists(_ > 0))
    assert(!f.depthDegraded)
  }

  test("depth pipeline: unsynced diffs still report has_depth but degraded (test_live_collector.py:97-118)") {
    import spark.implicits._
    import graft.streaming.DepthFeatures
    import graft.streaming.DepthFeatures.DepthMsg
    val minute = ms("2026-01-15T10:00:00Z")
    val msgs = Seq(DepthMsg.diff(
      diff(101, 105, (99.0, 1000.0), (101.0, 1000.0)).copy(eventTime = minute))).toDS()
    val f = DepthFeatures.depthFeaturesBatch(msgs).collect().head
    assert(f.hasDepth && f.depthDegraded)
    assert(f.updateIdStart.contains(101L) && f.updateIdEnd.contains(105L))
    assert(f.priceImpact100k.isEmpty)
  }

  test("resync supervisor: break degrades + NULL-gates, injected snapshot recovers (websocket.py:2121-2306)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{DepthFeatures, DepthResyncSupervisor}
    import graft.streaming.DepthFeatures.{DepthMinuteFeatures, DepthMsg}

    val m0 = ms("2026-01-15T10:00:00Z")
    val m1 = m0 + 60000L
    val m2 = m0 + 120000L
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-depth-ckpt").toString

    val stream = MemoryStream[DepthMsg]
    val fetched = new java.util.concurrent.atomic.AtomicInteger(0)
    val supervisor = new DepthResyncSupervisor(
      "BTCUSDT",
      fetchSnapshot = () => {
        fetched.incrementAndGet()
        // REST snapshot taken AFTER the gap: lastUpdateId bridges the
        // first diff buffered since the break (U=126 <= 126 <= u=130)
        Some(DepthResyncSupervisor.Snapshot(126,
          Seq((99.0, 2000.0), (98.5, 2000.0)),
          Seq((100.5, 2000.0), (101.0, 2000.0))))
      },
      inject = msg => { stream.addData(msg); () },
      nowMs = () => m1 + 30000L)

    val collected = scala.collection.mutable.ArrayBuffer[DepthMinuteFeatures]()
    val query = DepthFeatures.depthFeaturesStream(stream.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[DepthMinuteFeatures], _: Long) =>
        val rows = batch.collect()
        collected.synchronized { collected ++= rows }
        supervisor.observe(rows.toSeq)
      }.start()
    try {
      // micro-batch 1: snapshot + continuous diffs — minute m0 healthy
      stream.addData(
        DepthMsg.snapshot("BTCUSDT", m0, 100,
          Seq((99.0, 2000.0)), Seq((101.0, 2000.0), (101.5, 2000.0))),
        DepthMsg.diff(diff(101, 105, (99.0, 3000.0), (101.0, 3000.0))
          .copy(eventTime = m0 + 1000)),
        DepthMsg.diff(diff(106, 110, (99.5, 1500.0), (100.8, 3000.0))
          .copy(eventTime = m0 + 2000)))
      query.processAllAvailable()
      assert(supervisor.resyncCount == 0) // healthy batch: no fetch

      // micro-batch 2: update-id gap (U=120 > expected 111) breaks
      // continuity mid-minute; the follow-up diff buffers while
      // unsynced. The supervisor sees the degraded minute and
      // re-injects a fresh snapshot; that control message is processed
      // as its own micro-batch inside this processAllAvailable,
      // replaying the buffered diff (U=126 <= 126 <= u=130 bridges).
      stream.addData(
        DepthMsg.diff(diff(120, 125, (99.2, 1000.0), (100.9, 1000.0))
          .copy(eventTime = m1 + 500)),
        DepthMsg.diff(diff(126, 130, (99.3, 1200.0), (100.7, 1800.0))
          .copy(eventTime = m1 + 1500)))
      query.processAllAvailable()
      assert(supervisor.resyncCount == 1 && fetched.get == 1)

      // micro-batch 3: post-recovery diffs — minute m2 healthy again
      stream.addData(
        DepthMsg.diff(diff(131, 135, (99.4, 1300.0), (100.6, 2000.0))
          .copy(eventTime = m2 + 500)),
        DepthMsg.diff(diff(136, 140, (99.5, 1400.0), (100.5, 2500.0))
          .copy(eventTime = m2 + 1500)))
      query.processAllAvailable()
    } finally query.stop()

    val byMinute = collected.groupBy(_.timestampMs)
    val f0 = byMinute(m0).last
    assert(!f0.depthDegraded && f0.impactFillable.contains(true)
      && f0.priceImpact100k.isDefined)
    // degrade window: features NULL-gated while the book is broken
    val f1 = byMinute(m1).last
    assert(f1.hasDepth && f1.depthDegraded)
    assert(f1.priceImpact100k.isEmpty && f1.spreadPct.isEmpty
      && f1.avgBidDepth.isEmpty)
    assert(f1.updateIdStart.contains(120L) && f1.updateIdEnd.contains(130L))
    // recovery: snapshot re-injection + buffered replay resync the book
    val f2 = byMinute(m2).last
    assert(!f2.depthDegraded && f2.impactFillable.contains(true)
      && f2.priceImpact100k.isDefined)

    // Update-mode re-emission of the SAME degraded window must not
    // re-fetch; only a NEWER degraded minute would
    supervisor.observe(byMinute(m1).toSeq)
    assert(supervisor.resyncCount == 1 && fetched.get == 1)
  }

  test("streaming liquidation accumulation matches batch (flatMapGroupsWithState)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val minute = ms("2026-01-15T10:00:00Z")
    val events = Seq(
      LiquidationEvent("BTCUSDT", minute + 1000, "SELL", 100.0, 2.0,
        origQuantity = Some(3.0), executedQuantity = Some(2.0)),
      LiquidationEvent("BTCUSDT", minute + 2000, "BUY", 101.0, 1.0,
        origQuantity = Some(1.0), executedQuantity = Some(1.0)))

    // one micro-batch: this environment's local-FS checkpoint renames
    // fork a shell per file op, so multi-batch state round-trips are
    // prohibitively slow here; cross-batch math is covered by the batch
    // path (same MinuteAccumulator).
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-ckpt").toString
    val stream = MemoryStream[LiquidationEvent]
    stream.addData(events: _*)
    val query = LiveCollector.liquidationMinuteFeaturesStream(stream.toDS())
      .writeStream.outputMode("update").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("liq_stream_test").start()
    try {
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT * FROM liq_stream_test ORDER BY timestampMs DESC").collect()
      assert(rows.nonEmpty)
      val last = rows.head
      val idx = (c: String) => rows.head.schema.fieldIndex(c)
      assert(last.getDouble(idx("liqLongVolUsdt")) == 200.0)
      assert(last.getDouble(idx("liqShortVolUsdt")) == 101.0)
      assert(math.abs(last.getDouble(idx("liqUnfilledRatio")) - 0.25) < 1e-12)
    } finally query.stop()
  }

  test("liq sink recovers from its checkpoint: stop mid-stream, resume, no lost or duplicated minutes (ST9)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m0 = ms("2026-01-15T10:00:00Z")
    val m1 = m0 + 60000L
    // /dev/shm: local-FS checkpoint renames shell out per file op here,
    // so the state store must live on tmpfs to keep the restart fast
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt = tempDir(shm, "graft-ckpt").toString
    val out = tempDir(shm, "graft-out").toString + "/liq"

    val batchA = Seq(
      LiquidationEvent("BTCUSDT", m0 + 1000, "SELL", 100.0, 2.0,
        origQuantity = Some(3.0), executedQuantity = Some(2.0)))
    val batchB = Seq(
      // same minute as batch A — the resumed query must ACCUMULATE onto
      // recovered state, not restart from zero
      LiquidationEvent("BTCUSDT", m0 + 2000, "BUY", 101.0, 1.0,
        origQuantity = Some(1.0), executedQuantity = Some(1.0)),
      // a fresh minute — must not be lost across the restart
      LiquidationEvent("BTCUSDT", m1 + 500, "SELL", 102.0, 4.0,
        origQuantity = Some(4.0), executedQuantity = Some(4.0)))

    val stream = MemoryStream[LiquidationEvent]
    stream.addData(batchA: _*)
    val q1 = LiveCollector.startLiqFeatureSink(spark, stream.toDS(), out, ckpt)
    try q1.processAllAvailable() finally q1.stop()

    // kill point: more data arrives while the sink is down
    stream.addData(batchB: _*)
    val q2 = LiveCollector.startLiqFeatureSink(spark, stream.toDS(), out, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val rows = LiveCollector.readLiqFeatures(spark, out)
      .orderBy("timestampMs").collect()
    val idx = (c: String) => rows.head.schema.fieldIndex(c)
    // exactly one surviving row per minute — no dup, no loss
    assert(rows.map(_.getLong(idx("timestampMs"))).toSeq == Seq(m0, m1))
    val r0 = rows(0)
    // minute m0 carries batch A's SELL (recovered state) + batch B's BUY
    assert(r0.getDouble(idx("liqLongVolUsdt")) == 200.0)
    assert(r0.getDouble(idx("liqShortVolUsdt")) == 101.0)
    assert(math.abs(r0.getDouble(idx("liqUnfilledRatio")) - 0.25) < 1e-12)
    val r1 = rows(1)
    assert(r1.getDouble(idx("liqLongVolUsdt")) == 408.0)
    assert(r1.getDouble(idx("liqShortVolUsdt")) == 0.0)

    // the recovered totals equal a cold batch run over ALL events —
    // restart introduced no drift
    val batchAll = LiveCollector.liquidationMinuteFeaturesBatch(
      (batchA ++ batchB).toDS()).collect().sortBy(_.timestampMs)
    assert(batchAll.map(r => (r.timestampMs,
        r.liqLongVolUsdt.getOrElse(0.0), r.liqShortVolUsdt.getOrElse(0.0))).toSeq ==
      rows.map(r => (r.getLong(idx("timestampMs")),
        r.getDouble(idx("liqLongVolUsdt")), r.getDouble(idx("liqShortVolUsdt")))).toSeq)
  }

  test("WS payload processor: depth/liquidation/trade/markPrice parsing and gates (test_websocket_payload_processor.py)") {
    import graft.streaming.WsPayloadProcessor
    import graft.streaming.LiveCollector.LiquidationEvent
    val depths = scala.collection.mutable.Buffer[(DepthDiffEvent, Option[Long], Option[Long])]()
    val liqs = scala.collection.mutable.Buffer[LiquidationEvent]()
    val trades = scala.collection.mutable.Buffer[(String, Option[Long], Option[Long], Option[Long])]()
    val fundings = scala.collection.mutable.Buffer[(Long, Option[Double], Option[Long])]()
    val collector = new WsPayloadProcessor.Collector {
      def ingestDepthDiff(e: DepthDiffEvent, t: Option[Long], a: Option[Long]): Unit =
        depths += ((e, t, a))
      def ingestLiquidation(e: LiquidationEvent): Unit = liqs += e
      def ingestTrade(s: String, e: Option[Long], t: Option[Long], a: Option[Long]): Unit =
        trades += ((s, e, t, a))
      def ingestPredictedFunding(e: Long, pf: Option[Double], nft: Option[Long],
                                 a: Option[Long]): Unit = fundings += ((e, pf, nft))
    }
    val p = new WsPayloadProcessor.Processor(collector, "btcusdt")
    val m = ms("2026-01-15T10:00:00Z")

    p.processStreamPayload("btcusdt@depth@100ms",
      s"""{"e":"depthUpdate","E":${m + 5000},"T":${m + 4990},"s":"BTCUSDT",
         |"U":101,"u":105,"pu":100,"b":[["99.5","12.0"]],"a":[["100.5","15.0"]]}"""
        .stripMargin.replace("\n", ""), Some(m + 5020))
    assert(depths.size == 1)
    val (d, dt, da) = depths.head
    assert(d.firstUpdateId == 101 && d.finalUpdateId == 105 &&
      d.previousFinalUpdateId.contains(100L))
    assert(d.bidDeltas == Seq((99.5, 12.0)) && d.askDeltas == Seq((100.5, 15.0)))
    assert(dt.contains(m + 4990) && da.contains(m + 5020))

    // liquidation: executed qty (l) preferred over original, E absent →
    // o.T fallback; SELL forceOrder = long liquidation downstream
    p.processStreamPayload("btcusdt@forceOrder",
      s"""{"e":"forceOrder","o":{"s":"BTCUSDT","S":"SELL","p":"100.0",
         |"ap":"100.0","q":"3.0","l":"2.5","T":${m + 10000}}}"""
        .stripMargin.replace("\n", ""), Some(m + 10050))
    assert(liqs.size == 1)
    assert(liqs.head.quantity == 2.5 && liqs.head.origQuantity.contains(3.0))
    assert(liqs.head.eventTime == m + 10000) // o.T fallback
    // invalid side dropped
    p.processStreamPayload("btcusdt@forceOrder",
      """{"e":"forceOrder","o":{"S":"HOLD","p":"1","q":"1","T":1}}""")
    assert(liqs.size == 1)

    // combined-stream envelope routes by stream name; symbol from prefix
    p.processCombinedPayload(
      s"""{"stream":"ethusdt@aggTrade","data":{"e":"aggTrade","E":${m + 20000},"T":${m + 19980}}}""",
      Some(m + 20030))
    assert(trades.size == 1 && trades.head._1 == "ETHUSDT")
    assert(trades.head._2.contains(m + 20000) && trades.head._4.contains(m + 20030))

    p.processStreamPayload("btcusdt@markPrice@1s",
      s"""{"e":"markPriceUpdate","E":${m + 30000},"r":"0.0001","T":${m + 8 * 3600 * 1000}}""")
    assert(fundings.size == 1)
    assert(fundings.head._2.contains(0.0001) &&
      fundings.head._3.contains(m + 8 * 3600 * 1000L))
    // unknown stream → ignored
    p.processStreamPayload("btcusdt@kline_1m", """{"e":"kline"}""")
    assert(depths.size + liqs.size + trades.size + fundings.size == 4)
  }

  test("windowed streaming liq features match the batch accumulator (ST5/ST6)") {
    import graft.streaming.LiveCollector
    import graft.streaming.LiveCollector.LiquidationEvent
    import spark.implicits._
    val m = ms("2026-01-15T10:00:00Z")
    val events = Seq(
      LiquidationEvent("BTCUSDT", m + 1000, "SELL", 100.0, 2.0,
        origQuantity = Some(4.0), executedQuantity = Some(2.0)),
      LiquidationEvent("BTCUSDT", m + 2000, "BUY", 101.0, 1.0,
        origQuantity = Some(1.0), executedQuantity = Some(1.0)),
      LiquidationEvent("BTCUSDT", m + 61000, "SELL", 99.0, 3.0,
        origQuantity = None, executedQuantity = None)) // demotes minute 2
    // batch reference
    val batch = LiveCollector.liquidationMinuteFeaturesBatch(events.toDS())
      .collect().map(f => (f.timestampMs, f)).toMap
    // windowed declarative form on the same (bounded) data
    val win = LiveCollector.liquidationMinuteFeaturesWindowed(events.toDS())
      .collect().map(r => (r.getLong(r.fieldIndex("timestampMs")), r)).toMap
    assert(win.keySet == batch.keySet)
    val w1 = win(m); val b1 = batch(m)
    assert(w1.getDouble(w1.fieldIndex("liqLongVolUsdt")) == b1.liqLongVolUsdt.get)
    assert(w1.getDouble(w1.fieldIndex("liqShortVolUsdt")) == b1.liqShortVolUsdt.get)
    assert(w1.getDouble(w1.fieldIndex("liqAvgFillPrice")) == b1.liqAvgFillPrice.get)
    assert(w1.getDouble(w1.fieldIndex("liqUnfilledRatio")) == b1.liqUnfilledRatio.get)
    assert(w1.getBoolean(w1.fieldIndex("liqUnfilledSupported")))
    // minute 2: missing orig/exec demotes support in both forms
    val w2 = win(m + 60000); val b2 = batch(m + 60000)
    assert(!w2.getBoolean(w2.fieldIndex("liqUnfilledSupported")) &&
      !b2.liqUnfilledSupported.get)
    assert(w2.isNullAt(w2.fieldIndex("liqUnfilledRatio")) && b2.liqUnfilledRatio.isEmpty)
  }

  test("WS worker: reconnect-on-failure loop with read timeouts (websocket.py:2081-2118)") {
    import graft.streaming.WsManager
    val messages = scala.collection.mutable.Buffer[String]()
    val connections = scala.collection.mutable.Buffer[Boolean]()
    val sleeps = scala.collection.mutable.Buffer[Long]()
    var attempts = 0
    var workerRef: WsManager.Worker = null
    def connect(): WsManager.Connection = {
      attempts += 1
      attempts match {
        case 1 => throw new RuntimeException("connect refused")
        case 2 => new WsManager.Connection {
          private var i = 0
          def recv(): Option[String] = {
            i += 1
            i match {
              case 1 => None // read timeout → loop continues
              case 2 => Some("payload-a")
              case _ => throw new RuntimeException("broken pipe") // → reconnect
            }
          }
        }
        case _ => new WsManager.Connection {
          def recv(): Option[String] = { workerRef.requestStop(); Some("payload-b") }
        }
      }
    }
    workerRef = new WsManager.Worker("test", connect _, (m, _) => messages += m,
      onConnectionChange = connections += _, reconnectMs = 7,
      sleep = sleeps += _, now = () => 0L)
    workerRef.runLoop()
    assert(messages.toSeq == Seq("payload-a", "payload-b"))
    assert(attempts == 3) // refused, broken, then stopped
    assert(connections.toSeq == Seq(false, true, false, true, false))
    assert(sleeps.count(_ == 7) == 2) // reconnect delay after each failure
  }

  test("symbol WS manager: touch/LRU cap/idle eviction (ws_manager.py:76-190)") {
    import graft.streaming.WsManager.SymbolWsManager
    var clock = 0L
    val stopped = scala.collection.mutable.Buffer[String]()
    val mgr = new SymbolWsManager[String](
      create = sym => (s"collector-$sym", () => stopped += sym),
      maxSubscriptions = 2, idleTimeoutMs = 100, now = () => clock)
    assert(mgr.touch("btcusdt") == "collector-BTCUSDT")
    clock = 10
    assert(mgr.touch("ETHUSDT") == "collector-ETHUSDT")
    // re-touch refreshes the idle timer and reuses the collector
    clock = 20
    assert(mgr.touch("BTCUSDT") == "collector-BTCUSDT" && stopped.isEmpty)
    // cap reached → least-recently-touched (ETHUSDT@10) is evicted
    clock = 30
    mgr.touch("SOLUSDT")
    assert(stopped.toSeq == Seq("ETHUSDT"))
    assert(mgr.activeSymbols.toSet == Set("BTCUSDT", "SOLUSDT"))
    // idle eviction: BTCUSDT last touched at 20 → idle at 121+
    clock = 125
    assert(mgr.cleanupIdle() == Seq("BTCUSDT"))
    assert(mgr.getCollector("BTCUSDT").isEmpty)
    assert(mgr.getCollector("SOLUSDT").contains("collector-SOLUSDT"))
    mgr.stopAll()
    assert(stopped.toSet == Set("ETHUSDT", "BTCUSDT", "SOLUSDT"))
  }

  test("streaming dedup within watermark: reconnect re-deliveries collapse, state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = new java.sql.Timestamp(ms("2026-01-15T10:00:00Z"))
    def at(deltaMs: Long) = new java.sql.Timestamp(t0.getTime + deltaMs)
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-ckpt").toString

    val stream = MemoryStream[(String, Long, java.sql.Timestamp)]
    val deduped = graft.streaming.StreamDedup.dedupWithinWatermark(
      stream.toDS().toDF("symbol", "event_id", "ts"),
      tsCol = "ts", keyCols = Seq("symbol", "event_id"), delay = "10 minutes")
    val query = deduped.writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("dedup_stream_test").start()
    try {
      // batch 1: two deliveries of event 1 (same id, jittered timestamp —
      // a reconnect replay re-stamps receive time), plus event 2
      stream.addData(("BTCUSDT", 1L, at(0)), ("BTCUSDT", 1L, at(500)),
        ("BTCUSDT", 2L, at(1000)))
      query.processAllAvailable()
      // batch 2: event 1 re-delivered AGAIN (across micro-batches, still
      // inside the watermark window → state remembers it), plus event 3
      stream.addData(("BTCUSDT", 1L, at(2000)), ("ETHUSDT", 1L, at(2000)),
        ("BTCUSDT", 3L, at(3000)))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT symbol, event_id FROM dedup_stream_test").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows.size == 4)
      assert(rows.toSet == Set(("BTCUSDT", 1L), ("BTCUSDT", 2L),
        ("BTCUSDT", 3L), ("ETHUSDT", 1L)))
    } finally query.stop()
  }

  test("streaming fingerprint dedup: identical payloads collapse without an event id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = new java.sql.Timestamp(ms("2026-01-15T10:00:00Z"))
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-ckpt").toString
    val stream = MemoryStream[(String, Double, Double, java.sql.Timestamp)]
    val deduped = graft.streaming.StreamDedup.dedupByFingerprint(
      stream.toDS().toDF("symbol", "price", "qty", "ts"),
      tsCol = "ts", payloadCols = Seq("symbol", "price", "qty", "ts"),
      delay = "5 minutes")
    val query = deduped.writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("fp_dedup_stream_test").start()
    try {
      stream.addData(("BTCUSDT", 100.0, 2.0, t0), ("BTCUSDT", 100.0, 2.0, t0),
        ("BTCUSDT", 100.0, 3.0, t0))
      query.processAllAvailable()
      val rows = spark.sql("SELECT qty FROM fp_dedup_stream_test").collect()
      assert(rows.map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 3.0))
      // the fingerprint helper column must not leak into the output
      assert(!spark.table("fp_dedup_stream_test").columns.contains("__fp"))
    } finally query.stop()
  }

  test("fingerprint dedup keeps rows that differ only in WHICH column is null") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = new java.sql.Timestamp(ms("2026-01-15T10:00:00Z"))
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-ckpt").toString
    val stream = MemoryStream[(Option[String], Option[String], java.sql.Timestamp)]
    val deduped = graft.streaming.StreamDedup.dedupByFingerprint(
      stream.toDS().toDF("a", "b", "ts"),
      tsCol = "ts", payloadCols = Seq("a", "b"), delay = "5 minutes")
    val query = deduped.writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", ckpt)
      .queryName("fp_null_pos_test").start()
    try {
      // (x, null) and (null, x) must NOT collapse — a plain concat_ws
      // fingerprint would drop nulls and hash both to md5("x")
      stream.addData((Some("x"), None, t0), (None, Some("x"), t0))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM fp_null_pos_test").count() == 2)
    } finally query.stop()
  }

  test("END-TO-END live path: raw WS JSON -> stateful book -> resync supervisor -> feature overlay -> served bars, across a checkpoint restart (websocket.py:2121-2306 + service.py:968-1034)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{DepthFeatures, DepthResyncSupervisor, WsPayloadProcessor}
    import graft.streaming.DepthFeatures.{DepthMinuteFeatures, DepthMsg}

    val m0 = ms("2026-01-15T10:00:00Z")
    val (m1, m2, m3) = (m0 + 60000L, m0 + 120000L, m0 + 180000L)
    val ckpt = tempDir(
      java.nio.file.Paths.get("/dev/shm"), "graft-e2e-ckpt").toString

    val stream = MemoryStream[DepthMsg]
    val liqs = scala.collection.mutable.ArrayBuffer[LiquidationEvent]()
    // the WS payload processor feeds the SAME ingestion surface the
    // reference collector exposes: parsed depth diffs enter the
    // streaming book's input, liquidations accumulate for the liq
    // feature pass
    val collector = new WsPayloadProcessor.Collector {
      def ingestDepthDiff(e: DepthDiffEvent, transactTime: Option[Long],
                          arrivalTime: Option[Long]): Unit = {
        stream.addData(DepthMsg.diff(e)); ()
      }
      def ingestLiquidation(e: LiquidationEvent): Unit = { liqs += e; () }
      def ingestTrade(symbol: String, eventTime: Option[Long],
                      transactTime: Option[Long], arrivalTime: Option[Long]): Unit = ()
      def ingestPredictedFunding(eventTime: Long, predictedFunding: Option[Double],
                                 nextFundingTime: Option[Long],
                                 arrivalTime: Option[Long]): Unit = ()
    }
    val proc = new WsPayloadProcessor.Processor(collector, "BTCUSDT")

    def depthJson(sym: String, e: Long, u0: Long, u1: Long,
                  bid: (Double, Double), ask: (Double, Double)): String =
      s"""{"stream":"${sym.toLowerCase}@depth@100ms","data":{"s":"$sym","E":$e,"U":$u0,"u":$u1,""" +
        s""""b":[["${bid._1}","${bid._2}"]],"a":[["${ask._1}","${ask._2}"]]}}"""

    var clock = m0 - 1000L
    val ethFetches = new java.util.concurrent.atomic.AtomicInteger(0)
    val ethSup = new DepthResyncSupervisor("ETHUSDT",
      fetchSnapshot = () => {
        // first fetch = reference start(); second = the post-break REST
        // snapshot, whose lastUpdateId is bridged by the buffered
        // follow-up diff (U=136 <= 136 <= u=140)
        Some(DepthResyncSupervisor.Snapshot(
          if (ethFetches.incrementAndGet() == 1) 100 else 136,
          Seq((99.0, 2000.0), (98.5, 2000.0)),
          Seq((100.5, 2000.0), (101.0, 2000.0))))
      },
      inject = msg => { stream.addData(msg); () },
      nowMs = () => clock)
    val btcFetches = new java.util.concurrent.atomic.AtomicInteger(0)
    val btcSup = new DepthResyncSupervisor("BTCUSDT",
      fetchSnapshot = () => {
        btcFetches.incrementAndGet()
        Some(DepthResyncSupervisor.Snapshot(200,
          Seq((50.0, 4000.0)), Seq((50.5, 4000.0), (51.0, 4000.0))))
      },
      inject = msg => { stream.addData(msg); () },
      nowMs = () => clock)

    val collected = scala.collection.mutable.ArrayBuffer[DepthMinuteFeatures]()
    def startQuery() = DepthFeatures.depthFeaturesStream(stream.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[DepthMinuteFeatures], _: Long) =>
        val rows = batch.collect()
        collected.synchronized { collected ++= rows }
        ethSup.observe(rows.toSeq); btcSup.observe(rows.toSeq)
      }.start()

    // reference start() choreography: initial REST snapshots enter the
    // stream as control messages before any diff
    ethSup.start(); btcSup.start()
    assert(ethSup.resyncCount == 1 && btcSup.resyncCount == 1)

    // ---- micro-batch 1 (query 1): healthy m0 for both symbols
    Seq(
      depthJson("ETHUSDT", m0 + 1000, 101, 105, (99.0, 3000.0), (101.0, 3000.0)),
      depthJson("ETHUSDT", m0 + 2000, 106, 110, (99.5, 1500.0), (100.8, 3000.0)),
      depthJson("BTCUSDT", m0 + 1000, 201, 205, (50.0, 5000.0), (50.5, 5000.0)),
      depthJson("BTCUSDT", m0 + 2000, 206, 210, (50.1, 5000.0), (50.6, 5000.0))
    ).foreach(proc.processCombinedPayload(_))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // ---- kill point: the collector keeps ingesting while the sink is
    // down. The m1 diffs are CONTINUOUS for both symbols, so a healthy
    // m1 after restart proves both books' GroupState survived the
    // checkpoint (a lost book would report m1 unsynced-degraded).
    clock = m1
    Seq(
      depthJson("ETHUSDT", m1 + 500, 111, 115, (99.2, 1800.0), (100.9, 2500.0)),
      depthJson("BTCUSDT", m1 + 500, 211, 215, (50.2, 5000.0), (50.7, 5000.0))
    ).foreach(proc.processCombinedPayload(_))
    // raw liquidation JSON for BTC in m1 (forceOrder payload gates)
    proc.processCombinedPayload(
      s"""{"stream":"btcusdt@forceOrder","data":{"E":${m1 + 800},""" +
        """"o":{"s":"BTCUSDT","S":"SELL","ap":"100.0","q":"3.0","z":"2.0"}}}""")

    val q2 = startQuery()
    try {
      q2.processAllAvailable()

      // ---- continuity break at m2 (U=130 > expected 116) plus a
      // follow-up diff that buffers while unsynced; the supervisor sees
      // the degraded m2 output, re-snapshots through the injected
      // transport, and the buffered replay resyncs the book. BTC's
      // stream stays continuous — break isolation by group key.
      clock = m2
      Seq(
        depthJson("ETHUSDT", m2 + 500, 130, 135, (99.3, 1200.0), (100.7, 1800.0)),
        depthJson("ETHUSDT", m2 + 1500, 136, 140, (99.4, 1300.0), (100.6, 2000.0)),
        depthJson("BTCUSDT", m2 + 500, 216, 220, (50.3, 5000.0), (50.8, 5000.0))
      ).foreach(proc.processCombinedPayload(_))
      q2.processAllAvailable()
      assert(ethSup.resyncCount == 2 && ethFetches.get == 2) // exactly one re-fetch
      assert(btcSup.resyncCount == 1 && btcFetches.get == 1) // BTC never refetched

      // ---- m3: recovered
      clock = m3
      Seq(
        depthJson("ETHUSDT", m3 + 500, 141, 145, (99.5, 1400.0), (100.5, 2500.0)),
        depthJson("BTCUSDT", m3 + 500, 221, 225, (50.4, 5000.0), (50.9, 5000.0))
      ).foreach(proc.processCombinedPayload(_))
      q2.processAllAvailable()
    } finally q2.stop()

    // ---- overlay into served bars: the last emission per (symbol,
    // minute) plus the liq features form MinuteBuilder's live frame;
    // the canonical window then serves through the query path
    val liqFx = LiveCollector.liquidationMinuteFeaturesBatch(liqs.toSeq.toDS())
      .collect().map(f => (f.symbol, f.timestampMs) -> f).toMap
    def liveRows(sym: String): Seq[LiveRowFx] =
      collected.synchronized(collected.toSeq).filter(_.symbol == sym)
        .groupBy(_.timestampMs).toSeq.map { case (tsMs, rows) =>
          val d = rows.last
          val lq = liqFx.get((sym, tsMs))
          LiveRowFx(tsMs,
            has_ws_latency = false, has_depth = d.hasDepth,
            has_liq = lq.exists(_.hasLiq), has_ls_ratio = false,
            event_time = None, transact_time = None, arrival_time = None,
            latency_engine = None, latency_network = None, ws_latency_bad = None,
            update_id_start = d.updateIdStart, update_id_end = d.updateIdEnd,
            price_impact_100k = d.priceImpact100k,
            impact_fillable = d.impactFillable,
            depth_degraded = Some(d.depthDegraded),
            liq_long_vol_usdt = lq.flatMap(_.liqLongVolUsdt),
            liq_short_vol_usdt = lq.flatMap(_.liqShortVolUsdt),
            liq_long_count = lq.flatMap(_.liqLongCount),
            liq_short_count = lq.flatMap(_.liqShortCount),
            liq_avg_fill_price = lq.flatMap(_.liqAvgFillPrice),
            liq_unfilled_ratio = lq.flatMap(_.liqUnfilledRatio),
            liq_unfilled_supported = lq.flatMap(_.liqUnfilledSupported),
            predicted_funding = None, next_funding_time = None)
        }

    def servedBars(sym: String) = {
      val frame = graft.operators.MinuteBuilder.buildCanonicalFrame(
        spark, java.time.Instant.ofEpochMilli(m0), java.time.Instant.ofEpochMilli(m3),
        liveFeatures = Some(liveRows(sym).toDS().toDF()))
      graft.service.QueryService.candleBarsFromFrame(
        frame, graft.schema.Timeframes.parse("1m"), limit = 10)
        .orderBy("timestamp").collect()
    }

    val eth = servedBars("ETHUSDT")
    assert(eth.length == 4)
    val ethIdx = (c: String) => eth.head.schema.fieldIndex(c)
    // m0 and m1 healthy — m1's health PROVES the mid-stream checkpoint
    // restart recovered the book (its diffs arrived while the sink was
    // down and apply cleanly only onto the recovered update-id cursor)
    for (i <- Seq(0, 1)) {
      assert(eth(i).getBoolean(ethIdx("has_depth")))
      assert(!eth(i).getBoolean(ethIdx("depth_degraded")))
      assert(!eth(i).isNullAt(ethIdx("price_impact_100k")))
      assert(eth(i).getBoolean(ethIdx("impact_fillable")))
    }
    // m2 degrade window is NULL-GATED: flags say broken, measures say
    // nothing — but the update-id span of the broken window survives
    assert(eth(2).getBoolean(ethIdx("has_depth")))
    assert(eth(2).getBoolean(ethIdx("depth_degraded")))
    assert(eth(2).isNullAt(ethIdx("price_impact_100k")))
    assert(eth(2).isNullAt(ethIdx("spread_pct")))
    assert(eth(2).isNullAt(ethIdx("avg_bid_depth")))
    assert(eth(2).getLong(ethIdx("update_id_start")) == 130L)
    assert(eth(2).getLong(ethIdx("update_id_end")) == 140L)
    // m3 recovered via the supervisor's re-snapshot + buffered replay
    assert(!eth(3).getBoolean(ethIdx("depth_degraded")))
    assert(!eth(3).isNullAt(ethIdx("price_impact_100k")))

    val btc = servedBars("BTCUSDT")
    assert(btc.length == 4)
    val btcIdx = (c: String) => btc.head.schema.fieldIndex(c)
    // BTC stayed healthy across the whole run: the break is isolated to
    // its group key
    assert((0 to 3).forall(i => !btc(i).getBoolean(btcIdx("depth_degraded"))))
    // liq overlay: m1 carries the parsed forceOrder; minutes without
    // liquidations NULL-gate every liq field via has_liq
    assert(btc(1).getBoolean(btcIdx("has_liq")))
    assert(btc(1).getDouble(btcIdx("liq_long_vol_usdt")) == 200.0)
    assert(btc(1).getLong(btcIdx("liq_long_count")) == 1L)
    assert(math.abs(btc(1).getDouble(btcIdx("liq_unfilled_ratio")) - 1.0 / 3.0) < 1e-12)
    assert(!btc(0).getBoolean(btcIdx("has_liq")))
    assert(btc(0).isNullAt(btcIdx("liq_long_vol_usdt")))
  }
}

/** Live-row fixture for [[graft.operators.MinuteBuilder.liveFrame]] —
  * snake_case field names become the LiveMinuteFeatures columns the
  * canonical build overlays (reference `minute_builder.py:456-489`). */
private[graft] final case class LiveRowFx(
    timestamp_ms: Long,
    has_ws_latency: Boolean, has_depth: Boolean, has_liq: Boolean,
    has_ls_ratio: Boolean,
    event_time: Option[Long], transact_time: Option[Long],
    arrival_time: Option[Long], latency_engine: Option[Long],
    latency_network: Option[Long], ws_latency_bad: Option[Boolean],
    update_id_start: Option[Long], update_id_end: Option[Long],
    price_impact_100k: Option[Double], impact_fillable: Option[Boolean],
    depth_degraded: Option[Boolean],
    liq_long_vol_usdt: Option[Double], liq_short_vol_usdt: Option[Double],
    liq_long_count: Option[Long], liq_short_count: Option[Long],
    liq_avg_fill_price: Option[Double], liq_unfilled_ratio: Option[Double],
    liq_unfilled_supported: Option[Boolean],
    predicted_funding: Option[Double], next_funding_time: Option[Long])
