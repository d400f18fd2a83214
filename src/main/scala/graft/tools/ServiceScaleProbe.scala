package graft.tools

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.service.{QueryService, ResultCache}
import graft.sources.MinuteLakeReader

/** Service-layer scale probe — the 1000-symbol question for the API READ
  * path (VERDICT r7 #5). `runBackfillAll`/`runFleetTick` already
  * prove the all-symbols WRITE path is ONE Spark job (never a driver
  * loop); this probes the per-request read path (`candleBars`) as the
  * lake grows in symbol count:
  *
  *  1. **Pruning**: a single-symbol request must carry a `symbol=`
  *     partition filter in its scan (Catalyst prunes the other symbols'
  *     directories), so per-request latency stays ~flat as the lake
  *     widens 10 → 1000 symbols. A request reads one symbol's
  *     partitions; lake width must be invisible to it.
  *  2. **Fan-out**: N symbols × timeframes served through
  *     [[QueryService.CachedCandleService]] on the reference's
  *     per-timeframe thread fan-out — wall clock linear in request
  *     count with bounded per-request latency, and a warm second pass
  *     served from exact cache hits without recompute (the cache's
  *     in-flight dedup is what prevents a cold-cache stampede from
  *     running the same window N times; pinned by QueryServiceSpec).
  *
  * The lake data is probe-synthesized (perf-only, never for oracles) in
  * ONE partitioned write per lake width — building it row-by-row
  * through the hour writer would itself be a driver loop.
  *
  * Run: `sbt "runMain graft.tools.ServiceScaleProbe [widths] [fanoutSymbols]"`
  * — defaults `10,100,1000` and `100`. */
object ServiceScaleProbe {

  private val Tfs = Seq("1m", "5m", "15m")
  private val Limit = 12
  private val Hours = 4
  private val Start = Instant.parse("2026-01-15T00:00:00Z")

  private[tools] def buildLake(spark: SparkSession, root: String, nSymbols: Int): Unit = {
    val minutes = Hours * 60
    val base = spark.range(nSymbols.toLong)
      .selectExpr("format_string('SYM%04d', id) AS symbol")
      .crossJoin(spark.range(minutes.toLong).select(
        (lit(Start.toEpochMilli) + col("id") * 60000L).as("ms"),
        (col("id") % 50).cast("double").as("step")))
      .select(col("symbol"), timestamp_millis(col("ms")).as("timestamp"),
        (lit(100.0) + col("step")).as("open"),
        (lit(101.0) + col("step")).as("high"),
        (lit(99.0) + col("step")).as("low"),
        (lit(100.5) + col("step")).as("close"),
        lit(1.2).as("volume_btc"), lit(120000.0).as("volume_usdt"),
        lit(10L).as("trade_count"),
        (lit(100.1) + col("step")).as("mark_price_open"),
        (lit(100.4) + col("step")).as("mark_price_close"),
        (lit(100.0) + col("step")).as("index_price_open"),
        (lit(100.2) + col("step")).as("index_price_close"))
    // fill and cast the full canonical column set (finalizeSchema's
    // rule, inlined so the symbol partition key can ride along)
    val withCanon = graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
      if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
      else df.withColumn(c.name, lit(null).cast(c.sparkType))
    }
    withCanon
      .withColumn("year", date_format(col("timestamp"), "yyyy"))
      .withColumn("month", date_format(col("timestamp"), "MM"))
      .withColumn("day", date_format(col("timestamp"), "dd"))
      .withColumn("hour", date_format(col("timestamp"), "HH"))
      .repartition(col("symbol"))
      .write.mode("overwrite")
      .partitionBy("symbol", "year", "month", "day", "hour")
      .parquet(s"$root/futures/um/minute")
  }

  private def timeRequest(spark: SparkSession, reader: MinuteLakeReader,
                          symbol: String, tf: String): Double = {
    val spec = graft.schema.Timeframes.parse(tf)
    val end = Start.plusSeconds(Hours * 3600L - 60L)
    val start = spec.addBuckets(end, -Limit)
    val t0 = System.nanoTime()
    QueryService.candleBars(spark, reader, symbol, tf, start, end, Limit).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val widths = args.headOption.getOrElse("10,100,1000").split(",").map(_.trim.toInt).toSeq
    val fanoutSymbols = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tmp = java.nio.file.Files.createTempDirectory("graft-svc-scale").toString
    var fanoutLake: Option[(Int, MinuteLakeReader)] = None

    // ---- probe 1: per-request latency vs lake width + pruning proof
    for (w <- widths) {
      val root = s"$tmp/lake_$w"
      val t0 = System.nanoTime()
      buildLake(spark, root, w)
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val reader = new MinuteLakeReader(root)
      if (w >= fanoutSymbols && fanoutLake.isEmpty) fanoutLake = Some((w, reader))

      // scoping: the single-symbol scan's file index must be rooted at
      // the symbol's OWN subtree (listing bounded by one symbol, not
      // the lake width — partition pruning alone still lists everything)
      val roots = reader.scanSymbol(spark, "SYM0001")
        .queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.getOrElse(Nil)
      val pruned = roots.nonEmpty && roots.forall(_.contains("symbol=SYM0001"))
      require(pruned,
        s"single-symbol scan is not scoped to the symbol subtree: $roots")

      val samples = (1 to 5).map(_ => timeRequest(spark, reader, "SYM0001", "15m"))
      val med = samples.sorted.apply(samples.size / 2)
      println(f"[svc] width=$w%4d buildSecs=$buildSecs%.1f " +
        f"singleRequestMedian=$med%.3f s (15m x $Limit bars, pruned=$pruned)")
    }

    // ---- probe 2: the fan-out path over the widest lake that covers it
    val (fw, freader) = fanoutLake.getOrElse(
      sys.error(s"no lake width >= $fanoutSymbols in $widths"))
    val symbols = (0 until fanoutSymbols).map(i => f"SYM$i%04d")
    val cache = new ResultCache[(String, String, Int, Long), Seq[(Long, String)]](
      maxEntries = 4096)
    val svc = new QueryService.CachedCandleService(cache,
      lastCompletedMinute = () => Start.plusSeconds(Hours * 3600L))
    val endMs = Start.plusSeconds(Hours * 3600L - 60L).toEpochMilli

    def serveAll(): Double = {
      val t0 = System.nanoTime()
      val results = graft.sources.RestClient.fanOut(
        symbols.flatMap(sym => Tfs.map(tf => () =>
          svc.candleBars(sym, tf, Limit, endMs) { (limit, end) =>
            val spec = graft.schema.Timeframes.parse(tf)
            val endI = Instant.ofEpochMilli(end)
            val bars = QueryService.candleBars(spark, freader, sym, tf,
              spec.addBuckets(endI, -limit), endI, limit)
            bars.select(unix_millis(to_timestamp(col("timestamp"),
                "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")).as("ms"), to_json(struct(col("*"))).as("js"))
              .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          })))
      require(results.size == symbols.size * Tfs.size)
      require(results.forall(_.nonEmpty), "a fan-out request served zero bars")
      (System.nanoTime() - t0) / 1e9
    }

    val cold = serveAll()
    val warm = serveAll()
    val n = symbols.size * Tfs.size
    println(f"[svc] fanout width=$fw symbols=${symbols.size} tfs=${Tfs.size} " +
      f"requests=$n coldSecs=$cold%.1f (${cold / n}%.3f s/req) " +
      f"warmSecs=$warm%.1f (${warm / n}%.4f s/req)")
    require(warm < cold / 5,
      f"warm pass should be served from cache: cold=$cold%.1f warm=$warm%.1f")
    spark.stop()
  }
}
