package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AggregatorRunner
import graft.operators.AggregatorRunner.AggregatorStateStore
import graft.schema.Timeframes
import graft.sources.{HtfLakeReader, HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger, PartitionLedgerEntry}

/** The day-wide lake ([[LakeLayout]], the width-≥10k answer to the
  * width-10k probe's file-count wall, SURVEY §8.15) through the reader
  * API and the HTF pipeline: reads are checked against a test-local
  * oracle over the input frame (last-wins per (symbol, timestamp),
  * min/max per symbol, bars and HTF from a plain `groupBy`), and the
  * physics is pinned (files/day O(filesPerDay), not O(width × 24)). */
class WideLakeSpec extends SparkSpec {
  import spark.implicits._

  private val Day1 = instant("2026-01-15T00:00:00Z")

  /** Spark jobs of a one-day `writeDaysWide(merge = true)` and of a
    * one-day `compactWideDeltas`, measured on this suite's session. The
    * staged read and the merge's base and delta reads name their schemas,
    * so none runs a footer job, and the fold merges its collapsed deltas
    * over the base files alone. */
  private val MergeWriteJobs = 13
  private val CompactJobs = 13

  /** Multi-symbol canonical minutes spanning `hours` hours. */
  private def minutes(symbols: Seq[String], hours: Int,
                      dayStart: java.time.Instant = Day1,
                      openBase: Double = 100.0): DataFrame = {
    val n = hours * 60
    val base = symbols.map(s => (s, 0)).toDF("symbol", "zero")
      .crossJoin(spark.range(n.toLong).select(
        (lit(dayStart.toEpochMilli) + col("id") * 60000L).as("ms"),
        (col("id") % 50).cast("double").as("step")))
      .select(col("symbol"), timestamp_millis(col("ms")).as("timestamp"),
        (lit(openBase) + col("step")).as("open"),
        (lit(openBase + 1.0) + col("step")).as("high"),
        (lit(openBase - 1.0) + col("step")).as("low"),
        (lit(openBase + 0.5) + col("step")).as("close"),
        lit(1.2).as("volume_btc"), lit(120000.0).as("volume_usdt"),
        lit(10L).as("trade_count"),
        (lit(openBase + 0.1) + col("step")).as("mark_price_open"),
        (lit(openBase + 0.4) + col("step")).as("mark_price_close"),
        (lit(openBase) + col("step")).as("index_price_open"),
        (lit(openBase + 0.2) + col("step")).as("index_price_close"))
    graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
      if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
      else df.withColumn(c.name, lit(null).cast(c.sparkType))
    }
  }

  private def hourlyLake(frame: DataFrame, root: String): Unit =
    frame
      .withColumn("year", date_format(col("timestamp"), "yyyy"))
      .withColumn("month", date_format(col("timestamp"), "MM"))
      .withColumn("day", date_format(col("timestamp"), "dd"))
      .withColumn("hour", date_format(col("timestamp"), "HH"))
      .repartition(col("symbol"))
      .write.mode("overwrite")
      .partitionBy("symbol", "year", "month", "day", "hour")
      .parquet(s"$root/futures/um/minute")

  /** Oracle: the rows a reader must serve for `frame`'s writes —
    * last-wins per (symbol, timestamp) in input order. */
  private def lastWins(frame: DataFrame): DataFrame =
    graft.ops.Ops.dedupKeepLast(
      frame.withColumn("__ord", monotonically_increasing_id()),
      Seq("symbol", "timestamp"), Seq(col("__ord"))).drop("__ord")

  /** Oracle: `symbol`'s (min, max) timestamp in `frame`. */
  private def rangeOf(frame: DataFrame, symbol: String): (Option[java.time.Instant], Option[java.time.Instant]) = {
    val r = frame.where(col("symbol") === symbol)
      .agg(min("timestamp"), max("timestamp")).collect().head
    (Option(r.getTimestamp(0)).map(_.toInstant), Option(r.getTimestamp(1)).map(_.toInstant))
  }

  /** Oracle: every symbol's latest minute in `frame`. */
  private def latestOf(frame: DataFrame): Map[String, java.time.Instant] =
    frame.groupBy("symbol").agg(max("timestamp")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap

  /** Oracle: rows of `frame` inside [lo, hi]. */
  private def windowOf(frame: DataFrame, lo: java.time.Instant,
                       hi: java.time.Instant): DataFrame =
    lastWins(frame).where(col("timestamp").between(
      java.sql.Timestamp.from(lo), java.sql.Timestamp.from(hi)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(col("symbol"), col("timestamp").cast("string"), col("open"), col("close"))
      .collect().map(_.toString).sorted.toIndexedSeq

  test("wide write + reader API parity with the hourly layout") {
    val syms = Seq("AAAUSDT", "BBBUSDT", "CCCUSDT", "DDDUSDT")
    val frame = minutes(syms, hours = 26) // crosses a day boundary
    val wRoot = tempDir("graft-wide-w").toString
    val wWriter = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    wWriter.writeDaysWide(frame)

    val wr = new MinuteLakeReader(wRoot)

    // file-count bound: ≤ touchedDays × filesPerDay range partitions,
    // plus up to (touchedDays − 1) extra files where a range partition
    // straddles a day boundary and dynamic partitioning splits its
    // output — O(filesPerDay) per day at ANY width (hourly would be
    // symbols × hours files)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$wRoot/futures/um/minute"), true)
    var nFiles = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1 }
    assert(nFiles > 0 && nFiles <= 2 * 4 + 1,
      s"lake has $nFiles files, want ≤ 2 days × 4 + 1 straddle")

    // scanSymbol parity (the symbol data col is dropped)
    val oScan = lastWins(frame).where(col("symbol") === "BBBUSDT").drop("symbol")
    val wScan = wr.scanSymbol(spark, "BBBUSDT")
    assert(oScan.columns.sorted.toSeq == wScan.columns.sorted.toSeq)
    assert(oScan.count() == 26 * 60 && wScan.count() == 26 * 60)

    // readWindow parity (windowed + latest-wins dedup)
    val lo = instant("2026-01-15T10:00:00Z"); val hi = instant("2026-01-15T11:59:00Z")
    assert(windowOf(frame, lo, hi).where(col("symbol") === "CCCUSDT").orderBy("timestamp")
        .select("open").collect().map(_.getDouble(0)).toSeq ==
      wr.readWindow(spark, "CCCUSDT", lo, hi).orderBy("timestamp")
        .select("open").collect().map(_.getDouble(0)).toSeq)

    // readWindowAllSymbols parity
    assert(sortedRows(windowOf(frame, lo, hi)) ==
      sortedRows(wr.readWindowAllSymbols(spark, lo, hi).get))

    // latestMinuteAllSymbols parity — every symbol, exact instant
    assert(latestOf(frame) == wr.latestMinuteAllSymbols(spark))
  }

  test("readWindow reads with the writers' schema: no footer job before an action") {
    val frame = minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3)
    val wRoot = tempDir("graft-wide-schema").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2)).writeDaysWide(frame)
    val lakeDir = s"$wRoot/futures/um/minute"
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val Seq(day) = graft.sources.DayDirs.ascending(fs, lakeDir)
    val inferred = spark.read.option("basePath", lakeDir).parquet(day)
      .drop("year", "month", "day").schema
    // a file source reads every column as nullable: compare (name, type)
    // in order (the writer writes FileSchema's column order whatever the
    // caller's — the fixture leads with symbol, timestamp, open; the
    // canonical fields carry doc metadata the files do not)
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => f.name -> f.dataType)
    assert(fields(inferred) == fields(MinuteLakeReader.FileSchema))

    val reader = new MinuteLakeReader(wRoot)
    val lo = instant("2026-01-15T01:00:00Z"); val hi = instant("2026-01-15T01:59:00Z")
    val (window, jobs) = jobsOf(reader.readWindow(spark, "BBBUSDT", lo, hi))
    assert(jobs == 0, s"building the window ran $jobs jobs")
    val expected = windowOf(frame, lo, hi).where(col("symbol") === "BBBUSDT").drop("symbol")
    assert(window.columns.sorted.toSeq == expected.columns.sorted.toSeq)
    assert(window.count() == 60 &&
      window.exceptAll(expected.select(window.columns.map(col).toSeq: _*)).isEmpty)
  }

  test("HtfLakeReader reads with the writers' schema: the aggregator's plan, no footer job") {
    val wRoot = tempDir("graft-htf-schema").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2)).writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3))
    AggregatorRunner.runBackfillAll(spark, new MinuteLakeReader(wRoot),
      new HtfLakeWriter(s"$wRoot/htf", LakeLayout.DayWide(filesPerDay = 2)),
      new AggregatorStateStore(s"$wRoot/_aggstate"), s"$wRoot/htf", Timeframes.parse("1h"))
    val tfDir = s"$wRoot/htf/timeframe=1h"
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val Seq(day) = graft.sources.DayDirs.ascending(fs, tfDir)
    val inferred = spark.read.option("basePath", tfDir).parquet(day)
      .drop("year", "month", "day").schema
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    assert(fields(HtfLakeReader.fileSchema(spark, "1h")) == fields(inferred))

    val (bars, jobs) = jobsOf(new HtfLakeReader(s"$wRoot/htf").readWindow(spark, "1h",
      "BBBUSDT", Day1, instant("2026-01-15T02:59:00Z")).get)
    assert(jobs == 0, s"building the HTF window ran $jobs jobs")
    assert(bars.count() == 3)
  }

  test("wide inspectRange/latestMinute: end-probed, parity incl. stragglers and absent symbols") {
    // EEEUSDT stops 10 hours into day 1 — the max-probe's first batch
    // (deepest day) finds nothing for it and must expand backward; the
    // min-probe finds every symbol in batch 1. FFFUSDT never exists.
    val frame = minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)
      .unionByName(minutes(Seq("EEEUSDT"), hours = 10))
    val wRoot = tempDir("graft-insp-w").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3)).writeDaysWide(frame)
    val wr = new MinuteLakeReader(wRoot)
    for (s <- Seq("AAAUSDT", "EEEUSDT")) {
      assert(wr.inspectRange(spark, s) == rangeOf(frame, s), s)
      assert(wr.latestMinute(spark, s) == rangeOf(frame, s)._2, s)
    }
    assert(wr.inspectRange(spark, "EEEUSDT")._2.contains(instant("2026-01-15T09:59:00Z")))
    assert(wr.inspectRange(spark, "FFFUSDT") == (None, None))
    assert(wr.latestMinute(spark, "FFFUSDT").isEmpty)

    // an AAAUSDT delta on the edge day carrying a later minute: every
    // other symbol's probe skips the file and answers as before, while
    // AAAUSDT's own probe reads it and reports the later minute
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3)).writeDeltaPatch(minutes(Seq("AAAUSDT"),
        hours = 1, dayStart = instant("2026-01-16T02:00:00Z")))
    for (s <- Seq("BBBUSDT", "EEEUSDT")) {
      assert(wr.inspectRange(spark, s) == rangeOf(frame, s), s)
      assert(wr.latestMinute(spark, s) == rangeOf(frame, s)._2, s)
    }
    assert(wr.latestMinute(spark, "AAAUSDT").contains(instant("2026-01-16T02:59:00Z")))
    assert(wr.inspectRange(spark, "AAAUSDT") ==
      (Some(Day1), Some(instant("2026-01-16T02:59:00Z"))))

    // windows that touch NO day partition (explicit-day read path's
    // empty case): schema preserved, zero rows, both window forms
    val before = instant("2025-12-01T00:00:00Z")
    val beforeEnd = instant("2025-12-02T00:00:00Z")
    val w0 = wr.readWindow(spark, "AAAUSDT", before, beforeEnd)
    assert(w0.count() == 0 &&
      w0.columns.sorted.toSeq == frame.drop("symbol").columns.sorted.toSeq)
    val a0 = wr.readWindowAllSymbols(spark, before, beforeEnd).get
    assert(a0.count() == 0 && a0.columns.contains("symbol"))
  }

  test("wide bulk write commits day-grain ledger rows; audit detects tamper and deletes") {
    val wRoot = tempDir("graft-audit-w").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val writer = new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 3))
    writer.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)) // 2 days

    val dayRows = ledger.all().filter(_.hour < 0)
    assert(dayRows.size == 2 && dayRows.forall(e =>
      e.symbol == "__ALL__" && e.contentHash.nonEmpty && e.rowCount > 0))
    assert(dayRows.map(_.rowCount).sum == 2 * 26 * 60)
    assert(writer.auditPartitions(spark).forall(_.issue == "ok"))

    // a merge rewrite re-commits the touched day's row: audit stays ok
    writer.writeDaysWide(
      minutes(Seq("AAAUSDT"), hours = 1, openBase = 200.0), merge = true)
    assert(writer.auditPartitions(spark).forall(_.issue == "ok"))

    // tamper one data file in day 1 → that day's audit flags a mismatch
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val day1 = new org.apache.hadoop.fs.Path(
      ledger.all().filter(_.hour < 0).minBy(_.day).path)
    val victim = fs.listStatus(day1).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet")).head
    val out = fs.create(victim, true); out.write(Array[Byte](1, 2, 3)); out.close()
    val issues = writer.auditPartitions(spark).filter(_.hour < 0)
      .map(r => r.day -> r.issue).toMap
    assert(issues.values.count(_ == "hash_mismatch") == 1)
    assert(issues.values.count(_ == "ok") == 1)

    // delete the other day entirely → missing_partition
    val day2 = ledger.all().filter(_.hour < 0).maxBy(_.day).path
    fs.delete(new org.apache.hadoop.fs.Path(day2), true)
    assert(writer.auditPartitions(spark).filter(_.hour < 0)
      .map(_.issue).sorted == Seq("hash_mismatch", "missing_partition"))
  }

  test("auditPartitions batches day-grain hashing: one job per family; unreadable isolates") {
    val wRoot = tempDir("graft-audit-batch").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val writer = new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 2))
    writer.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 50)) // 3 days
    writer.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    assert(ledger.all().count(_.hour < 0) == 4) // 3 base + 1 delta

    // job ledger: 4 day-grain entries audit through TWO distributed
    // jobs (one per family: base, delta) — the per-entry shape paid
    // one binaryFile job EACH (audit of a years-deep lake = thousands
    // of sequential jobs). Pin ≤ 3 for config margin; the point is
    // it no longer grows with the day count.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val clean =
      try {
        val r = writer.auditPartitions(spark)
        Thread.sleep(300) // listener drain
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(clean.filter(_.hour < 0).forall(_.issue == "ok"))
    assert(jobs.get() <= 3,
      s"4 day-grain entries must audit in ≤3 jobs (per-entry shape cost 4+), saw ${jobs.get()}")

    // corrupt ONE base day's bytes but keep the stale .crc sidecar: the
    // checksummed read throws, the base family's batched job fails, and
    // the per-entry fallback must attribute "unreadable" to exactly that
    // day while every other entry still audits ok
    val victimDay = ledger.all().filter(_.hour == -1).minBy(_.day)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val victim = java.nio.file.Paths.get(
      fs.listStatus(new org.apache.hadoop.fs.Path(victimDay.path))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
        .toUri.getPath)
    val raw = Files.readAllBytes(victim)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x7f).toByte
    Files.write(victim, raw)
    val issues = writer.auditPartitions(spark).filter(_.hour < 0)
      .map(r => (r.day, r.hour) -> r.issue).toMap
    assert(issues((victimDay.day, -1)) == "unreadable", s"got $issues")
    assert(issues.values.count(_ == "ok") == 3, s"got $issues")
  }

  test("wide merge is last-wins keyed by (symbol, timestamp), sibling symbols survive") {
    val wRoot = tempDir("graft-wide-m").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 2))
    // overwrite AAAUSDT's first hour with new opens; BBBUSDT untouched
    w.writeDaysWide(minutes(Seq("AAAUSDT"), hours = 1, openBase = 500.0), merge = true)

    val r = new MinuteLakeReader(wRoot)
    val a = r.scanSymbol(spark, "AAAUSDT")
    assert(a.count() == 120) // no duplicates after merge
    assert(a.where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 500.0) // fresh wins
    assert(a.where(col("timestamp") === ts("2026-01-15T01:00:00Z"))
      .select("open").head.getDouble(0) == 110.0) // untouched hour intact (step 60%50=10)
    val b = r.scanSymbol(spark, "BBBUSDT")
    assert(b.count() == 120)
    assert(b.where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 100.0) // sibling symbol survived the day rewrite
  }

  test("writeHourPartition routes through the day-wide merge (same writer API)") {
    val wRoot = tempDir("graft-wide-api").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    val hour = instant("2026-01-15T10:00:00Z")
    val row = minutes(Seq("AAAUSDT"), hours = 1, dayStart = hour)
      .limit(1).drop("symbol")
    val out = w.writeHourPartition("AAAUSDT", hour, row)
    assert(out.endsWith("year=2026/month=01/day=15"))
    val r = new MinuteLakeReader(wRoot)
    assert(r.scanSymbol(spark, "AAAUSDT").count() == 1)
    // ledger entry recorded at day grain
    val ledger = new PartitionLedger(s"$wRoot/_state")
    assert(ledger.latestPartition("AAAUSDT").exists(_.rowCount == 1L))
  }

  test("HTF pipeline parity: backfill + incremental + write-skip under the wide layout") {
    val syms = Seq("AAAUSDT", "BBBUSDT", "CCCUSDT")
    val spec = Timeframes.parse("1h")
    val frame = minutes(syms, hours = 24)

    val wRoot = tempDir("graft-wide-htf-w").toString
    val layout = LakeLayout.DayWide(filesPerDay = 3)
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"), layout)
      .writeDaysWide(frame)
    val reader = new MinuteLakeReader(wRoot)
    val writer = new HtfLakeWriter(s"$wRoot/htf", layout)
    val state = new AggregatorStateStore(s"$wRoot/_aggstate")
    val wWritten = AggregatorRunner.runBackfillAll(spark, reader, writer, state,
      s"$wRoot/htf", spec).bucketsWritten
    val wNoop = AggregatorRunner.runFleetTick(spark, reader, writer, state,
      s"$wRoot/htf", Seq(spec)).head._2.bucketsWritten
    val wBuckets = spark.read.parquet(s"$wRoot/htf/timeframe=1h")
      .select("symbol", "bucket_start", "open", "close", "bucket_complete")
    // oracle: hour bars of the input frame from a plain groupBy
    val oBuckets = lastWins(frame)
      .groupBy(col("symbol"), date_trunc("hour", col("timestamp")).as("bucket_start"))
      .agg(min_by(col("open"), col("timestamp")).as("open"),
        max_by(col("close"), col("timestamp")).as("close"),
        (count(lit(1)) === 60).as("bucket_complete"))

    assert(wWritten == syms.length * 24L)
    assert(wNoop == 0L) // fingerprint write-skip holds
    val key = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    assert(key(oBuckets) == key(wBuckets))

    // wide HTF file bound: one day dir holds ≤ filesPerDay files
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val dayDir = new org.apache.hadoop.fs.Path(
      s"$wRoot/htf/timeframe=1h/year=2026/month=01/day=15")
    val n = fs.listStatus(dayDir).count(_.getPath.getName.endsWith(".parquet"))
    assert(n > 0 && n <= 3, s"wide HTF day dir has $n files, want ≤3")

    // per-symbol HTF window read through HtfLakeReader: the stored
    // bucket columns minus the symbol data column and the partition
    // columns, bucket_start re-keyed as timestamp (the schema
    // QueryService.btcLocalOnlyBars serves), and the oracle's bars
    val wb = new graft.sources.HtfLakeReader(s"$wRoot/htf")
    val lo = instant("2026-01-15T05:00:00Z"); val hi = instant("2026-01-15T09:00:00Z")
    val wDf = wb.readWindow(spark, "1h", "BBBUSDT", lo, hi).get
    val apiCols = spark.read.parquet(s"$wRoot/htf/timeframe=1h")
      .drop("year", "month", "day", "symbol")
      .withColumnRenamed("bucket_start", "timestamp").columns.sorted.toSeq
    assert(apiCols == wDf.columns.sorted.toSeq,
      s"HTF reader schema: want ${apiCols.mkString(",")} got ${wDf.columns.sorted.mkString(",")}")
    val oWin = oBuckets.where(col("symbol") === "BBBUSDT" && col("bucket_complete") &&
        col("bucket_start").between(java.sql.Timestamp.from(lo), java.sql.Timestamp.from(hi)))
      .orderBy("bucket_start").select("open", "close").collect().map(_.toString).toSeq
    val wWin = wDf.orderBy("timestamp").select("open", "close").collect().map(_.toString).toSeq
    assert(oWin == wWin && oWin.nonEmpty)
  }

  test("bounded wide reads touch ONLY the window's day dirs (inputFiles-pinned)") {
    // 3-day lake; every bounded read form must plan over the touched
    // day's files alone — the depth-flat guarantee, asserted from the
    // plan's file list rather than timed
    val wRoot = tempDir("graft-wide-bounded").toString
    val writer = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3))
    // coverage flags written false, as MinuteBuilder writes them ("False
    // when unavailable"): the overlay's merge reads a null flag as false,
    // so the row-equality checks below need in-contract flags
    writer.writeDaysWide(Seq("has_ws_latency", "has_depth", "has_liq")
      .foldLeft(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 72))(
        (df, c) => df.withColumn(c, lit(false))))
    val reader = new MinuteLakeReader(wRoot)
    val spec = Timeframes.parse("1h")
    AggregatorRunner.runBackfillAll(spark, reader,
      new HtfLakeWriter(s"$wRoot/htf", LakeLayout.DayWide(filesPerDay = 3)),
      new AggregatorStateStore(s"$wRoot/_aggstate"), s"$wRoot/htf", spec)

    val lo = instant("2026-01-16T10:00:00Z"); val hi = instant("2026-01-16T11:59:00Z")
    def onlyDay16(files: Seq[String], what: String): Unit = {
      assert(files.nonEmpty, what)
      assert(files.forall(_.contains("/day=16/")),
        s"$what read outside day=16: ${files.filterNot(_.contains("/day=16/")).take(3)}")
    }
    onlyDay16(reader.readWindow(spark, "AAAUSDT", lo, hi).inputFiles.toSeq,
      "readWindow")
    onlyDay16(reader.readWindowAllSymbols(spark, lo, hi).get.inputFiles.toSeq,
      "readWindowAllSymbols")
    onlyDay16(new HtfLakeReader(s"$wRoot/htf")
        .readWindow(spark, "1h", "AAAUSDT", instant("2026-01-16T05:00:00Z"),
          instant("2026-01-16T09:00:00Z")).get.inputFiles.toSeq,
      "HtfLakeReader.readWindow")

    // BBBUSDT's single-symbol reads before any patch: the reference rows
    // for the delta-skipping cases below
    def rows(df: DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toIndexedSeq
    def bWindow() = reader.readWindow(spark, "BBBUSDT", lo, hi)
    def bScan() = reader.scanSymbol(spark, "BBBUSDT")
    val bWindowRows = rows(bWindow())
    val bScanRows = rows(bScan())

    // with a delta patch present the bound still holds: the overlay adds
    // ONLY the window's delta day files, and a window over a different
    // day plans over zero delta files
    writer.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1,
      dayStart = instant("2026-01-16T10:00:00Z"), openBase = 700.0))
    val withDelta = reader.readWindow(spark, "AAAUSDT", lo, hi).inputFiles.toSeq
    onlyDay16(withDelta, "readWindow+delta")
    assert(withDelta.exists(_.contains("/_delta/")), "delta files missing from the plan")
    val otherDay = reader.readWindow(spark, "AAAUSDT",
      instant("2026-01-17T10:00:00Z"), instant("2026-01-17T11:59:00Z")).inputFiles.toSeq
    assert(otherDay.nonEmpty && otherDay.forall(f =>
      f.contains("/day=17/") && !f.contains("/_delta/")),
      s"day-17 window read outside its base day: ${otherDay.take(3)}")

    // the AAAUSDT-only delta file's footer symbol range excludes BBBUSDT:
    // BBBUSDT's single-symbol reads skip it and plan over zero delta files
    def deltaFiles(df: DataFrame) = df.inputFiles.toSeq.filter(_.contains("/_delta/"))
    for ((what, df, before) <- Seq(("readWindow", bWindow(), bWindowRows),
                                   ("scanSymbol", bScan(), bScanRows))) {
      assert(deltaFiles(df).isEmpty, s"BBBUSDT $what planned another symbol's delta")
      assert(rows(df) == before, s"BBBUSDT $what rows moved under an AAAUSDT patch")
    }

    // skipping is by footer RANGE, not membership: an AAAUSDT + CCCUSDT
    // patch spans BBBUSDT, so BBBUSDT's reads keep that file (and still
    // skip the AAAUSDT-only one) — and their rows stay unchanged
    writer.writeDeltaPatch(minutes(Seq("AAAUSDT", "CCCUSDT"), hours = 1,
      dayStart = instant("2026-01-16T11:00:00Z"), openBase = 800.0))
    for ((what, df, before) <- Seq(("readWindow", bWindow(), bWindowRows),
                                   ("scanSymbol", bScan(), bScanRows))) {
      assert(deltaFiles(df).size == 1, s"BBBUSDT $what delta files: ${deltaFiles(df)}")
      assert(rows(df) == before, s"BBBUSDT $what rows moved under an A..C patch")
    }
  }

  test("lake retention drops aged days on both layouts; audit and backfill stay clean") {
    import graft.sources.Retention
    val spec = Timeframes.parse("1h")
    val cutoff = instant("2026-01-16T00:00:00Z") // retires day 15 only

    // 3-day lake + HTF tree, ledgered
    val wRoot = tempDir("graft-ret-w").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val frame = minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 72)
    new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 3))
      .writeDaysWide(frame)
    val reader = new MinuteLakeReader(wRoot)
    val htfWriter = new HtfLakeWriter(s"$wRoot/htf", LakeLayout.DayWide(filesPerDay = 3))
    val state = new AggregatorStateStore(s"$wRoot/_aggstate")
    AggregatorRunner.runBackfillAll(spark, reader, htfWriter, state, s"$wRoot/htf", spec)

    val droppedMin = Retention.dropLakeDaysBefore(spark, wRoot, cutoff, Some(ledger))
    val droppedHtf = Retention.dropHtfDaysBefore(spark, s"$wRoot/htf", "1h", cutoff)
    assert(droppedMin.size == 1 && droppedMin.head.contains("day=15"))
    assert(droppedHtf.size == 1 && droppedHtf.head.contains("day=15"))

    // retired range reads empty; retained range intact
    assert(reader.readWindow(spark, "AAAUSDT",
      instant("2026-01-15T00:00:00Z"), instant("2026-01-15T23:59:00Z")).count() == 0)
    assert(reader.scanSymbol(spark, "AAAUSDT").count() == 48 * 60)
    // ledger rows for the dropped day flipped to DROPPED → audit stays ok
    assert(ledger.all().exists(e => e.day == "2026-01-15" && e.status == "DROPPED"))
    assert(new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 3))
      .auditPartitions(spark).forall(_.issue == "ok"))
    // matching cutoffs ⇒ nothing looks missing: backfill re-run writes 0
    assert(AggregatorRunner.runBackfillAll(spark, reader, htfWriter, state,
      s"$wRoot/htf", spec).bucketsWritten == 0L)

    // oracle: a retained symbol reads exactly its input rows at or
    // after the cutoff
    val retained = lastWins(frame).where(col("symbol") === "BBBUSDT" &&
      col("timestamp") >= java.sql.Timestamp.from(cutoff))
    assert(sortedRows(retained) ==
      sortedRows(reader.scanSymbol(spark, "BBBUSDT").withColumn("symbol", lit("BBBUSDT"))))
  }

  test("wide scanSymbol pushes the symbol predicate into the parquet scan") {
    val syms = (0 until 8).map(i => f"SY${i}%02dUSDT")
    val wRoot = tempDir("graft-wide-plan").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 8))
      .writeDaysWide(minutes(syms, hours = 2))
    val df = new MinuteLakeReader(wRoot).scanSymbol(spark, "SY03USDT")
    df.queryExecution.toRdd.count()
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the symbol predicate must reach the scan (row-group min/max stats
    // on the sorted symbol column do the skipping the per-symbol
    // directory tree used to) — not be applied post-scan only
    assert(formatted.contains("EqualTo(symbol,SY03USDT)"),
      formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("wide day files cluster by symbol (writer sort survives the partition write)") {
    // The layout's pruning claim rests on the day's FILES being
    // (symbol, timestamp)-clustered so parquet min/max stats skip whole
    // files per symbol. The dynamic-partition writer requires ordering
    // on (year, month, day); the writer's sort leads with them so no
    // extra (possibly unstable) sort is inserted above the clustering
    // (ADVICE r13). Pin it physically: with 8 symbols over 4 files/day,
    // a clustered day stores each symbol in ≤2 files (range boundary
    // straddle); a scrambled day smears symbols across all 4.
    val syms = (0 until 8).map(i => f"CL${i}%02dUSDT")
    val wRoot = tempDir("graft-wide-cluster").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
      .writeDaysWide(minutes(syms, hours = 24))
    val perSymbolFiles = spark.read.parquet(s"$wRoot/futures/um/minute")
      .select(col("symbol"), input_file_name().as("f"))
      .groupBy("symbol").agg(countDistinct("f").as("nf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSymbolFiles.keySet == syms.toSet)
    assert(perSymbolFiles.values.forall(_ <= 2),
      s"symbols smeared across files — clustering lost: $perSymbolFiles")
  }

  test("idle symbols are reconciled into latestMinuteAllSymbols via the end-probe") {
    // IDLUSDT stops writing on day 1 of a 4-day lake — outside the
    // 2-deepest-day scan. Without the knownSymbols hint it's absent
    // (documented trade); with it, the per-symbol probe finds its true
    // latest, so the fleet tick can finalize its trailing buckets.
    val wRoot = tempDir("graft-wide-idle").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 96)
      .unionByName(minutes(Seq("IDLUSDT"), hours = 20)))
    val r = new MinuteLakeReader(wRoot)
    val bare = r.latestMinuteAllSymbols(spark)
    assert(!bare.contains("IDLUSDT") && bare.keySet == Set("AAAUSDT", "BBBUSDT"))
    val hinted = r.latestMinuteAllSymbols(spark,
      knownSymbols = Set("IDLUSDT", "AAAUSDT", "GONEUSDT"))
    assert(hinted("IDLUSDT") == instant("2026-01-15T19:59:00Z"))
    assert(hinted("AAAUSDT") == bare("AAAUSDT"))
    assert(!hinted.contains("GONEUSDT")) // never existed: probe finds nothing
  }

  private def baseFileSnapshot(root: String): Map[String, (Long, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/futures/um/minute"), true)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toString.contains("/_delta/"))
        out += f.getPath.toString -> ((f.getLen, f.getModificationTime))
    }
    out.toMap
  }

  test("point repair lands as a delta: base files untouched, patch visible with merge semantics") {
    val wRoot = tempDir("graft-wide-delta").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3))
    // base: 26h × 2 symbols, AAAUSDT carries a LIVE_ONLY coverage flag
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)
      .withColumn("has_depth", lit(true)))
    val before = baseFileSnapshot(wRoot)

    // patch: AAAUSDT's first hour, new opens, has_depth null in the patch
    val deltaDirs = w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    assert(deltaDirs.size == 1 && deltaDirs.head.endsWith("/day=15/_delta"))
    assert(baseFileSnapshot(wRoot) == before, "base day files were rewritten by a point patch")

    val r = new MinuteLakeReader(wRoot)
    val a = r.scanSymbol(spark, "AAAUSDT")
    assert(a.count() == 26 * 60) // no duplicate keys after overlay
    val patched = a.where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open", "has_depth").head
    assert(patched.getDouble(0) == 700.0)       // delta wins
    assert(patched.getBoolean(1))               // LIVE_ONLY preserved from base
    assert(a.where(col("timestamp") === ts("2026-01-15T01:00:00Z"))
      .select("open").head.getDouble(0) == 110.0) // unpatched hour intact
    assert(r.scanSymbol(spark, "BBBUSDT")
      .where(col("timestamp") === ts("2026-01-15T00:30:00Z"))
      .select("open").head.getDouble(0) == 130.0) // sibling untouched (step 30)

    // a second patch to the same keys wins over the first (__delta_seq)
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 900.0))
    assert(r.readWindow(spark, "AAAUSDT",
        instant("2026-01-15T00:00:00Z"), instant("2026-01-15T00:59:00Z"))
      .agg(min("open"), max("open")).head.toSeq == Seq(900.0, 949.0))

    // all-symbols window read sees the overlay too
    val win = r.readWindowAllSymbols(spark,
      instant("2026-01-15T00:00:00Z"), instant("2026-01-15T00:00:00Z")).get
    assert(win.where(col("symbol") === "AAAUSDT").select("open").head.getDouble(0) == 900.0)
    assert(win.where(col("symbol") === "BBBUSDT").select("open").head.getDouble(0) == 100.0)

    // audit covers the delta tree (symbol __DELTA__, hour -2) and stays ok
    assert(w.auditPartitions(spark).forall(_.ok))
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val dRows = ledger.all().filter(_.hour == -2)
    assert(dRows.size == 1 && dRows.head.symbol == "__DELTA__" &&
      dRows.head.rowCount == 120 && dRows.head.contentHash.nonEmpty)

    // probes see patched minutes: a patch extending past the base max
    val late = minutes(Seq("AAAUSDT"), hours = 1,
      dayStart = instant("2026-01-16T02:00:00Z"))
    w.writeDeltaPatch(late)
    assert(r.latestMinute(spark, "AAAUSDT").contains(instant("2026-01-16T02:59:00Z")))
    assert(r.inspectRange(spark, "AAAUSDT")._2.contains(instant("2026-01-16T02:59:00Z")))

    // patches may only overlay EXISTING days
    intercept[IllegalArgumentException] {
      w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1,
        dayStart = instant("2026-03-01T00:00:00Z")))
    }
  }

  test("delta compaction folds into base: reads identical, deltas gone, ledger coherent") {
    val wRoot = tempDir("graft-wide-compact").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)
      .withColumn("has_depth", lit(true)))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 900.0))

    val r = new MinuteLakeReader(wRoot)
    def fingerprint() = sortedRows(r.scanAllSymbols(spark).get) ->
      r.scanAllSymbols(spark).get.agg(
        sum(when(col("has_depth"), 1L).otherwise(0L))).head.getLong(0)
    val pre = fingerprint()

    val folded = w.compactWideDeltas(spark)
    assert(folded.size == 1 && folded.head.endsWith("/day=15/_delta"))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(folded.head)))

    // compaction is invisible to readers — same rows, same LIVE_ONLY
    assert(fingerprint() == pre)
    // audit: day rows re-committed with fresh hashes; __DELTA__ rows DROPPED
    assert(w.auditPartitions(spark).forall(_.ok))
    val ledger = new PartitionLedger(s"$wRoot/_state")
    assert(ledger.all().filter(_.hour == -2).forall(_.status == "DROPPED"))
    // second compaction is a no-op; a fresh patch afterwards still wins
    assert(w.compactWideDeltas(spark).isEmpty)
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 333.0))
    assert(r.scanSymbol(spark, "AAAUSDT")
      .where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 333.0)

    // threshold: minFilesPerDay above the day's delta file count leaves
    // it alone (still served through the overlay); at the threshold it
    // folds
    assert(w.compactWideDeltas(spark, minFilesPerDay = 2).isEmpty)
    assert(r.scanSymbol(spark, "AAAUSDT")
      .where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 333.0)
    assert(w.compactWideDeltas(spark, minFilesPerDay = 1).size == 1)

    // a patch extending a symbol's latest minute is seen by the
    // all-symbols latest scan (deepest base days ∪ their delta days)
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1,
      dayStart = instant("2026-01-16T05:00:00Z")))
    assert(r.latestMinuteAllSymbols(spark)("AAAUSDT") ==
      instant("2026-01-16T05:59:00Z"))
  }

  test("symbol registry short-circuits absent-symbol probes; fallback walk without it; patches register new symbols") {
    val wRoot = tempDir("graft-wide-reg").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val lakeDir = s"$wRoot/futures/um/minute"
    val regPath = new org.apache.hadoop.fs.Path(
      s"$lakeDir/${MinuteLakeWriter.SymbolsRegistry}")
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir)
      .contains(Set("AAAUSDT", "BBBUSDT")))

    val r = new MinuteLakeReader(wRoot)
    // absent symbol: the registry answers without the backward walk
    assert(r.latestMinute(spark, "ZZZUSDT").isEmpty)
    assert(r.inspectRange(spark, "ZZZUSDT") == (None, None))
    // present symbols are unaffected
    assert(r.latestMinute(spark, "AAAUSDT").contains(instant("2026-01-15T02:59:00Z")))

    // a delta patch may introduce a NEW symbol into an existing day —
    // the registry must learn it or the reader would deny real data
    w.writeDeltaPatch(minutes(Seq("CCCUSDT"), hours = 1, openBase = 700.0))
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir)
      .exists(_.contains("CCCUSDT")))
    assert(r.latestMinute(spark, "CCCUSDT").contains(instant("2026-01-15T00:59:00Z")))

    // a TORN registry (reader raced a non-atomic create and saw a
    // prefix — no trailing completeness sentinel) must read as absent,
    // or a partial symbol set would DENY real symbols: present symbols
    // still answer via the fallback walk
    val out = fs.create(regPath, true)
    try out.write("""["AAAUSDT","BBB""".getBytes("UTF-8")) finally out.close()
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir).isEmpty)
    assert(r.latestMinute(spark, "BBBUSDT").contains(instant("2026-01-15T02:59:00Z")))

    // registry is ADVISORY: without it (legacy/foreign lake) the probe
    // walks and answers identically
    fs.delete(regPath, false)
    assert(r.latestMinute(spark, "ZZZUSDT").isEmpty)
    assert(r.latestMinute(spark, "AAAUSDT").contains(instant("2026-01-15T02:59:00Z")))
  }

  test("compactWideDeltasIfDue: threshold OR age (whichever trips), reader-invariant, retention-safe") {
    val wRoot = tempDir("graft-wide-policy").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    def deltaDays = fs.globStatus(new org.apache.hadoop.fs.Path(
      s"$wRoot/futures/um/minute" + "/year=*/month=*/day=*/_delta")).toSeq.map(_.getPath.toString)
    val r = new MinuteLakeReader(wRoot)
    def fingerprint() = sortedRows(r.scanAllSymbols(spark).get)
    val pre = fingerprint()

    // young single delta, threshold 3: neither bound trips — kept
    val policy = graft.sources.CompactionPolicy(minFilesPerDay = 3, maxAgeMinutes = 120)
    assert(w.compactWideDeltasIfDue(spark, java.time.Instant.now(), policy).isEmpty)
    assert(deltaDays.size == 1)

    // two more patches cross the count threshold — folds; readers see
    // the SAME rows either side of the fold (the concurrent-reader
    // guarantee: overlay and fold share mergeKeyed)
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 800.0))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 900.0))
    val byCount = w.compactWideDeltasIfDue(spark, java.time.Instant.now(), policy)
    assert(byCount.size == 1 && deltaDays.isEmpty)
    val post = fingerprint()
    assert(post != pre && post == fingerprint(), "fold applied once, stable after")

    // one fresh patch: below count threshold, but a tick whose `now`
    // is past the patch's age bound folds it anyway
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 333.0))
    assert(w.compactWideDeltasIfDue(spark, java.time.Instant.now(), policy).isEmpty)
    val aged = w.compactWideDeltasIfDue(
      spark, java.time.Instant.now().plus(121, java.time.temporal.ChronoUnit.MINUTES), policy)
    assert(aged.size == 1 && deltaDays.isEmpty)
    assert(r.scanSymbol(spark, "AAAUSDT")
      .where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 333.0)

    // retention interplay: a dropped day takes its deltas with it, and
    // the policy tick over the emptied tree is a clean no-op
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 555.0))
    graft.sources.Retention.dropLakeDaysBefore(spark, wRoot,
      instant("2026-01-16T00:00:00Z"))
    assert(deltaDays.isEmpty)
    assert(w.compactWideDeltasIfDue(spark,
      java.time.Instant.now().plus(500, java.time.temporal.ChronoUnit.MINUTES),
      policy).isEmpty)
  }

  test("writeHourPartition point-repairs an existing wide day as a delta; new days bootstrap bulk") {
    val wRoot = tempDir("graft-wide-hourapi").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    val before = baseFileSnapshot(wRoot)

    // repair INTO the existing day → delta, base untouched
    val hour = instant("2026-01-15T10:00:00Z")
    w.writeHourPartition("AAAUSDT", hour,
      minutes(Seq("AAAUSDT"), hours = 1, dayStart = hour, openBase = 777.0)
        .drop("symbol"))
    assert(baseFileSnapshot(wRoot) == before,
      "an hour repair into an existing wide day rewrote the day")
    val r = new MinuteLakeReader(wRoot)
    assert(r.readWindow(spark, "AAAUSDT", hour, instant("2026-01-15T10:00:00Z"))
      .select("open").head.getDouble(0) == 777.0)

    // first write of a NEW day → bulk base write, no delta dir for it
    val nextDay = instant("2026-01-16T00:00:00Z")
    w.writeHourPartition("AAAUSDT", nextDay,
      minutes(Seq("AAAUSDT"), hours = 1, dayStart = nextDay).drop("symbol"))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$wRoot/futures/um/minute/year=2026/month=01/day=16")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$wRoot/futures/um/minute/year=2026/month=01/day=16/_delta")))
    assert(r.scanSymbol(spark, "AAAUSDT").count() == 25 * 60) // 24h base + 1 new-day hour
  }

  test("QueryService.candleBars serves identical bars from hourly and wide lakes") {
    val syms = Seq("AAAUSDT", "BBBUSDT")
    val frame = minutes(syms, hours = 4)
    val wRoot = tempDir("graft-wide-svc-w").toString
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4)).writeDaysWide(frame)
    val lo = Day1; val hi = instant("2026-01-15T03:59:00Z")
    val w = graft.service.QueryService
      .candleBars(spark, new MinuteLakeReader(wRoot), "BBBUSDT", "15m", lo, hi, limit = 12)
      .orderBy("timestamp")
      .select(col("timestamp").cast("string"), col("open"), col("high"),
        col("low"), col("close"))
      .collect().map(_.toString).toSeq
    // oracle: the last 12 complete 15m bars of the input from a plain groupBy
    val h = windowOf(frame, lo, hi).where(col("symbol") === "BBBUSDT")
      .groupBy(window(col("timestamp"), "15 minutes").getField("start").as("bar"))
      .agg(min_by(col("open"), col("timestamp")).as("open"), max(col("high")).as("high"),
        min(col("low")).as("low"), max_by(col("close"), col("timestamp")).as("close"),
        count(lit(1)).as("n"))
      .where(col("n") === 15)
      .orderBy(col("bar").desc).limit(12).orderBy("bar")
      .select(date_format(col("bar"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"), col("open"),
        col("high"), col("low"), col("close"))
      .collect().map(_.toString).toSeq
    assert(h == w && h.size == 12, s"oracle=${h.size} wide=${w.size}")

    // a delta patch of ANOTHER symbol on the same day leaves BBBUSDT's
    // served output — every field of the bars, and the indicators —
    // exactly as it was
    val wr = new MinuteLakeReader(wRoot)
    def served() = (
      graft.service.QueryService.candleBars(spark, wr, "BBBUSDT", "15m", lo, hi,
        limit = 12).collect().map(_.toString).toSeq,
      graft.service.QueryService.indicatorPayload(spark, wr, "BBBUSDT", "15m", 3,
        "1h", hi))
    val before = served()
    assert(before._1.size == 12 && before._2.ema.nonEmpty && before._2.pivots.nonEmpty)
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4)).writeDeltaPatch(minutes(Seq("AAAUSDT"),
        hours = 1, dayStart = instant("2026-01-15T02:00:00Z"), openBase = 700.0))
    assert(served() == before)
  }

  test("LakeMigrate: hourly lake migrates to day-wide with parity verified") {
    val syms = Seq("AAAUSDT", "BBBUSDT", "CCCUSDT")
    val frame = minutes(syms, hours = 26) // crosses a day boundary
    val hRoot = tempDir("graft-mig-src").toString
    val wRoot = tempDir("graft-mig-dst").toString
    hourlyLake(frame, hRoot)

    val report = graft.sources.LakeMigrate.hourlyToDayWide(spark, hRoot, wRoot,
      filesPerDay = 4)
    assert(report.parityOk, s"migration parity failed: $report")
    assert(report.rows == syms.size * 26L * 60 && report.symbols == syms.size)

    // destination reads as a day-wide lake through the standard reader
    val r = new MinuteLakeReader(wRoot)
    assert(r.scanSymbol(spark, "BBBUSDT").count() == 26 * 60)
    val lo = instant("2026-01-15T10:00:00Z"); val hi = instant("2026-01-15T11:59:00Z")
    assert(sortedRows(r.readWindowAllSymbols(spark, lo, hi).get) ==
      sortedRows(windowOf(frame, lo, hi)))
  }

  test("overlap: returns both results; background failure rethrows its original cause") {
    assert(MinuteLakeWriter.overlap(21 * 2)("fg") == (42, "fg"))
    val boom = new IllegalStateException("bg failed")
    val caught = intercept[IllegalStateException] {
      MinuteLakeWriter.overlap[Int, String] { throw boom } { "fg" }
    }
    assert(caught eq boom) // the ORIGINAL, not an ExecutionException wrapper
    // foreground failure wins even while the background is still running
    val fgBoom = new RuntimeException("fg failed")
    val caughtFg = intercept[RuntimeException] {
      MinuteLakeWriter.overlap { Thread.sleep(5000); 1 } { throw fgBoom }
    }
    assert(caughtFg eq fgBoom)
  }

  test("lake writes leave the caller's partitionOverwriteMode unchanged") {
    // a writer that flips this session conf to dynamic turns every later
    // static overwrite by the caller into a silent partial overwrite
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    def unchanged(what: String)(body: => Unit): Unit = {
      body
      assert(spark.conf.get(key) == "STATIC", s"$what changed $key")
    }
    try {
      val wRoot = tempDir("graft-wide-conf").toString
      val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
        LakeLayout.DayWide(filesPerDay = 2))
      unchanged("writeDaysWide")(
        w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 2)))
      unchanged("writeDaysWide(merge = true)")(
        w.writeDaysWide(minutes(Seq("AAAUSDT"), hours = 1, openBase = 500.0), merge = true))
      w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
      unchanged("compactWideDeltas")(assert(w.compactWideDeltas(spark).size == 1))

      def buckets(close: Double) =
        Seq(("AAAUSDT", ts("2026-01-15T00:00:00Z"), close, true))
          .toDF("symbol", "bucket_start", "close", "bucket_complete")
      val hRoot = tempDir("graft-htf-conf").toString
      val hw = new HtfLakeWriter(hRoot, LakeLayout.DayWide(filesPerDay = 2))
      unchanged("writeBucketsBulkAllSymbols (fresh)")(
        hw.writeBucketsBulkAllSymbols(spark, "1h", buckets(1.0)))
      unchanged("writeBucketsBulkAllSymbols (merge)")(
        hw.writeBucketsBulkAllSymbols(spark, "1h", buckets(2.0)))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("wide audit is clean after writeHourPartition into an existing and a new day; tamper still detected") {
    val wRoot = tempDir("graft-wide-hour-audit").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val w = new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    // into the existing day: a delta; into a new day: a bulk base write
    val hour = instant("2026-01-15T10:00:00Z")
    w.writeHourPartition("AAAUSDT", hour,
      minutes(Seq("AAAUSDT"), hours = 1, dayStart = hour, openBase = 777.0).drop("symbol"))
    val nextDay = instant("2026-01-16T00:00:00Z")
    w.writeHourPartition("AAAUSDT", nextDay,
      minutes(Seq("AAAUSDT"), hours = 1, dayStart = nextDay).drop("symbol"))
    // the per-(symbol, hour) rows are still recorded, hash-less
    assert(ledger.all().count(e => e.hour >= 0 && e.contentHash.isEmpty) == 2)

    val audit = w.auditPartitions(spark)
    assert(audit.nonEmpty && audit.forall(_.ok), s"wide audit not clean: $audit")
    assert(audit.map(r => (r.day, r.hour)).toSet ==
      Set(("2026-01-15", -1), ("2026-01-16", -1), ("2026-01-15", -2)))

    // tampering with the delta file is still caught
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val deltaDay = new org.apache.hadoop.fs.Path(ledger.all().filter(_.hour == -2).head.path)
    val victim = fs.listStatus(deltaDay).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val out = fs.create(victim, true); out.write(Array[Byte](1, 2, 3)); out.close()
    val issues = w.auditPartitions(spark).map(r => (r.day, r.hour) -> r.issue).toMap
    assert(issues(("2026-01-15", -2)) == "hash_mismatch", s"got $issues")
    assert(issues.values.count(_ == "ok") == 2, s"got $issues")
  }

  /** AAAUSDT's opens over the first hour of Day1 through every window
    * reader, ordered by time. */
  private def firstHourOpens(r: MinuteLakeReader): Seq[(String, Seq[Double])] = {
    val lo = Day1; val hi = instant("2026-01-15T00:59:00Z")
    def opens(df: DataFrame) = df.where(col("timestamp").between(
        java.sql.Timestamp.from(lo), java.sql.Timestamp.from(hi)))
      .orderBy("timestamp").select("open").collect().map(_.getDouble(0)).toSeq
    Seq("readWindow" -> opens(r.readWindow(spark, "AAAUSDT", lo, hi)),
        "scanSymbol" -> opens(r.scanSymbol(spark, "AAAUSDT")),
        "readWindowAllSymbols" -> opens(r.readWindowAllSymbols(spark, lo, hi).get
          .where(col("symbol") === "AAAUSDT")))
  }

  for (merge <- Seq(true, false))
    test(s"a writeDaysWide(merge = $merge) over a patched day is not masked by its older deltas") {
      val wRoot = tempDir("graft-wide-mask").toString
      val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
        LakeLayout.DayWide(filesPerDay = 2))
      w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24, openBase = 1.0))
      w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 2.0))
      val latest =
        if (merge) minutes(Seq("AAAUSDT"), hours = 1, openBase = 3.0)
        else minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24, openBase = 3.0)
      w.writeDaysWide(latest, merge = merge)
      val want = minutes(Seq("AAAUSDT"), hours = 1, openBase = 3.0)
        .orderBy("timestamp").select("open").collect().map(_.getDouble(0)).toSeq
      val r = new MinuteLakeReader(wRoot)
      for ((what, got) <- firstHourOpens(r))
        assert(got == want, s"$what after the write read ${got.take(3)}…, want ${want.take(3)}…")
      // the swap retired the day's deltas: nothing is left to fold, the
      // rows stay the write's, and every ledger row audits ok
      w.compactWideDeltas(spark)
      for ((what, got) <- firstHourOpens(r))
        assert(got == want, s"$what after compaction read ${got.take(3)}…")
      val audit = w.auditPartitions(spark)
      assert(audit.nonEmpty && audit.forall(_.ok), s"audit: $audit")
      assert(new PartitionLedger(s"$wRoot/_state").all()
        .filter(_.symbol == "__DELTA__").forall(_.status == "DROPPED"))
    }

  test("a second patch to a day runs no more Spark jobs than the first (no seq scan)") {
    val wRoot = tempDir("graft-wide-seq").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    val (_, first) = jobsOf(w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0)))
    val (_, second) = jobsOf(w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 900.0)))
    assert(second <= first, s"first patch $first jobs, second $second")
    // the second patch still outranks the first
    assert(new MinuteLakeReader(wRoot).readWindow(spark, "AAAUSDT",
        Day1, instant("2026-01-15T00:59:00Z"))
      .agg(min("open"), max("open")).head.toSeq == Seq(900.0, 949.0))
  }

  test("a patch that dies before its COMMITTED ledger row is still folded by compaction") {
    val wRoot = tempDir("graft-wide-pending").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    val w = new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    // the process dies after the patch's files land, before its COMMITTED row
    val dying = new PartitionLedger(s"$wRoot/_state") {
      override def upsert(e: PartitionLedgerEntry): Unit =
        if (e.symbol == "__DELTA__" && e.status == "COMMITTED")
          throw new IllegalStateException("process died")
        else super.upsert(e)
    }
    intercept[IllegalStateException](
      new MinuteLakeWriter(wRoot, dying, LakeLayout.DayWide(filesPerDay = 2))
        .writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0)))
    val r = new MinuteLakeReader(wRoot)
    def firstHour = r.readWindow(spark, "AAAUSDT", Day1, instant("2026-01-15T00:59:00Z"))
      .agg(min("open"), max("open")).head.toSeq
    def deltaStatus = ledger.all().filter(_.symbol == "__DELTA__").map(_.status)
    assert(firstHour == Seq(700.0, 749.0)) // readers overlay the landed files
    assert(deltaStatus == Seq("PENDING"))
    assert(w.compactWideDeltas(spark).map(_.endsWith("/day=15/_delta")) == Seq(true))
    assert(firstHour == Seq(700.0, 749.0))
    assert(deltaStatus == Seq("DROPPED"))
    val audit = w.auditPartitions(spark)
    assert(audit.nonEmpty && audit.forall(_.ok), s"audit: $audit")
    // a patch that died before its files landed: the PENDING row is dropped
    ledger.upsert(ledger.all().find(_.symbol == "__DELTA__").get.copy(status = "PENDING"))
    assert(w.compactWideDeltas(spark).isEmpty)
    assert(deltaStatus == Seq("DROPPED"))
  }

  /** (all jobs, jobs whose tasks wrote output bytes) launched by `body`. */
  private def writeJobs(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.jobId)
        js.stageIds.foreach(stageJob.put(_, js.jobId))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null && te.taskMetrics.outputMetrics.bytesWritten > 0 &&
            stageJob.containsKey(te.stageId))
          writing.add(stageJob.get(te.stageId))
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      (jobs.size, writing.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def tmpEntries(root: String): Seq[String] = {
    val tmp = new java.io.File(s"$root/.tmp")
    if (tmp.exists) tmp.list().toSeq else Seq.empty
  }

  test("wide merge write stages once and writes the merged days once (job counts)") {
    val wRoot = tempDir("graft-wide-jobs").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    val (total, writing) = writeJobs(
      w.writeDaysWide(minutes(Seq("AAAUSDT"), hours = 1, openBase = 500.0), merge = true))
    // the staging write and the clustered write
    assert(writing == 2, s"output-writing jobs: $writing")
    assert(total == MergeWriteJobs, s"jobs: $total")
    assert(tmpEntries(wRoot).isEmpty, s".tmp left behind: ${tmpEntries(wRoot)}")
    val a = new MinuteLakeReader(wRoot).scanSymbol(spark, "AAAUSDT")
    assert(a.count() == 24 * 60)
    assert(a.where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 500.0)
  }

  test("delta compaction stages once and writes the folded days once (job counts)") {
    val wRoot = tempDir("graft-compact-jobs").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 24))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    val (total, writing) = writeJobs(assert(w.compactWideDeltas(spark).size == 1))
    assert(writing == 2, s"output-writing jobs: $writing")
    assert(total == CompactJobs, s"jobs: $total")
    assert(tmpEntries(wRoot).isEmpty, s".tmp left behind: ${tmpEntries(wRoot)}")
    assert(new MinuteLakeReader(wRoot).scanSymbol(spark, "AAAUSDT")
      .where(col("timestamp") === ts("2026-01-15T00:00:00Z"))
      .select("open").head.getDouble(0) == 700.0)
  }

  /** Every reader verb on a lake that holds no day: the empty frame
    * with the read's schema, `None`, `Map.empty` or `(None, None)`. The
    * whole-lake scans are checked only when `wholeLake`. */
  private def assertReadsEmpty(root: String, wholeLake: Boolean): Unit = {
    val canonicalCols = graft.schema.CanonicalSchema.structType.fieldNames.sorted.toSeq
    val lo = Day1; val hi = instant("2026-01-15T03:59:00Z")
    val r = new MinuteLakeReader(root)
    val scan = r.scanSymbol(spark, "AAAUSDT")
    assert(scan.count() == 0 && scan.columns.sorted.toSeq == canonicalCols)
    if (wholeLake) {
      assert(r.scanAllSymbols(spark).isEmpty)
      assert(r.readWindowAllSymbols(spark, lo, hi).isEmpty)
    }
    assert(r.latestMinuteAllSymbols(spark, Set("AAAUSDT")) == Map.empty)
    assert(r.inspectRange(spark, "AAAUSDT") == ((None, None)))
    assert(r.latestMinute(spark, "AAAUSDT").isEmpty)
    val win = r.readWindow(spark, "AAAUSDT", lo, hi)
    assert(win.count() == 0 && win.columns.sorted.toSeq == canonicalCols)
    assert(new HtfLakeReader(s"$root/htf").readWindow(spark, "1h", "AAAUSDT", lo, hi).isEmpty)
  }

  /** A root whose minute lake and HTF timeframe dirs exist but hold no
    * day yet. */
  private def daylessLake(): String = {
    val root = tempDir("graft-empty-b").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$root/futures/um/minute"))
    Files.createDirectories(java.nio.file.Paths.get(s"$root/htf/timeframe=1h"))
    root
  }

  test("an absent or day-less lake reads empty through every reader verb") {
    // (a) a root with no lake dir
    assertReadsEmpty(tempDir("graft-empty-a").toString, wholeLake = true)
    // (b) lake and HTF timeframe dirs that hold no day yet
    assertReadsEmpty(daylessLake(), wholeLake = false)
  }

  test("a day-less lake dir: the whole-lake scans read None instead of failing schema inference") {
    assertReadsEmpty(daylessLake(), wholeLake = true)
  }

  test("a reference-layout hourly tree fails every reader verb loudly, naming the migration") {
    val hRoot = tempDir("graft-ref-layout").toString
    hourlyLake(minutes(Seq("AAAUSDT"), hours = 2), hRoot)
    val r = new MinuteLakeReader(hRoot)
    val lo = Day1; val hi = instant("2026-01-15T01:59:00Z")
    val verbs: Seq[(String, () => Any)] = Seq(
      "scanSymbol" -> (() => r.scanSymbol(spark, "AAAUSDT")),
      "scanAllSymbols" -> (() => r.scanAllSymbols(spark)),
      "readWindowAllSymbols" -> (() => r.readWindowAllSymbols(spark, lo, hi)),
      "latestMinuteAllSymbols" -> (() => r.latestMinuteAllSymbols(spark)),
      "inspectRange" -> (() => r.inspectRange(spark, "AAAUSDT")),
      "latestMinute" -> (() => r.latestMinute(spark, "AAAUSDT")),
      "readWindow" -> (() => r.readWindow(spark, "AAAUSDT", lo, hi)))
    verbs.foreach { case (name, verb) =>
      val e = intercept[IllegalStateException](verb())
      assert(e.getMessage.contains("LakeMigrate.hourlyToDayWide"), s"$name: ${e.getMessage}")
    }
  }

  test("a top-level _delta tree fails every reader verb loudly") {
    val root = tempDir("graft-old-delta").toString
    new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
      LakeLayout.DayWide(filesPerDay = 2)).writeDaysWide(minutes(Seq("AAAUSDT"), hours = 2))
    Files.createDirectories(java.nio.file.Paths.get(
      s"$root/futures/um/minute/_delta/year=2026/month=01/day=15"))
    val r = new MinuteLakeReader(root)
    val lo = Day1; val hi = instant("2026-01-15T01:59:00Z")
    val verbs: Seq[(String, () => Any)] = Seq(
      "scanSymbol" -> (() => r.scanSymbol(spark, "AAAUSDT")),
      "scanAllSymbols" -> (() => r.scanAllSymbols(spark)),
      "readWindowAllSymbols" -> (() => r.readWindowAllSymbols(spark, lo, hi)),
      "latestMinuteAllSymbols" -> (() => r.latestMinuteAllSymbols(spark)),
      "inspectRange" -> (() => r.inspectRange(spark, "AAAUSDT")),
      "latestMinute" -> (() => r.latestMinute(spark, "AAAUSDT")),
      "readWindow" -> (() => r.readWindow(spark, "AAAUSDT", lo, hi)))
    verbs.foreach { case (name, verb) =>
      val e = intercept[IllegalStateException](verb())
      assert(e.getMessage.contains("year=/month=/day=/_delta/"), s"$name: ${e.getMessage}")
    }
  }

  test("rebuildSymbolRegistry heals a torn registry from the base and delta trees") {
    val root = tempDir("graft-registry-heal").toString
    val w = new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val lakeDir = s"$root/futures/um/minute"
    // tear the registry (the healing verb's trigger)
    val reg = new org.apache.hadoop.fs.Path(s"$lakeDir/${MinuteLakeWriter.SymbolsRegistry}")
    val out = fs.create(reg, true)
    try out.write("""["AAAUSDT","BB""".getBytes("UTF-8")) finally out.close()
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir).isEmpty)
    // a symbol that exists only in a delta: a torn registry is never
    // rewritten from the fresh symbols alone, so it stays torn
    val patch = minutes(Seq("CCCUSDT"), hours = 1, dayStart = instant("2026-01-15T01:00:00Z"))
    w.writeDeltaPatch(patch)
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir).isEmpty)
    // heal: base ∪ delta symbols
    val healed = w.rebuildSymbolRegistry(spark)
    assert(healed == Set("AAAUSDT", "BBBUSDT", "CCCUSDT"), s"rebuild: $healed")
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir).contains(healed))
    // the healed registry short-circuits only absent symbols: the
    // delta-only symbol answers from its delta rows
    val r = new MinuteLakeReader(root)
    assert(r.inspectRange(spark, "CCCUSDT") == rangeOf(patch, "CCCUSDT"))
    assert(r.inspectRange(spark, "ZZZUSDT") == ((None, None)))
  }
}
