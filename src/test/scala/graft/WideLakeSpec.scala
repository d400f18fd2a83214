package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AggregatorRunner
import graft.operators.AggregatorRunner.AggregatorStateStore
import graft.schema.Timeframes
import graft.sources.{HtfLakeReader, HtfLakeWriter, LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger}

/** Layout parity: the day-wide lake ([[LakeLayout.DayWide]], the
  * width-≥10k answer to the width-10k probe's file-count wall, SURVEY
  * §8.15) must be indistinguishable from the reference-inherited hourly
  * layout through the reader API and the HTF pipeline — same merge
  * policy (one shared `mergePartitionFramesKeyed`), same query results,
  * different physics (files/day O(filesPerDay), not O(width × 24)). */
class WideLakeSpec extends SparkSpec {
  import spark.implicits._

  private val Day1 = instant("2026-01-15T00:00:00Z")

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

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(col("symbol"), col("timestamp").cast("string"), col("open"), col("close"))
      .collect().map(_.toString).sorted.toIndexedSeq

  test("wide write + reader API parity with the hourly layout") {
    val syms = Seq("AAAUSDT", "BBBUSDT", "CCCUSDT", "DDDUSDT")
    val frame = minutes(syms, hours = 26) // crosses a day boundary
    val hRoot = Files.createTempDirectory("graft-wide-h").toString
    val wRoot = Files.createTempDirectory("graft-wide-w").toString
    hourlyLake(frame, hRoot)
    val wWriter = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4))
    wWriter.writeDaysWide(frame)

    val hr = new MinuteLakeReader(hRoot)
    val wr = new MinuteLakeReader(wRoot) // layout auto-detected

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

    // scanSymbol parity (wide path must also drop the symbol data col)
    val hScan = hr.scanSymbol(spark, "BBBUSDT")
    val wScan = wr.scanSymbol(spark, "BBBUSDT")
    assert(hScan.columns.sorted.toSeq == wScan.columns.sorted.toSeq)
    assert(hScan.count() == 26 * 60 && wScan.count() == 26 * 60)

    // readWindow parity (windowed + latest-wins dedup)
    val lo = instant("2026-01-15T10:00:00Z"); val hi = instant("2026-01-15T11:59:00Z")
    assert(hr.readWindow(spark, "CCCUSDT", lo, hi).orderBy("timestamp")
        .select("open").collect().map(_.getDouble(0)).toSeq ==
      wr.readWindow(spark, "CCCUSDT", lo, hi).orderBy("timestamp")
        .select("open").collect().map(_.getDouble(0)).toSeq)

    // readWindowAllSymbols parity
    assert(sortedRows(hr.readWindowAllSymbols(spark, lo, hi).get) ==
      sortedRows(wr.readWindowAllSymbols(spark, lo, hi).get))

    // latestMinuteAllSymbols parity — every symbol, exact instant
    assert(hr.latestMinuteAllSymbols(spark) == wr.latestMinuteAllSymbols(spark))
  }

  test("wide inspectRange/latestMinute: end-probed, parity incl. stragglers and absent symbols") {
    // EEEUSDT stops 10 hours into day 1 — the max-probe's first batch
    // (deepest day) finds nothing for it and must expand backward; the
    // min-probe finds every symbol in batch 1. FFFUSDT never exists.
    val frame = minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)
      .unionByName(minutes(Seq("EEEUSDT"), hours = 10))
    val hRoot = Files.createTempDirectory("graft-insp-h").toString
    val wRoot = Files.createTempDirectory("graft-insp-w").toString
    hourlyLake(frame, hRoot)
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3)).writeDaysWide(frame)
    val hr = new MinuteLakeReader(hRoot)
    val wr = new MinuteLakeReader(wRoot)
    for (s <- Seq("AAAUSDT", "EEEUSDT")) {
      assert(wr.inspectRange(spark, s) == hr.inspectRange(spark, s), s)
      assert(wr.latestMinute(spark, s) == hr.latestMinute(spark, s), s)
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
      assert(wr.inspectRange(spark, s) == hr.inspectRange(spark, s), s)
      assert(wr.latestMinute(spark, s) == hr.latestMinute(spark, s), s)
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
      w0.columns.sorted.toSeq == hr.readWindow(spark, "AAAUSDT", before, beforeEnd).columns.sorted.toSeq)
    val a0 = wr.readWindowAllSymbols(spark, before, beforeEnd).get
    assert(a0.count() == 0 && a0.columns.contains("symbol"))
  }

  test("wide bulk write commits day-grain ledger rows; audit detects tamper and deletes") {
    val wRoot = Files.createTempDirectory("graft-audit-w").toString
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
    val wRoot = Files.createTempDirectory("graft-audit-batch").toString
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
    val wRoot = Files.createTempDirectory("graft-wide-m").toString
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
    val wRoot = Files.createTempDirectory("graft-wide-api").toString
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

    def run(root: String, layout: LakeLayout): (Long, Long, DataFrame) = {
      val frame = minutes(syms, hours = 24)
      layout match {
        case LakeLayout.HourlySymbol => hourlyLake(frame, root)
        case LakeLayout.DayWide(_) =>
          new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"), layout)
            .writeDaysWide(frame)
      }
      val reader = new MinuteLakeReader(root)
      val writer = new HtfLakeWriter(s"$root/htf", layout)
      val state = new AggregatorStateStore(s"$root/_aggstate")
      val bf = AggregatorRunner.runBackfillAll(spark, reader, writer, state,
        s"$root/htf", spec)
      val noop = AggregatorRunner.runIncrementalAll(spark, reader, writer, state,
        s"$root/htf", spec)
      val buckets = spark.read.parquet(s"$root/htf/timeframe=1h")
        .select("symbol", "bucket_start", "open", "close", "bucket_complete")
      (bf.bucketsWritten, noop.bucketsWritten, buckets)
    }

    val hRoot = Files.createTempDirectory("graft-wide-htf-h").toString
    val wRoot = Files.createTempDirectory("graft-wide-htf-w").toString
    val (hWritten, hNoop, hBuckets) = run(hRoot, LakeLayout.HourlySymbol)
    val (wWritten, wNoop, wBuckets) = run(wRoot, LakeLayout.DayWide(filesPerDay = 3))

    assert(hWritten == wWritten && hWritten == syms.length * 24L)
    assert(hNoop == 0L && wNoop == 0L) // fingerprint write-skip holds in both layouts
    val key = (df: DataFrame) => df.collect().map(_.toString).sorted.toSeq
    assert(key(hBuckets) == key(wBuckets))

    // wide HTF file bound: one day dir holds ≤ filesPerDay files
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val dayDir = new org.apache.hadoop.fs.Path(
      s"$wRoot/htf/timeframe=1h/year=2026/month=01/day=15")
    val n = fs.listStatus(dayDir).count(_.getPath.getName.endsWith(".parquet"))
    assert(n > 0 && n <= 3, s"wide HTF day dir has $n files, want ≤3")

    // per-symbol HTF window read parity through HtfLakeReader — the two
    // layouts must return IDENTICAL schemas (the wide branch drops its
    // symbol data column after the equality filter; a layout-dependent
    // schema would leak through QueryService.btcLocalOnlyBars)
    val hb = new graft.sources.HtfLakeReader(s"$hRoot/htf")
    val wb = new graft.sources.HtfLakeReader(s"$wRoot/htf")
    val lo = instant("2026-01-15T05:00:00Z"); val hi = instant("2026-01-15T09:00:00Z")
    val hDf = hb.readWindow(spark, "1h", "BBBUSDT", lo, hi).get
    val wDf = wb.readWindow(spark, "1h", "BBBUSDT", lo, hi).get
    assert(hDf.columns.sorted.toSeq == wDf.columns.sorted.toSeq,
      s"HTF reader schema diverges by layout: hourly=${hDf.columns.sorted.mkString(",")} " +
        s"wide=${wDf.columns.sorted.mkString(",")}")
    val hWin = hDf.orderBy("timestamp").select("open", "close").collect().map(_.toString).toSeq
    val wWin = wDf.orderBy("timestamp").select("open", "close").collect().map(_.toString).toSeq
    assert(hWin == wWin && hWin.nonEmpty)
  }

  test("bounded wide reads touch ONLY the window's day dirs (inputFiles-pinned)") {
    // 3-day lake; every bounded read form must plan over the touched
    // day's files alone — the depth-flat guarantee, asserted from the
    // plan's file list rather than timed
    val wRoot = Files.createTempDirectory("graft-wide-bounded").toString
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

    // wide: 3-day lake + HTF tree, ledgered
    val wRoot = Files.createTempDirectory("graft-ret-w").toString
    val ledger = new PartitionLedger(s"$wRoot/_state")
    new MinuteLakeWriter(wRoot, ledger, LakeLayout.DayWide(filesPerDay = 3))
      .writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 72))
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

    // hourly: per-symbol day-dir walk
    val hRoot = Files.createTempDirectory("graft-ret-h").toString
    hourlyLake(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 48), hRoot)
    val hDropped = Retention.dropLakeDaysBefore(spark, hRoot, cutoff)
    assert(hDropped.size == 2 && hDropped.forall(_.contains("day=15"))) // one per symbol
    val hr = new MinuteLakeReader(hRoot)
    assert(hr.scanSymbol(spark, "BBBUSDT").count() == 24 * 60)
  }

  test("wide scanSymbol pushes the symbol predicate into the parquet scan") {
    val syms = (0 until 8).map(i => f"SY${i}%02dUSDT")
    val wRoot = Files.createTempDirectory("graft-wide-plan").toString
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
    val wRoot = Files.createTempDirectory("graft-wide-cluster").toString
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
    // latest, so runIncrementalAll can finalize its trailing buckets.
    val wRoot = Files.createTempDirectory("graft-wide-idle").toString
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
    val wRoot = Files.createTempDirectory("graft-wide-delta").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 3))
    // base: 26h × 2 symbols, AAAUSDT carries a LIVE_ONLY coverage flag
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 26)
      .withColumn("has_depth", lit(true)))
    val before = baseFileSnapshot(wRoot)

    // patch: AAAUSDT's first hour, new opens, has_depth null in the patch
    val deltaDirs = w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    assert(deltaDirs.size == 1 && deltaDirs.head.contains("/_delta/"))
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
    val wRoot = Files.createTempDirectory("graft-wide-compact").toString
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
    assert(folded.size == 1 && folded.head.contains("/_delta/"))
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
    val wRoot = Files.createTempDirectory("graft-wide-reg").toString
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
    val wRoot = Files.createTempDirectory("graft-wide-policy").toString
    val w = new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    w.writeDaysWide(minutes(Seq("AAAUSDT", "BBBUSDT"), hours = 3))
    w.writeDeltaPatch(minutes(Seq("AAAUSDT"), hours = 1, openBase = 700.0))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(wRoot),
      spark.sparkContext.hadoopConfiguration)
    val deltaRoot = s"$wRoot/futures/um/minute/_delta"
    def deltaDays = fs.globStatus(new org.apache.hadoop.fs.Path(
      deltaRoot + "/year=*/month=*/day=*")).toSeq.map(_.getPath.toString)
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
    val wRoot = Files.createTempDirectory("graft-wide-hourapi").toString
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
      s"$wRoot/futures/um/minute/_delta/year=2026/month=01/day=16")))
    assert(r.scanSymbol(spark, "AAAUSDT").count() == 25 * 60) // 24h base + 1 new-day hour
  }

  test("QueryService.candleBars serves identical bars from hourly and wide lakes") {
    val syms = Seq("AAAUSDT", "BBBUSDT")
    val frame = minutes(syms, hours = 4)
    val hRoot = Files.createTempDirectory("graft-wide-svc-h").toString
    val wRoot = Files.createTempDirectory("graft-wide-svc-w").toString
    hourlyLake(frame, hRoot)
    new MinuteLakeWriter(wRoot, new PartitionLedger(s"$wRoot/_state"),
      LakeLayout.DayWide(filesPerDay = 4)).writeDaysWide(frame)
    val lo = Day1; val hi = instant("2026-01-15T03:59:00Z")
    def bars(root: String) = graft.service.QueryService
      .candleBars(spark, new MinuteLakeReader(root), "BBBUSDT", "15m", lo, hi, limit = 12)
      .orderBy("timestamp")
      .select(col("timestamp").cast("string"), col("open"), col("high"),
        col("low"), col("close"))
      .collect().map(_.toString).toSeq
    val h = bars(hRoot); val w = bars(wRoot)
    assert(h == w && h.size == 12, s"hourly=${h.size} wide=${w.size}")

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
    val hRoot = Files.createTempDirectory("graft-mig-src").toString
    val wRoot = Files.createTempDirectory("graft-mig-dst").toString
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
      sortedRows(new MinuteLakeReader(hRoot).readWindowAllSymbols(spark, lo, hi).get))
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
}
