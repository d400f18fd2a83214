package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MinuteBuilder
import graft.sources.{LakeLayout, MinuteLakeReader, MinuteLakeWriter, PartitionLedger, WatermarkStore}
import graft.validation.{DQValidator, DataQualityException, PartitionAudit}

/** Golden semantics ported from reference `tests/test_atomic_writer.py`
  * and `tests/test_partition_audit.py`. */
class LakeWriterSpec extends SparkSpec {
  import spark.implicits._

  private def canonicalRow(tsIso: String, open: Double,
                           extra: Map[String, Any] = Map.empty): DataFrame = {
    val base = Seq((ts(tsIso), open, open + 1.0, open - 1.0, open + 0.5,
      1.2, 120000.0, 10L, open + 0.1, open + 0.4, open, open + 0.2))
      .toDF("timestamp", "open", "high", "low", "close", "volume_btc",
        "volume_usdt", "trade_count", "mark_price_open", "mark_price_close",
        "index_price_open", "index_price_close")
    val withExtra = extra.foldLeft(base) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }
    MinuteBuilder.finalizeSchema(withExtra)
  }

  private def newLake(): (MinuteLakeWriter, MinuteLakeReader, String) = {
    val dir = tempDir("graft-lake").toString
    val ledger = new PartitionLedger(s"$dir/_state")
    (new MinuteLakeWriter(dir, ledger, LakeLayout.DayWide(filesPerDay = 4)),
      new MinuteLakeReader(dir), dir)
  }

  test("atomic write creates hive partition and ledger entry (test_atomic_writer.py:29-47)") {
    val (writer, reader, dir) = newLake()
    val out = writer.writeHourPartition("BTCUSDT", instant("2026-01-15T10:00:00Z"),
      canonicalRow("2026-01-15T10:00:00Z", 100.0))
    assert(out.endsWith("futures/um/minute/year=2026/month=01/day=15"))
    val ledger = new PartitionLedger(s"$dir/_state")
    val latest = ledger.latestPartition("BTCUSDT")
    assert(latest.isDefined && latest.get.rowCount == 1L)
    val back = reader.readWindow(spark, "BTCUSDT",
      instant("2026-01-15T10:00:00Z"), instant("2026-01-15T10:59:00Z"))
    assert(back.count() == 1)
    assert(back.select("open").head.getDouble(0) == 100.0)
  }

  test("merge keeps existing rows, last write wins per timestamp (test_atomic_writer.py:49-88)") {
    val (writer, reader, _) = newLake()
    val hour = instant("2026-01-15T10:00:00Z")
    writer.writeHourPartition("BTCUSDT", hour, canonicalRow("2026-01-15T10:00:00Z", 100.0))
    writer.writeHourPartition("BTCUSDT", hour, canonicalRow("2026-01-15T10:01:00Z", 101.0))
    writer.writeHourPartition("BTCUSDT", hour, canonicalRow("2026-01-15T10:00:00Z", 200.0))
    val rows = reader.readWindow(spark, "BTCUSDT", hour, instant("2026-01-15T10:59:00Z"))
      .orderBy("timestamp").select("open").collect().map(_.getDouble(0)).toSeq
    assert(rows == Seq(200.0, 101.0))
  }

  test("LIVE_ONLY columns survive a rewrite without live data (test_atomic_writer.py:90-136)") {
    val (writer, reader, _) = newLake()
    val hour = instant("2026-01-15T10:00:00Z")
    val tsMs = ms("2026-01-15T10:03:00Z")
    writer.writeHourPartition("BTCUSDT", hour,
      canonicalRow("2026-01-15T10:03:00Z", 100.0, Map(
        "has_ws_latency" -> true, "has_depth" -> true,
        "event_time" -> (tsMs + 10), "arrival_time" -> (tsMs + 30),
        "latency_engine" -> 20L, "latency_network" -> 21L,
        "update_id_start" -> 100L, "update_id_end" -> 110L,
        "price_impact_100k" -> 0.0002, "impact_fillable" -> true)))
    writer.writeHourPartition("BTCUSDT", hour,
      canonicalRow("2026-01-15T10:03:00Z", 101.0, Map(
        "has_ws_latency" -> false, "has_depth" -> false, "has_liq" -> false)))
    val r = reader.readWindow(spark, "BTCUSDT", hour, instant("2026-01-15T10:59:00Z"))
      .collect().head
    val cols = graft.schema.CanonicalSchema.columnNames
    def v(c: String): Any = r.get(cols.indexOf(c))
    assert(v("open") == 101.0)                       // new analytics win
    assert(v("has_ws_latency") == true)              // coverage flag OR-preserved
    assert(v("has_depth") == true)
    assert(v("event_time") == tsMs + 10)             // live values coalesced back
    assert(v("update_id_start") == 100L)
    assert(v("price_impact_100k") == 0.0002)
  }

  test("LIVE_ONLY columns a pending delta carries survive a writeDaysWide(merge = true) without live data") {
    val (writer, reader, _) = newLake()
    val hour = instant("2026-01-15T10:00:00Z")
    val tsMs = ms("2026-01-15T10:03:00Z")
    // the day's base has no live data; the live row lands as a delta
    writer.writeHourPartition("BTCUSDT", hour, canonicalRow("2026-01-15T10:03:00Z", 100.0))
    writer.writeHourPartition("BTCUSDT", hour,
      canonicalRow("2026-01-15T10:03:00Z", 101.0, Map(
        "has_ws_latency" -> true, "has_depth" -> true,
        "event_time" -> (tsMs + 10), "update_id_start" -> 100L, "update_id_end" -> 110L,
        "price_impact_100k" -> 0.0002)))
    writer.writeDaysWide(canonicalRow("2026-01-15T10:03:00Z", 102.0, Map(
        "has_ws_latency" -> false, "has_depth" -> false, "has_liq" -> false))
      .withColumn("symbol", lit("BTCUSDT")), merge = true)
    val r = reader.readWindow(spark, "BTCUSDT", hour, instant("2026-01-15T10:59:00Z"))
      .collect().head
    val cols = graft.schema.CanonicalSchema.columnNames
    def v(c: String): Any = r.get(cols.indexOf(c))
    assert(v("open") == 102.0)                       // the write wins
    assert(v("has_ws_latency") == true)              // the delta's flags OR-preserved
    assert(v("has_depth") == true)
    assert(v("event_time") == tsMs + 10)             // the delta's live values coalesced back
    assert(v("update_id_start") == 100L)
    assert(v("update_id_end") == 110L)
    assert(v("price_impact_100k") == 0.0002)
  }

  test("DQ validator rejects duplicate timestamps and hard-required nulls (dq.py:22-63)") {
    val dup = canonicalRow("2026-01-15T10:00:00Z", 100.0)
      .unionByName(canonicalRow("2026-01-15T10:00:00Z", 101.0))
    assertThrows[DataQualityException](DQValidator.validate(dup))

    val withNull = MinuteBuilder.finalizeSchema(
      canonicalRow("2026-01-15T10:00:00Z", 100.0).withColumn("open", lit(null).cast("double")))
    assertThrows[DataQualityException](DQValidator.validate(withNull))

    val ok = DQValidator.validate(canonicalRow("2026-01-15T10:00:00Z", 100.0))
    assert(ok.rowCount == 1)
  }

  test("partition audit detects gaps and duplicates (partition_audit.py:18-95)") {
    val frame = canonicalRow("2026-01-15T10:00:00Z", 100.0)
      .unionByName(canonicalRow("2026-01-15T10:02:00Z", 101.0))
    val report = PartitionAudit.audit(frame,
      instant("2026-01-15T10:00:00Z"), instant("2026-01-15T10:03:00Z"))
    assert(report.rowCount == 2 && report.expectedMinutes == 4)
    assert(report.missingMinutes == 2 && !report.ok)
  }

  test("watermark store round-trips and replaces atomically (state/store.py:46-75)") {
    val dir = tempDir("graft-wm").toString
    val wm = new WatermarkStore(dir)
    assert(wm.get("BTCUSDT").isEmpty)
    wm.set("BTCUSDT", instant("2026-01-15T10:00:00Z"))
    wm.set("ETHUSDT", instant("2026-01-15T11:00:00Z"))
    wm.set("BTCUSDT", instant("2026-01-15T12:00:00Z"))
    assert(wm.get("BTCUSDT").contains(instant("2026-01-15T12:00:00Z")))
    assert(wm.get("ETHUSDT").contains(instant("2026-01-15T11:00:00Z")))
  }

  test("retention drops day partitions older than cutoff (websocket.py:798-899)") {
    val dir = tempDir("graft-ret").toString
    for (d <- Seq("2026-01-10", "2026-01-14", "2026-01-15")) {
      Seq((1L, d)).toDF("event_id", "d")
        .write.mode("overwrite").parquet(s"$dir/day=$d")
    }
    val dropped = graft.sources.Retention.dropDayPartitionsBefore(
      spark, dir, "day", instant("2026-01-14T06:00:00Z"))
    assert(dropped == Seq("2026-01-10"))
    assert(new java.io.File(s"$dir/day=2026-01-14").exists())
    assert(!new java.io.File(s"$dir/day=2026-01-10").exists())
  }

  test("small-file compaction: file count drops, content unchanged, healthy partitions untouched (cli/app.py:180-222 VACUUM analogue)") {
    val dir = tempDir("graft-compact").toString
    // a micro-batch-accreted partition: 6 tiny files
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"e$i", 100.0 + i)).toDF("event_id", "kind", "px")
        .coalesce(1).write.mode("append").parquet(s"$dir/day=2026-01-10")
    }
    // an already-compacted partition: 1 file, must not be rewritten
    (1 to 3).map(i => (100L + i, "x", 1.0)).toDF("event_id", "kind", "px")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/day=2026-01-11")

    def parquetFiles(day: String) =
      new java.io.File(s"$dir/day=$day").listFiles
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    def contentHash(day: String) =
      spark.read.parquet(s"$dir/day=$day").collect()
        .map(_.toString).sorted.mkString("|").hashCode
    assert(parquetFiles("2026-01-10").length == 6)
    val before10 = contentHash("2026-01-10")
    val singleFile11 = parquetFiles("2026-01-11").head.getName

    // big-file guard first: with a 1-byte threshold no file qualifies as
    // small, so even the 6-file partition must be skipped
    assert(graft.sources.Retention.compactDayPartitions(
      spark, dir, "day", smallFileBytes = 1L).isEmpty)
    assert(parquetFiles("2026-01-10").length == 6)

    val done = graft.sources.Retention.compactDayPartitions(
      spark, dir, "day", smallFileBytes = 32L * 1024 * 1024)
    assert(done.map(_.partition) == Seq("2026-01-10"))
    assert(done.head.filesBefore == 6 && done.head.filesAfter == 1
      && done.head.rows == 6L)
    assert(parquetFiles("2026-01-10").length == 1)
    assert(contentHash("2026-01-10") == before10) // rows byte-for-byte same
    // untouched partition keeps its very same file; tmp dir cleaned up
    assert(parquetFiles("2026-01-11").head.getName == singleFile11)
    assert(!new java.io.File(s"$dir/.compact_tmp").exists())
    // second run: nothing left to do
    assert(graft.sources.Retention.compactDayPartitions(spark, dir, "day").isEmpty)
  }

  test("ledger compaction: last-wins snapshot, identical reads, appends keep working") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = tempDir("graft-ledger-compact").toString
    val ledger = new PartitionLedger(dir)
    def entry(sym: String, hour: Int, n: Long, status: String = "COMMITTED") =
      graft.sources.PartitionLedgerEntry(sym, "2026-01-10", hour, s"$dir/p",
        n, "a", "b", "h", status, "t")
    // 30 keys × many superseding upserts + status flips
    for (round <- 1 to 20; h <- 0 until 30)
      ledger.upsert(entry(s"S${h % 3}", h, round.toLong,
        if (round == 20 && h == 0) "DROPPED" else "COMMITTED"))
    val logPath = Paths.get(dir, "partition_ledger.jsonl")
    val before = ledger.all().sortBy(e => (e.symbol, e.day, e.hour))
    assert(JFiles.readAllLines(logPath).size == 600)

    assert(ledger.compact() == before.size)
    assert(JFiles.readAllLines(logPath).size == before.size,
      "log rewritten as the live snapshot")
    assert(ledger.all().sortBy(e => (e.symbol, e.day, e.hour)) == before,
      "reads identical across the compaction")
    // tombstone survived, appends still work, fresh instance agrees
    assert(ledger.all().count(_.status == "DROPPED") == 1)
    ledger.upsert(entry("S0", 0, 99L))
    assert(new PartitionLedger(dir).all()
      .exists(e => e.symbol == "S0" && e.hour == 0 &&
        e.rowCount == 99L && e.status == "COMMITTED"))
    // size trigger: tiny threshold compacts, generous one is a no-op
    assert(ledger.compactIfLarge(maxBytes = 1L))
    assert(!ledger.compactIfLarge(maxBytes = 1L << 30))
  }

  test("ledger version log: superseded lines visible until compaction; droppedThrough marks the hole (r16)") {
    val dir = tempDir("graft-ledger-versions").toString
    val ledger = new PartitionLedger(dir)
    def entry(n: Long, at: String, pmin: String) =
      graft.sources.PartitionLedgerEntry("__ALL__", "2026-01-10", -1, s"$dir/p",
        n, "2026-01-10 00:00:00", "2026-01-10 23:59:00", "h", "COMMITTED",
        at, "c" + n, patchMinTs = pmin, patchMaxTs = pmin)
    // two writes to the SAME key: the change log must show both patch
    // ranges (the deduped view keeps only the second)
    ledger.upsert(entry(1, "2026-01-10T10:00:00Z", "2026-01-10 00:04:00"))
    ledger.upsert(entry(2, "2026-01-10T11:00:00Z", "2026-01-10 16:40:00"))
    assert(ledger.allVersions().size == 2 && ledger.all().size == 1)
    assert(ledger.all().head.patchMinTs == "2026-01-10 16:40:00")
    assert(ledger.allVersions().map(_.patchMinTs).toSet ==
      Set("2026-01-10 00:04:00", "2026-01-10 16:40:00"))
    assert(ledger.droppedThrough().isEmpty)
    // compaction drops the superseded line and records its stamp
    assert(ledger.compact() == 1)
    assert(ledger.allVersions().size == 1)
    assert(ledger.droppedThrough().contains(
      java.time.Instant.parse("2026-01-10T10:00:00Z")))
    // the mark is monotone: a later compaction dropping an older line
    // never moves it backward
    ledger.upsert(entry(3, "2026-01-10T12:00:00Z", "2026-01-10 17:00:00"))
    ledger.compact()
    assert(ledger.droppedThrough().contains(
      java.time.Instant.parse("2026-01-10T11:00:00Z")))
  }

  test("compaction crash recovery: every crash window keeps one complete copy; reader sees old or new, never a mix (ADVICE r7)") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    def mkPartition(dir: String): Unit = (1 to 6).foreach { i =>
      Seq((i.toLong, 100.0 + i)).toDF("event_id", "px")
        .coalesce(1).write.mode("append").parquet(s"$dir/day=2026-01-10")
    }
    def rowsOf(dir: String): Seq[Long] =
      spark.read.parquet(s"$dir/day=2026-01-10").collect()
        .map(_.getLong(0)).sorted.toSeq
    def moveDir(from: String, to: String): Unit = {
      JFiles.createDirectories(Paths.get(to).getParent)
      JFiles.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    }
    def bogusTmp(dir: String): Unit =
      Seq((99L, 0.0)).toDF("event_id", "px")
        .coalesce(1).write.parquet(s"$dir/.compact_tmp/day=2026-01-10")
    def scratchGone(dir: String): Unit = {
      assert(!new java.io.File(s"$dir/.compact_tmp").exists())
      assert(!new java.io.File(s"$dir/.compact_old").exists())
    }

    // window 1 — crash BEFORE the swap: original live + stale tmp with
    // divergent content. The stale tmp must be discarded, never promoted.
    val d1 = tempDir("graft-crash1").toString
    mkPartition(d1); bogusTmp(d1)
    val done1 = graft.sources.Retention.compactDayPartitions(spark, d1, "day")
    assert(rowsOf(d1) == (1L to 6L)) // original content survived (and compacted)
    assert(done1.map(_.rows) == Seq(6L)); scratchGone(d1)

    // window 2 — crash BETWEEN the renames: partition dir missing, the
    // only original copy sits under .compact_old, a verified tmp exists.
    // Recovery must restore the ORIGINAL (the pre-fix code deleted it).
    val d2 = tempDir("graft-crash2").toString
    mkPartition(d2)
    moveDir(s"$d2/day=2026-01-10", s"$d2/.compact_old/day=2026-01-10")
    bogusTmp(d2)
    assert(!new java.io.File(s"$d2/day=2026-01-10").exists())
    graft.sources.Retention.compactDayPartitions(spark, d2, "day")
    assert(rowsOf(d2) == (1L to 6L)); scratchGone(d2)

    // window 3 — crash AFTER the promote, before the old copy is
    // dropped: the live dir already holds ONLY new files (the swap is a
    // dir rename, so a reader never observes an old/new mix). Recovery
    // just drops the leftover old copy.
    val d3 = tempDir("graft-crash3").toString
    mkPartition(d3)
    moveDir(s"$d3/day=2026-01-10", s"$d3/.compact_old/day=2026-01-10")
    spark.read.parquet(s"$d3/.compact_old/day=2026-01-10").coalesce(1)
      .write.parquet(s"$d3/day=2026-01-10") // the promoted tmp
    val liveFiles = new java.io.File(s"$d3/day=2026-01-10").listFiles
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(liveFiles == 1) // all-new, no mix
    graft.sources.Retention.compactDayPartitions(spark, d3, "day")
    assert(rowsOf(d3) == (1L to 6L)); scratchGone(d3)

    // window 4 (defensive) — partition AND .compact_old both gone, the
    // verified tmp is the sole complete copy: it must be promoted.
    val d4 = tempDir("graft-crash4").toString
    mkPartition(d4)
    moveDir(s"$d4/day=2026-01-10", s"$d4/.compact_tmp/day=2026-01-10")
    graft.sources.Retention.compactDayPartitions(spark, d4, "day")
    assert(rowsOf(d4) == (1L to 6L)); scratchGone(d4)

    // a reader opened across the swap resolves files at action time:
    // re-running an aggregation over the same lazy frame after a
    // compaction returns identical results
    val d5 = tempDir("graft-crash5").toString
    mkPartition(d5)
    val lazyReader = spark.read.parquet(s"$d5/day=2026-01-10")
    assert(lazyReader.agg(sum("event_id")).head.getLong(0) == 21L)
    graft.sources.Retention.compactDayPartitions(spark, d5, "day")
    assert(spark.read.parquet(s"$d5/day=2026-01-10")
      .agg(sum("event_id")).head.getLong(0) == 21L)
  }

  test("ledger records content hash at commit; audit detects tamper (atomic.py:47,108-114)") {
    val (writer, _, dir) = newLake()
    val out = writer.writeHourPartition("BTCUSDT", instant("2026-01-15T10:00:00Z"),
      canonicalRow("2026-01-15T10:00:00Z", 100.0))
    writer.writeHourPartition("BTCUSDT", instant("2026-01-15T11:00:00Z"),
      canonicalRow("2026-01-15T11:00:00Z", 101.0))

    // the day's base row carries the content hash (the hour rows are
    // bookkeeping); the second hour of the day landed as a delta
    val ledger = new PartitionLedger(s"$dir/_state")
    val latest = ledger.all().find(e => e.symbol == "__ALL__" && e.day == "2026-01-15")
    assert(latest.isDefined && latest.get.contentHash.length == 64) // hex sha-256

    // pristine lake: every partition (base day + delta day) audits ok
    val clean = writer.auditPartitions(spark)
    assert(clean.size == 2 && clean.forall(_.ok))

    // a rewrite through the writer keeps the ledger hash current
    writer.writeHourPartition("BTCUSDT", instant("2026-01-15T10:00:00Z"),
      canonicalRow("2026-01-15T10:01:00Z", 200.0))
    assert(writer.auditPartitions(spark).forall(_.ok))

    // out-of-band tamper with the parquet bytes → hash_mismatch. The
    // local-FS .crc sidecars are dropped so the read surfaces the
    // modified bytes (a consistent tamperer rewrites those too; if they
    // don't, Hadoop's checksum layer throws and audit says "unreadable").
    val part = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .head
    val raw = Files.readAllBytes(part.toPath)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x7f).toByte
    Files.write(part.toPath, raw)
    new java.io.File(out).listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(_.delete())
    val tampered = writer.auditPartitions(spark)
    assert(tampered.count(_.issue == "hash_mismatch") == 1)
    assert(tampered.find(_.issue == "hash_mismatch").get.hour == -1) // base day

    // a deleted partition directory → missing_partition
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec)); f.delete(); ()
    }
    deleteRec(new java.io.File(out))
    assert(writer.auditPartitions(spark)
      .exists(r => r.hour == -1 && r.issue == "missing_partition"))
  }
}
