package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MinuteBuilder
import graft.sources._

/** The object-store commit seam, pinned executable (VERDICT r14 #1):
  * a write+crash+read matrix over [[NonAtomicRenameFs]] — directory
  * rename is copy-then-delete with a crash hook, single-object PUT is
  * atomic — showing
  *
  *  1. the motivating tear: [[RenameCommit]] crashed mid-promote on
  *     the non-atomic FS exposes a PARTIAL partition to readers;
  *  2. [[ManifestCommit]] under the SAME crashes serves a complete old
  *     or complete new version at every crash point — never a subset —
  *     and a retried publish completes the swap;
  *  3. both implementations behind the one writer: writeHourPartition
  *     create+merge roundtrips unchanged through [[ManifestCommit]];
  *  4. the state-plane seam: WatermarkStore setAll/read through both.
  */
class CommitSeamSpec extends SparkSpec {
  import spark.implicits._

  private def crashyFs(): NonAtomicRenameFs = {
    val fs = new NonAtomicRenameFs
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  private def localFs(): FileSystem =
    FileSystem.get(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)

  /** Stage a 2-part parquet version into a fresh tmp dir. */
  private def stage(root: String, values: Seq[Int]): String = {
    val tmp = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // range partitioning: deterministic row→part placement, so crash
    // points map to stable observed subsets
    values.toDF("v").repartitionByRange(2, col("v")).write.parquet(tmp)
    tmp
  }

  private def readVia(c: CommitProtocol, fs: FileSystem, dest: String): Option[Seq[Int]] =
    c.resolve(fs, dest).map { d =>
      spark.read.parquet(d).select("v").collect().map(_.getInt(0)).toSeq.sorted
    }

  test("rename commit roundtrips create + replace on an atomic-rename FS") {
    val root = Files.createTempDirectory("graft-seam").toString
    val fs = localFs()
    val dest = s"$root/data/part=a"
    RenameCommit.publish(fs, stage(root, Seq(1, 2, 3)), dest)
    assert(readVia(RenameCommit, fs, dest).contains(Seq(1, 2, 3)))
    RenameCommit.publish(fs, stage(root, Seq(7, 8)), dest)
    assert(readVia(RenameCommit, fs, dest).contains(Seq(7, 8)))
    // no aside/tmp leftovers after a clean replace
    assert(!fs.listStatus(new HPath(s"$root/.tmp")).exists(_.getPath.getName.endsWith(".aside")))
  }

  /** Physical file count as the COPY LOOP sees it — through the raw
    * FS, which lists the `.crc` siblings LocalFileSystem hides. */
  private def rawFiles(fs: FileSystem, dir: String): Int =
    fs.listStatus(new HPath(dir)).count(_.isFile)

  test("motivating tear: rename commit on a non-atomic FS exposes a partial partition") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    RenameCommit.publish(localFs(), stage(root, Seq(1, 2, 3)), dest)

    val fs = crashyFs()
    val v1Raw = rawFiles(fs, dest)
    val tmp2 = stage(root, Seq(7, 8))
    val v2Raw = rawFiles(fs, tmp2)
    // the aside rename copies all of v1 (v1Raw files); crash mid-promote
    // with all of v2 EXCEPT its lexicographically-last file — a data
    // part — already landed in dest
    intercept[InjectedCrash] {
      RenameCommit.publish(fs.armed(afterCopies = v1Raw + v2Raw - 1), tmp2, dest)
    }
    val seen = readVia(RenameCommit, localFs(), dest)
    assert(seen.isDefined, "dest exists — and is torn")
    val rows = seen.get
    assert(rows != Seq(1, 2, 3) && rows != Seq(7, 8) &&
      rows.toSet.subsetOf(Set(7, 8)),
      s"reader observed a strict subset of v2: $rows — the tear ManifestCommit closes")
  }

  // grace 0: superseded versions are swept on the next publish — the
  // aggressive end of the time-based window, used where the tests
  // assert GC actually collects
  private def gc0 = new ManifestCommit(0L)

  test("manifest commit: complete old or complete new at EVERY crash point, then retry completes") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    val fsClean = crashyFs()
    val mc = gc0
    mc.publish(fsClean, stage(root, Seq(1, 2, 3)), dest)
    assert(readVia(mc, fsClean, dest).contains(Seq(1, 2, 3)))

    val v2 = Seq(7, 8)
    val nFiles = {
      val t = stage(root, v2)
      val n = rawFiles(fsClean, t)
      localFs().delete(new HPath(t), true)
      n
    }
    // crash during every prefix of the version-dir materialization,
    // plus the copied-but-not-deleted window
    (0 until nFiles).foreach { k =>
      val fs = crashyFs().armed(afterCopies = k)
      intercept[InjectedCrash] { mc.publish(fs, stage(root, v2), dest) }
      assert(readVia(mc, localFs(), dest).contains(Seq(1, 2, 3)),
        s"crash after $k copies must leave v1 in force")
    }
    locally {
      val fs = crashyFs().armed(beforeDelete = true)
      intercept[InjectedCrash] { mc.publish(fs, stage(root, v2), dest) }
      assert(readVia(mc, localFs(), dest).contains(Seq(1, 2, 3)),
        "crash before tmp delete: manifest not yet swapped, v1 in force")
    }
    // retried publish completes; crash-leftover version dirs are GC'd
    // down to the live one (grace 0 sweeps superseded immediately)
    mc.publish(crashyFs(), stage(root, v2), dest)
    assert(readVia(mc, localFs(), dest).contains(Seq(7, 8)))
    mc.publish(crashyFs(), stage(root, Seq(9)), dest)
    assert(readVia(mc, localFs(), dest).contains(Seq(9)))
    def versions = localFs().listStatus(new HPath(dest))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
    assert(versions.length <= 1, s"grace-0 GC keeps live only, saw ${versions.length}")

    // crash AFTER the manifest PUT (commit done, GC lost): readers are
    // already on the new version — stale version dirs are garbage the
    // NEXT publish sweeps
    localFs().mkdirs(new HPath(dest, ".v_deadbeefcrashleftover1"))
    localFs().mkdirs(new HPath(dest, ".v_deadbeefcrashleftover2"))
    assert(readVia(mc, localFs(), dest).contains(Seq(9)),
      "stale versions are invisible to readers")
    mc.publish(crashyFs(), stage(root, Seq(4, 5)), dest)
    assert(readVia(mc, localFs(), dest).contains(Seq(4, 5)))
    assert(versions.length <= 1 &&
      !versions.exists(_.getPath.getName.contains("deadbeef")),
      "post-PUT crash leftovers swept by the next publish")
  }

  test("grace window (r15 #2): a reader holding version N survives two publishes") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    val fs = localFs()
    // ManifestCommit's default grace is one hour — far beyond any scan
    // this test runs, so superseded versions must remain readable
    ManifestCommit.publish(fs, stage(root, Seq(1, 2)), dest)
    val held = ManifestCommit.resolve(fs, dest).get
    ManifestCommit.publish(fs, stage(root, Seq(3)), dest)
    ManifestCommit.publish(fs, stage(root, Seq(4)), dest)
    // the in-flight reader finishes its scan on the path it resolved
    assert(spark.read.parquet(held).select("v").collect()
      .map(_.getInt(0)).toSeq.sorted == Seq(1, 2),
      "version N torn out from under a reader inside the grace window")
    assert(readVia(ManifestCommit, fs, dest).contains(Seq(4)))
    val versions = fs.listStatus(new HPath(dest))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
    assert(versions.length == 3, "live + two superseded-in-grace versions")
    // supersession clock starts at REPLACEMENT, not creation: the same
    // choreography at grace 0 sweeps both superseded versions
    val dest0 = s"$root/data/part=b"
    val mc = gc0
    mc.publish(fs, stage(root, Seq(1, 2)), dest0)
    Thread.sleep(5)
    mc.publish(fs, stage(root, Seq(3)), dest0)
    Thread.sleep(5)
    mc.publish(fs, stage(root, Seq(4)), dest0)
    val versions0 = fs.listStatus(new HPath(dest0))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
    assert(versions0.length == 1, "grace 0 keeps live only")
    // superseded manifest FILES are pruned once their successor has
    // outlived the grace window (the newest and its fresh predecessor
    // may remain)
    val manifests0 = fs.listStatus(new HPath(dest0))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST"))
    assert(manifests0.length <= 2,
      s"grace-0 manifest GC left ${manifests0.length} files")
  }

  test("manifest PUT crash windows: the live pointer is never torn or zeroed") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    val mc = gc0
    mc.publish(localFs(), stage(root, Seq(1, 2, 3)), dest)

    // crash MID-CREATE of the next manifest file: a zero-length
    // `_MANIFEST.<seq>` artifact is left behind — readers must skip it
    // (no completeness sentinel) and stay on the previous sequence.
    // This is exactly the window where the r15 in-place
    // create(overwrite) would have truncated the LIVE pointer.
    val fs1 = crashyFs().armed(onCreateContaining = Some("_MANIFEST."))
    intercept[InjectedCrash] { mc.publish(fs1, stage(root, Seq(7, 8)), dest) }
    assert(readVia(mc, localFs(), dest).contains(Seq(1, 2, 3)),
      "crash mid-manifest-create must leave v1 in force")

    // the retry never collides with the crash artifact's sequence and
    // completes the swap; the crashed attempt's orphan version dir and
    // superseded versions are swept (grace 0)
    mc.publish(crashyFs(), stage(root, Seq(7, 8)), dest)
    assert(readVia(mc, localFs(), dest).contains(Seq(7, 8)))
    Thread.sleep(5)
    mc.publish(crashyFs(), stage(root, Seq(9)), dest)
    assert(readVia(mc, localFs(), dest).contains(Seq(9)))
    val versions = localFs().listStatus(new HPath(dest))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
    assert(versions.length == 1, "orphans + superseded swept at grace 0")
  }

  test("corrupt manifest: readers see nothing-published; GC refuses to sweep") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    val fs = localFs()
    val mc = gc0
    mc.publish(fs, stage(root, Seq(1, 2)), dest)
    val v1Dir = mc.resolve(fs, dest).get
    // externally zero EVERY manifest (our writer can no longer produce
    // this — manifests are create-once under fresh names)
    fs.listStatus(new HPath(dest))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST"))
      .foreach(s => fs.create(s.getPath, true).close())
    assert(mc.resolve(fs, dest).isEmpty, "corrupt manifests read as nothing-published")
    // the next publish recovers the pointer but must NOT GC versions it
    // can no longer account for — v1's data dir survives for manual
    // repoint instead of being silently destroyed
    mc.publish(fs, stage(root, Seq(5)), dest)
    assert(readVia(mc, fs, dest).contains(Seq(5)))
    assert(fs.exists(new HPath(v1Dir)),
      "GC after corrupt manifests must not sweep unaccounted versions")
  }

  test("old single-line manifest bodies still resolve (format compatibility)") {
    val root = Files.createTempDirectory("graft-seam").toString
    val dest = s"$root/data/part=a"
    val fs = localFs()
    ManifestCommit.publish(fs, stage(root, Seq(1, 2)), dest)
    val liveName = ManifestCommit.resolve(fs, dest).get.split('/').last
    // rewrite the pointer in the r15 single-file single-line format
    // (bare `_MANIFEST`, no sentinel, no history) and drop the
    // versioned manifests — an r15-written lake looks exactly like this
    fs.listStatus(new HPath(dest))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST."))
      .foreach(s => fs.delete(s.getPath, false))
    val out = fs.create(new HPath(dest, "_MANIFEST"), true)
    out.write(liveName.getBytes("UTF-8")); out.close()
    assert(readVia(ManifestCommit, fs, dest).contains(Seq(1, 2)))
    ManifestCommit.publish(fs, stage(root, Seq(3)), dest)
    assert(readVia(ManifestCommit, fs, dest).contains(Seq(3)))
  }

  private def canonical(tsIso: String, open: Double): DataFrame =
    MinuteBuilder.finalizeSchema(
      Seq((ts(tsIso), open, open + 1.0, open - 1.0, open + 0.5,
        1.2, 120000.0, 10L, open + 0.1, open + 0.4, open, open + 0.2))
        .toDF("timestamp", "open", "high", "low", "close", "volume_btc",
          "volume_usdt", "trade_count", "mark_price_open", "mark_price_close",
          "index_price_open", "index_price_close"))

  test("writeHourPartition create + merge roundtrips through ManifestCommit") {
    val dir = Files.createTempDirectory("graft-seam-lake").toString
    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.HourlySymbol, ManifestCommit)
    val fs = localFs()
    val hour = instant("2024-03-01T10:00:00Z")
    val p1 = writer.writeHourPartition("BTCUSDT", hour, canonical("2024-03-01T10:00:00Z", 100.0))
    // second write into the SAME partition must merge with the
    // manifest-resolved existing version (last-wins on timestamp)
    writer.writeHourPartition("BTCUSDT", hour,
      canonical("2024-03-01T10:00:00Z", 200.0)
        .unionByName(canonical("2024-03-01T10:01:00Z", 101.0)))
    val live = writer.resolvePartitionDir(fs, p1)
    assert(live.isDefined && live.get != p1, "reader path goes through the manifest")
    val rows = spark.read.parquet(live.get)
      .select("timestamp", "open").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getDouble(1))).sorted
    assert(rows.toSeq == Seq(("2024-03-01T10:00:00Z", 200.0), ("2024-03-01T10:01:00Z", 101.0)))
  }

  test("hourly lake written AND read under ManifestCommit round-trips (r15 #1)") {
    val dir = Files.createTempDirectory("graft-seam-rt").toString
    val writer = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.HourlySymbol, ManifestCommit)
    val h10 = instant("2024-03-01T10:00:00Z")
    val h11 = instant("2024-03-01T11:00:00Z")
    writer.writeHourPartition("BTCUSDT", h10,
      canonical("2024-03-01T10:00:00Z", 100.0)
        .unionByName(canonical("2024-03-01T10:01:00Z", 101.0)))
    writer.writeHourPartition("BTCUSDT", h11, canonical("2024-03-01T11:00:00Z", 110.0))
    writer.writeHourPartition("ETHUSDT", h10, canonical("2024-03-01T10:00:00Z", 50.0))
    // merge into an existing pointer-committed partition (last-wins)
    writer.writeHourPartition("BTCUSDT", h10, canonical("2024-03-01T10:01:00Z", 201.0))

    // the motivating gap: a NON-resolving reader over this lake sees no
    // visible files at all (the live versions are dot-prefixed)
    val naive = new MinuteLakeReader(dir)
    intercept[Exception] {
      naive.readWindow(spark, "BTCUSDT", h10, instant("2024-03-01T11:59:00Z")).collect()
    }

    val reader = new MinuteLakeReader(dir, committer = ManifestCommit)
    val win = reader.readWindow(spark, "BTCUSDT", h10, instant("2024-03-01T11:59:00Z"))
      .select("timestamp", "open").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getDouble(1))).sorted.toSeq
    assert(win == Seq(("2024-03-01T10:00:00Z", 100.0),
      ("2024-03-01T10:01:00Z", 201.0), ("2024-03-01T11:00:00Z", 110.0)),
      s"windowed read through the manifest, merged last-wins: $win")

    // every hourly read path resolves: latest, min/max, available
    // minutes, all-symbols window, all-symbols latest, change snapshot
    assert(reader.latestMinute(spark, "BTCUSDT")
      .contains(instant("2024-03-01T11:00:00Z")))
    assert(reader.inspectRange(spark, "ETHUSDT") ==
      (Some(instant("2024-03-01T10:00:00Z")), Some(instant("2024-03-01T10:00:00Z"))))
    assert(reader.scanAvailableMinutes(spark, "BTCUSDT").count() == 3)
    val all = reader.readWindowAllSymbols(spark, h10, instant("2024-03-01T11:59:00Z"))
      .get.groupBy("symbol").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("BTCUSDT" -> 3L, "ETHUSDT" -> 1L),
      s"all-symbols window resolves partition columns through .v_ paths: $all")
    assert(reader.latestMinuteAllSymbols(spark) ==
      Map("BTCUSDT" -> instant("2024-03-01T11:00:00Z"),
          "ETHUSDT" -> instant("2024-03-01T10:00:00Z")))
    assert(reader.partitionDirectories(spark, "BTCUSDT").size == 2)

    // a reader that resolved BEFORE a repair keeps a complete view
    // (grace window), and re-resolving sees the repair
    val fs = localFs()
    val held = writer.resolvePartitionDir(fs,
      writer.partitionDir("BTCUSDT", h10)).get
    writer.writeHourPartition("BTCUSDT", h10, canonical("2024-03-01T10:02:00Z", 300.0))
    assert(spark.read.parquet(held).count() == 2,
      "superseded version stays complete for in-flight readers")
    assert(reader.readWindow(spark, "BTCUSDT", h10,
      instant("2024-03-01T10:59:00Z")).count() == 3)
  }

  test("HTF aggregation lifecycle round-trips under ManifestCommit (hourly tree)") {
    import graft.operators.AggregatorRunner
    import graft.operators.AggregatorRunner.AggregatorStateStore
    import graft.schema.Timeframes

    def canonicalMinutes(startIso: String, n: Int) = {
      val start = instant(startIso)
      val rows = (0 until n).map { i =>
        (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
          100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 1.0, 100000.0)
      }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
      MinuteBuilder.finalizeSchema(rows
        .withColumn("trade_count", lit(10L))
        .withColumn("mark_price_open", lit(100.0))
        .withColumn("mark_price_close", lit(100.5))
        .withColumn("index_price_open", lit(100.0))
        .withColumn("index_price_close", lit(100.4)))
    }

    val dir = Files.createTempDirectory("graft-seam-htf").toString
    val mw = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.HourlySymbol, ManifestCommit)
    val reader = new MinuteLakeReader(dir, committer = ManifestCommit)
    val hw = new HtfLakeWriter(s"$dir/htf", LakeLayout.HourlySymbol, ManifestCommit)
    val state = new AggregatorStateStore(s"$dir/_aggstate", ManifestCommit)
    val spec5m = Timeframes.parse("5m")

    // 14 minutes → two complete 5m buckets; backfill writes them
    // through the committer (bulk path routes per-day via the pointer)
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:00:00Z", 14))
    val res = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", spec5m)
    assert(res.bucketsScanned == 2 && res.bucketsWritten == 2)

    // the HTF index resolves through the manifest leaves
    val symDir = s"$dir/htf/timeframe=5m/symbol=BTCUSDT"
    val leaves = ResolvedScan.resolvedLeaves(localFs(), symDir, ManifestCommit)
    val idx = spark.read.option("basePath", symDir).parquet(leaves: _*)
      .orderBy("bucket_start").select("bucket_start", "bucket_complete").collect()
    assert(idx.map(_.getTimestamp(0).toInstant).toSeq ==
      Seq(instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:05:00Z")))
    assert(idx.forall(_.getBoolean(1)))

    // idempotent second backfill: nothing new
    val res2 = AggregatorRunner.runBackfillAll(spark, reader, hw, state,
      s"$dir/htf", spec5m)
    assert(res2.bucketsScanned == 0 && res2.bucketsWritten == 0)

    // incremental completes the third bucket as its minute arrives
    mw.writeHourPartition("BTCUSDT", instant("2026-01-01T00:00:00Z"),
      canonicalMinutes("2026-01-01T00:14:00Z", 6))
    def tick() = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", Seq(spec5m)).head._2
    val inc = tick()
    assert(inc.bucketsWritten >= 1)

    // no-news tick: write-skip parity through resolved window reads
    val inc2 = tick()
    assert(inc2.bucketsWritten == 0, "unchanged buckets must not rewrite")

    // the HTF reader serves the buckets through the pointers
    val served = new HtfLakeReader(s"$dir/htf", ManifestCommit)
      .readWindow(spark, "5m", "BTCUSDT",
        instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:19:00Z")).get
    // 20 minutes of source → four complete 5m buckets
    assert(served.count() == 4 &&
      served.where(col("bucket_complete")).count() == 4)
  }

  test("putState replace is never read torn — concurrent-read matrix (r15 #7)") {
    Seq(RenameCommit: CommitProtocol, ManifestCommit).foreach { c =>
      val dir = Files.createTempDirectory("graft-seam-put")
      val f = dir.resolve("state.json")
      val a = ("{" + Seq.fill(200)("\"ka\":\"va\"").mkString(",") + "}").getBytes("UTF-8")
      val b = ("{" + Seq.fill(200)("\"kb\":\"vb\"").mkString(",") + "}").getBytes("UTF-8")
      c.putState(f, a)
      val torn = new java.util.concurrent.atomic.AtomicInteger(0)
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var stop = false
      val readerT = new Thread(() => {
        while (!stop) {
          try {
            val bytes = java.nio.file.Files.readAllBytes(f)
            reads.incrementAndGet()
            if (!java.util.Arrays.equals(bytes, a) &&
                !java.util.Arrays.equals(bytes, b)) torn.incrementAndGet()
          } catch { case _: java.io.IOException => torn.incrementAndGet() }
        }
      })
      readerT.start()
      (0 until 400).foreach(i => c.putState(f, if (i % 2 == 0) b else a))
      stop = true
      readerT.join()
      assert(reads.get() > 0, "reader never observed the file")
      assert(torn.get() == 0,
        s"${c.getClass.getSimpleName}: ${torn.get()} torn reads of ${reads.get()}")
    }
  }

  test("state-plane seam: WatermarkStore roundtrips through both committers") {
    Seq(RenameCommit: CommitProtocol, ManifestCommit).foreach { c =>
      val dir = Files.createTempDirectory("graft-seam-state").toString
      val store = new WatermarkStore(dir, c)
      store.setAll(Map("BTCUSDT" -> instant("2024-03-01T10:59:00Z")))
      store.setAll(Map("ETHUSDT" -> instant("2024-03-01T11:30:00Z"),
        "BTCUSDT" -> instant("2024-03-01T11:59:00Z")))
      assert(store.get("BTCUSDT").contains(instant("2024-03-01T11:59:00Z")))
      assert(store.get("ETHUSDT").contains(instant("2024-03-01T11:30:00Z")))
    }
  }

  test("rebuildSymbolRegistry resolves manifest leaves (r16 #3): heals from live versions, never stale plain prefixes") {
    val root = Files.createTempDirectory("graft-seam-rebuild").toString
    val w = new MinuteLakeWriter(root, new PartitionLedger(s"$root/_state"),
      LakeLayout.DayWide(filesPerDay = 2), ManifestCommit)
    def sym(s: String, tsIso: String, open: Double) =
      canonical(tsIso, open).withColumn("symbol", lit(s))
    // bulk write lands PLAIN (Hadoop committer): symbols AAA + CCC
    w.writeDaysWide(sym("AAAUSDT", "2026-01-10T00:00:00Z", 100.0)
      .unionByName(sym("CCCUSDT", "2026-01-10T00:01:00Z", 300.0)))
    val fs = localFs()
    val lakeDir = s"$root/futures/um/minute"
    val dayDir = DayDirs.ascending(fs, lakeDir).head
    // a committer-routed day rewrite (the Retention/compaction shape)
    // publishes NEW live content — AAA + BBB; CCC is delisted — behind
    // the manifest pointer, over the NON-ATOMIC rename FS. The stale
    // plain files (still naming CCC) remain beside the manifest.
    val tmp = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    sym("AAAUSDT", "2026-01-10T00:00:00Z", 100.0)
      .unionByName(sym("BBBUSDT", "2026-01-10T00:02:00Z", 200.0))
      .write.parquet(tmp)
    ManifestCommit.publish(crashyFs(), tmp, dayDir)
    // tear the registry (the healing verb's trigger)
    val reg = new HPath(s"$lakeDir/${MinuteLakeWriter.SymbolsRegistry}")
    val out = fs.create(reg, true)
    try out.write("""["AAAUSDT","CC""".getBytes("UTF-8")) finally out.close()
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir).isEmpty)
    // heal: must read THROUGH the manifest — exactly the live symbols,
    // not the stale plain prefix (which would resurrect CCC)
    val healed = w.rebuildSymbolRegistry(spark)
    assert(healed == Set("AAAUSDT", "BBBUSDT"),
      s"rebuild must see the manifest-live day content: $healed")
    assert(MinuteLakeWriter.readSymbolRegistry(fs, lakeDir)
      .contains(Set("AAAUSDT", "BBBUSDT")))
  }

  test("single-coordinator clock pin (r16 #5 + r17 advice): a publisher behind the recorded history warns loudly; new stamps are capped at now + tolerance") {
    val root = Files.createTempDirectory("graft-seam-clock").toString
    val dest = s"$root/data/part=a"
    val fs = localFs()
    val warnings = scala.collection.mutable.Buffer[String]()
    val mc = new ManifestCommit(3600000L) {
      override protected def warn(msg: String): Unit = warnings += msg
    }
    mc.publish(fs, stage(root, Seq(1)), dest)
    val v1 = new HPath(mc.resolve(fs, dest).get).getName
    mc.publish(fs, stage(root, Seq(2)), dest)
    val v2 = new HPath(mc.resolve(fs, dest).get).getName
    assert(warnings.isEmpty, "well-ordered history must not warn")
    // forge what an AHEAD-clock second publisher would have written:
    // a newer manifest naming the same live version with v1's
    // supersession stamped one hour in the future
    val future = System.currentTimeMillis() + 3600000L
    val forged = fs.create(new HPath(dest, "_MANIFEST.3"), false)
    try forged.write(s"$v2\n$v1\t$future\n__COMPLETE__".getBytes("UTF-8"))
    finally forged.close()
    val beforePublish = System.currentTimeMillis()
    mc.publish(fs, stage(root, Seq(3)), dest)
    val afterPublish = System.currentTimeMillis()
    assert(warnings.nonEmpty && warnings.head.contains("CLOCK SKEW"),
      s"future-stamped history must trip the loud warning: $warnings")
    // the future-stamped version survives (no premature sweep), and the
    // newly recorded supersession stamp never runs backward vs history
    val versionDirs = fs.listStatus(new HPath(dest))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
      .map(_.getPath.getName).toSet
    assert(versionDirs.contains(v1) && versionDirs.contains(v2),
      s"skewed grace entries must not be swept early: $versionDirs")
    val newest = fs.listStatus(new HPath(dest))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST."))
      .maxBy(s => s.getPath.getName.stripPrefix("_MANIFEST.").toLong)
    val body = {
      val in = fs.open(newest.getPath)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    val v2Stamp = body.split('\n').map(_.trim)
      .collectFirst { case l if l.startsWith(v2 + "\t") => l.split('\t')(1).toLong }
    // r17 advice: the new stamp must NOT inherit the forged hour-future
    // stamp (that would defer GC for every later version until wall
    // clock passes it) — it is capped at now + ClockSkewToleranceMs,
    // and never runs backward vs the publisher's own clock
    assert(v2Stamp.exists(s => s >= beforePublish &&
        s <= afterPublish + 5000L),
      s"new supersession stamp must be capped at now + tolerance, not " +
        s"inherit the forged future stamp: $v2Stamp vs forged $future")
    // the forged entry itself still rides the history (no early sweep)
    assert(body.contains(s"$v1\t$future"),
      s"forged grace entry must survive conservatively in history: $body")
  }

  test("re-resolve-on-miss (r16 #6): a reader whose version is GC'd mid-scan completes against the new version") {
    val root = Files.createTempDirectory("graft-seam-miss").toString
    val dest = s"$root/data/part=a"
    val fs = localFs()
    val mc = gc0 // grace 0: the next publish sweeps the held version
    mc.publish(fs, stage(root, Seq(1, 2)), dest)
    val stale = mc.resolve(fs, dest).get
    val held = spark.read.parquet(stale) // reader resolved and planned
    Thread.sleep(5)
    mc.publish(fs, stage(root, Seq(7, 8)), dest)
    assert(!fs.exists(new HPath(stale)), "grace-0 publish sweeps version N")
    // the raw continuation dies mid-scan — the failure mode r16 named
    intercept[Exception] { held.select("v").collect() }
    // the retry contract: each attempt re-resolves, so the restarted
    // read completes correctly against the CURRENT live version
    var attempts = 0
    val rows = ResolvedScan.retryOnVanishedVersion() {
      attempts += 1
      val d = if (attempts == 1) stale else mc.resolve(fs, dest).get
      spark.read.parquet(d).select("v").collect().map(_.getInt(0)).toSeq.sorted
    }
    assert(attempts == 2, s"first attempt must fail vanished, second resolve fresh: $attempts")
    assert(rows == Seq(7, 8))
  }

  test("retry match is version-scoped (r17 advice): a genuinely-missing path never retries; a vanished .v_ path does, with backoff") {
    var plainTries = 0
    intercept[java.io.FileNotFoundException] {
      ResolvedScan.retryOnVanishedVersion() {
        plainTries += 1
        throw new java.io.FileNotFoundException("/lake/symbol=X/day=01")
      }
    }
    assert(plainTries == 1,
      s"wrong-root / never-written paths must surface immediately: $plainTries")
    var versionTries = 0
    val t0 = System.nanoTime()
    intercept[java.io.FileNotFoundException] {
      ResolvedScan.retryOnVanishedVersion() {
        versionTries += 1
        throw new java.io.FileNotFoundException(
          "/lake/symbol=X/day=01/.v_abc123/part-0.parquet does not exist")
      }
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(versionTries == 3, s"version-dir misses retry to exhaustion: $versionTries")
    // linear backoff (50ms, 100ms) separates attempts so a retry racing
    // an in-flight publish cannot burn every attempt in milliseconds
    assert(elapsedMs >= 140,
      s"attempts must be separated by the backoff, took ${elapsedMs}ms")
  }

  test("gated tick whose resolved version is GC'd mid-read completes against the live version (r17 #2)") {
    import graft.operators.AggregatorRunner
    import graft.operators.AggregatorRunner.AggregatorStateStore
    import graft.schema.Timeframes
    import java.time.Instant

    def canonicalMinutes(startIso: String, n: Int) = {
      val start = instant(startIso)
      val rows = (0 until n).map { i =>
        (java.sql.Timestamp.from(start.plusSeconds(60L * i)),
          100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 1.0, 100000.0)
      }.toDF("timestamp", "open", "high", "low", "close", "volume_btc", "volume_usdt")
      MinuteBuilder.finalizeSchema(rows
        .withColumn("trade_count", lit(10L))
        .withColumn("mark_price_open", lit(100.0))
        .withColumn("mark_price_close", lit(100.5))
        .withColumn("index_price_open", lit(100.0))
        .withColumn("index_price_close", lit(100.4)))
    }

    val dir = Files.createTempDirectory("graft-seam-tickgc").toString
    val mc = gc0 // grace 0: any publish sweeps the superseded version
    val mw = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.HourlySymbol, mc)
    val hw = new HtfLakeWriter(s"$dir/htf", LakeLayout.HourlySymbol, mc)
    val state = new AggregatorStateStore(s"$dir/_aggstate", mc)
    val spec5m = Timeframes.parse("5m")
    val hour = instant("2026-01-01T00:00:00Z")
    mw.writeHourPartition("BTCUSDT", hour,
      canonicalMinutes("2026-01-01T00:00:00Z", 14))

    // a reader whose FIRST window scan races a competing publish: the
    // plan resolves version N, then the publish sweeps N (grace 0)
    // before the tick materializes — the exact mid-read loss r17 #2
    // names. The tick's whole-pass retry re-invokes this reader, which
    // resolves fresh and completes against N+1.
    var readCalls = 0
    val reader = new MinuteLakeReader(dir, committer = mc) {
      override def readWindowAllSymbols(spark: org.apache.spark.sql.SparkSession,
          start: Instant, end: Instant): Option[DataFrame] = {
        val planned = super.readWindowAllSymbols(spark, start, end)
        readCalls += 1
        if (readCalls == 1)
          mw.writeHourPartition("BTCUSDT", hour,
            canonicalMinutes("2026-01-01T00:14:00Z", 6))
        planned
      }
    }

    val res = AggregatorRunner.runFleetTick(spark, reader, hw, state,
      s"$dir/htf", Seq(spec5m)).head._2
    assert(readCalls == 2,
      s"first window read must die vanished, the retry re-resolves: $readCalls")
    // the completed tick saw the LIVE version: all 20 minutes → four
    // complete 5m buckets aggregated and written
    assert(res.bucketsWritten == 4, s"tick must complete against N+1: $res")
    val served = new HtfLakeReader(s"$dir/htf", mc)
      .readWindow(spark, "5m", "BTCUSDT",
        instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:19:00Z")).get
    assert(served.count() == 4)
  }

  test("loadCanonicalWindow pins the window under a resolving committer: consumption after a post-return GC survives (r17 advice)") {
    val dir = Files.createTempDirectory("graft-seam-pin").toString
    val mc = gc0
    val mw = new MinuteLakeWriter(dir, new PartitionLedger(s"$dir/_state"),
      LakeLayout.HourlySymbol, mc)
    val hour = instant("2024-03-01T10:00:00Z")
    mw.writeHourPartition("BTCUSDT", hour,
      canonical("2024-03-01T10:00:00Z", 100.0)
        .unionByName(canonical("2024-03-01T10:01:00Z", 101.0)))
    val reader = new MinuteLakeReader(dir, committer = mc)
    val win = graft.service.QueryService.loadCanonicalWindow(
      spark, reader, "BTCUSDT",
      instant("2024-03-01T10:00:00Z"), instant("2024-03-01T10:01:00Z"))
    assert(win.coverage.complete)
    // a publish AFTER the load returns sweeps the version the frame's
    // plan resolved (grace 0) — the advisor's exact scenario
    mw.writeHourPartition("BTCUSDT", hour, canonical("2024-03-01T10:02:00Z", 300.0))
    // the returned frame was pinned inside the guard: consuming it now
    // serves the loaded snapshot instead of dying on a raw FileNotFound
    val opens = win.frame.orderBy("timestamp").select("open").collect()
      .map(_.getDouble(0)).toSeq
    assert(opens == Seq(100.0, 101.0), s"pinned snapshot must survive GC: $opens")
    // the release handle (r18 advice) drops the CacheManager entry so a
    // long-running service doesn't accumulate one pin per request
    win.release()
    assert(win.frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "release() must unpersist the pinned window")
  }

  test("HtfLakeReader pins served windows under a resolving committer (r17 #2)") {
    import graft.schema.Timeframes
    val root = Files.createTempDirectory("graft-seam-htfpin").toString
    val mc = gc0
    val hw = new HtfLakeWriter(s"$root/htf", LakeLayout.HourlySymbol, mc)
    val spec = Timeframes.parse("5m")
    def bucketRows(openBase: Double) = {
      import org.apache.spark.sql.functions.{lit => L}
      Seq((java.sql.Timestamp.from(instant("2026-01-01T00:00:00Z")),
          openBase, openBase + 1, openBase - 1, openBase + 0.5,
          5.0, 500000.0, 50L, true, 5L))
        .toDF("bucket_start", "open", "high", "low", "close", "volume_btc",
          "volume_usdt", "trade_count", "bucket_complete",
          "observed_minutes_in_bucket")
        .withColumn("vwap_bucket", L(openBase))
        .withColumn("symbol", L("BTCUSDT"))
    }
    hw.writeBucketsBulkAllSymbols(spark, spec.name, bucketRows(100.0))
    val served = new HtfLakeReader(s"$root/htf", mc)
      .readWindow(spark, "5m", "BTCUSDT",
        instant("2026-01-01T00:00:00Z"), instant("2026-01-01T00:05:00Z")).get
    // competing rewrite sweeps the version the served plan resolved
    hw.writeBucketsBulkAllSymbols(spark, spec.name, bucketRows(200.0))
    val opens = served.select("open").collect().map(_.getDouble(0)).toSeq
    assert(opens == Seq(100.0), s"pinned HTF window must survive GC: $opens")
    served.unpersist()
  }

  test("day-batched manifest (r17 #5): K hour leaves commit with ONE pointer PUT; resolve/replace/GC per leaf") {
    val root = Files.createTempDirectory("graft-seam-daybatch").toString
    val fs = localFs()
    val day = s"$root/data/day=01"
    val dm = new DayManifestCommit(0L) // grace 0: sweeps on replace
    val leaves = Seq("hour=00", "hour=01", "hour=02").map(h => s"$day/$h")
    dm.publishBatch(fs, leaves.zipWithIndex.map { case (l, i) =>
      stage(root, Seq(i * 10 + 1, i * 10 + 2)) -> l })
    def dayManifests = fs.listStatus(new HPath(day))
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST"))
    assert(dayManifests.length == 1,
      s"the whole batch is ONE pointer PUT: ${dayManifests.length}")
    leaves.zipWithIndex.foreach { case (l, i) =>
      assert(readVia(dm, fs, l).contains(Seq(i * 10 + 1, i * 10 + 2)),
        s"leaf $l resolves through the day manifest")
    }
    // replace two of three leaves in a second batch: ONE more PUT,
    // untouched leaf intact, superseded versions swept (grace 0)
    dm.publishBatch(fs, Seq(
      stage(root, Seq(100)) -> leaves(0),
      stage(root, Seq(200)) -> leaves(2)))
    assert(dayManifests.length <= 2, "second batch adds at most one PUT")
    assert(readVia(dm, fs, leaves(0)).contains(Seq(100)))
    assert(readVia(dm, fs, leaves(1)).contains(Seq(11, 12)),
      "untouched leaf keeps its version across others' batches")
    assert(readVia(dm, fs, leaves(2)).contains(Seq(200)))
    Seq(leaves(0), leaves(2)).foreach { l =>
      val versions = fs.listStatus(new HPath(l))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
      assert(versions.length == 1, s"grace-0 GC keeps live only at $l")
    }
  }

  test("day-batched manifest GCs an UNTOUCHED leaf's version dir once its grace entry expires out of the manifest (r18 advice)") {
    val root = Files.createTempDirectory("graft-seam-dayexpire").toString
    val fs = localFs()
    val day = s"$root/data/day=03"
    val dm = new DayManifestCommit(graceMs = 50L)
    val leaves = Seq("hour=00", "hour=01").map(h => s"$day/$h")
    def versionDirs(l: String) = fs.listStatus(new HPath(l))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
    dm.publishBatch(fs, leaves.map(l => stage(root, Seq(1)) -> l))
    // replace BOTH leaves: each old version enters grace
    dm.publishBatch(fs, leaves.map(l => stage(root, Seq(2)) -> l))
    assert(leaves.forall(l => versionDirs(l).length == 2),
      "both superseded versions held through grace")
    Thread.sleep(120) // grace expires for both entries
    // a publish touching ONLY leaf 0 drops BOTH leaves' expired grace
    // entries from the manifest — leaf 1's old version dir is now
    // unnamed and must be swept in THIS publish (it may never be
    // republished), not leak until a future touch
    dm.publishBatch(fs, Seq(stage(root, Seq(3)) -> leaves(0)))
    assert(versionDirs(leaves(1)).length == 1,
      s"untouched leaf's expired version dir must be GC'd: ${
        versionDirs(leaves(1)).map(_.getPath.getName).toSeq}")
    assert(readVia(dm, fs, leaves(1)).contains(Seq(2)),
      "untouched leaf still serves its live version")
    assert(readVia(dm, fs, leaves(0)).contains(Seq(3)))
  }

  test("resolvedLeaves batch-resolves the walk and leafFilter prunes BEFORE any day-state read (r19)") {
    val root = Files.createTempDirectory("graft-seam-walkresolve").toString
    val fs = localFs()
    val readDays = scala.collection.mutable.Set[String]()
    val dm = new DayManifestCommit(3600000L) {
      override private[graft] def liveVersions(
          fs: FileSystem, dayDir: String): Map[String, String] = {
        readDays += dayDir
        super.liveVersions(fs, dayDir)
      }
    }
    // two day dirs × two hour leaves each
    val leaves = for (d <- Seq("day=01", "day=02"); h <- Seq("hour=00", "hour=01"))
      yield s"$root/data/sym=A/$d/$h"
    dm.publishBatch(fs, leaves.zipWithIndex.map { case (l, i) =>
      stage(root, Seq(i + 1)) -> l })
    readDays.clear()
    // unfiltered walk: 4 leaves under 2 days = 2 day-state reads (the
    // r19 fix — the old per-leaf walk read a day's state once per LEAF)
    val all = ResolvedScan.resolvedLeaves(fs, s"$root/data", dm)
    assert(all.size == 4 && readDays.size == 2,
      s"4 leaves / 2 days must cost 2 day-state reads: ${readDays.size}")
    readDays.clear()
    // windowed walk: the filter rejects day=02's leaves BEFORE
    // resolution, so only day=01's state is ever read
    val windowed = ResolvedScan.resolvedLeaves(fs, s"$root/data", dm,
      leafFilter = p => p.contains("day=01"))
    assert(windowed.size == 2 && windowed.forall(_.contains("day=01")))
    assert(readDays.map(d => new HPath(d).getName) == Set("day=01"),
      s"out-of-window days must cost ZERO day-state reads: $readDays")
  }

  test("resolvedLeaves stops the walk at manifest-bearing day dirs: no LIST lands on a committed hour leaf (r20)") {
    val root = Files.createTempDirectory("graft-seam-dayindex").toString
    val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fs = new org.apache.hadoop.fs.FilterFileSystem(localFs()) {
      override def listStatus(p: HPath): Array[org.apache.hadoop.fs.FileStatus] = {
        listed.add(p.toString)
        super.listStatus(p)
      }
    }
    val dm = DayManifestCommit
    val leaves =
      for (d <- Seq("day=01", "day=02"); h <- Seq("hour=00", "hour=01", "hour=02"))
        yield s"$root/data/sym=A/$d/$h"
    dm.publishBatch(localFs(), leaves.zipWithIndex.map { case (l, i) =>
      stage(root, Seq(i + 1)) -> l })
    // one bulk-written PLAIN leaf (no manifest entry) — the day
    // LISTING must still surface it for the resolution fallback
    val plain = s"$root/data/sym=A/day=01/hour=03"
    Seq(9).toDF("v").write.parquet(plain)
    listed.clear()
    val resolved = ResolvedScan.resolvedLeaves(fs, s"$root/data", dm)
    assert(resolved.size == 7, s"6 committed + 1 plain leaf: $resolved")
    assert(resolved.count(_.endsWith("hour=03")) == 1,
      "plain bulk leaf surfaces via the day listing alone")
    // the day manifest IS the leaf index (r20, VERDICT r19 #3): the
    // walk must never LIST a committed hour leaf to re-discover
    // leaf-ness — at width 10k × 24 h those listings were 240k of the
    // walk's 280k LISTs. The only hour-dir LIST allowed is the
    // resolution FALLBACK probing the plain leaf's visible files.
    val hourLists = scala.jdk.CollectionConverters
      .IteratorHasAsScala(listed.iterator).asScala.toSeq
      .filter(_.contains("hour="))
    assert(hourLists.forall(_.endsWith("hour=03")),
      s"walk must not LIST committed hour leaves: $hourLists")
    // parity with per-leaf resolution (same committed content dirs)
    val expected = (leaves :+ plain).flatMap(l =>
      ResolvedScan.resolveLeaf(localFs(), l, dm)).sorted
    assert(resolved.sorted.map(_.stripPrefix("file:")) ==
      expected.map(_.stripPrefix("file:")),
      s"day-index walk must resolve identically: $resolved vs $expected")
  }

  test("resolveLeaves reads each day manifest ONCE and preserves per-leaf fallbacks (r18)") {
    val root = Files.createTempDirectory("graft-seam-batchresolve").toString
    val fs = localFs()
    val day = s"$root/data/day=04"
    var stateReads = 0
    val dm = new DayManifestCommit(3600000L) {
      override private[graft] def liveVersions(
          fs: FileSystem, dayDir: String): Map[String, String] = {
        stateReads += 1
        super.liveVersions(fs, dayDir)
      }
    }
    val leaves = Seq("hour=00", "hour=01", "hour=02").map(h => s"$day/$h")
    dm.publishBatch(fs, leaves.zipWithIndex.map { case (l, i) =>
      stage(root, Seq(i + 1)) -> l })
    // one bulk-written PLAIN leaf (no manifest entry) — the fallback
    val plain = s"$day/hour=03"
    Seq(9).toDF("v").write.parquet(plain)
    val resolved = ResolvedScan.resolveLeaves(fs, leaves :+ plain, dm)
    assert(stateReads == 1,
      s"4 leaves under one day must cost ONE day-state read: $stateReads")
    assert(resolved.size == 4)
    // parity with per-leaf resolution, order preserved
    val perLeaf = (leaves :+ plain).flatMap(l =>
      ResolvedScan.resolveLeaf(fs, l, dm))
    assert(resolved == perLeaf, s"batch must equal per-leaf: $resolved vs $perLeaf")
    assert(resolved.last == plain, "plain bulk-written leaf falls back to itself")
    assert(resolved.take(3).forall(_.contains("/.v_")),
      "manifest leaves resolve to their live versions")
  }

  test("day-batched manifest: complete old or complete new for EVERY leaf at every crash point") {
    val root = Files.createTempDirectory("graft-seam-daycrash").toString
    val day = s"$root/data/day=02"
    val dm = new DayManifestCommit(0L)
    val leaves = Seq(s"$day/hour=00", s"$day/hour=01")
    dm.publishBatch(crashyFs(), Seq(
      stage(root, Seq(1, 2)) -> leaves(0),
      stage(root, Seq(3, 4)) -> leaves(1)))
    def readAll() = leaves.map(l => readVia(dm, localFs(), l))
    assert(readAll() == Seq(Some(Seq(1, 2)), Some(Seq(3, 4))))
    // the batch materializes 2 leaves × 2 files before its single PUT —
    // crash at every copy prefix: EVERY leaf must still read old
    (0 until 4).foreach { k =>
      val fs = crashyFs().armed(afterCopies = k)
      intercept[InjectedCrash] {
        dm.publishBatch(fs, Seq(
          stage(root, Seq(7, 8)) -> leaves(0),
          stage(root, Seq(9, 10)) -> leaves(1)))
      }
      assert(readAll() == Seq(Some(Seq(1, 2)), Some(Seq(3, 4))),
        s"crash after $k copies: the un-PUT batch must be invisible as a UNIT")
    }
    // retry completes the whole batch atomically
    dm.publishBatch(crashyFs(), Seq(
      stage(root, Seq(7, 8)) -> leaves(0),
      stage(root, Seq(9, 10)) -> leaves(1)))
    assert(readAll() == Seq(Some(Seq(7, 8)), Some(Seq(9, 10))))
    // crash leftovers (orphan versions from the aborted batches) are
    // swept by the retry's GC down to live-only
    leaves.foreach { l =>
      val versions = localFs().listStatus(new HPath(l))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".v_"))
      assert(versions.length == 1,
        s"retry GC sweeps crash orphans at $l: ${versions.length}")
    }
  }

  test("day-batched manifest: grace window holds per leaf; three staged hour leaves publish as one batch and round-trip through the reader") {
    // grace: a reader holding a leaf's version N survives a later batch
    val root = Files.createTempDirectory("graft-seam-daygrace").toString
    val fs = localFs()
    val day = s"$root/data/day=03"
    val leaf = s"$day/hour=05"
    DayManifestCommit.publish(fs, stage(root, Seq(1, 2)), leaf) // 1h grace
    val held = DayManifestCommit.resolve(fs, leaf).get
    DayManifestCommit.publish(fs, stage(root, Seq(3)), leaf)
    assert(spark.read.parquet(held).select("v").collect()
      .map(_.getInt(0)).toSeq.sorted == Seq(1, 2),
      "held version torn out inside the grace window")
    assert(readVia(DayManifestCommit, fs, leaf).contains(Seq(3)))

    // lake integration: three staged hour leaves publish as one
    // day-level PUT, and the minute reader serves them through the
    // day manifest
    val lake = Files.createTempDirectory("graft-seam-daylake").toString
    val dm = new DayManifestCommit(3600000L)
    val w = new MinuteLakeWriter(lake, new PartitionLedger(s"$lake/_state"),
      LakeLayout.HourlySymbol, dm)
    val h0 = instant("2024-03-01T10:00:00Z")
    val staged = Seq(
      h0 -> canonical("2024-03-01T10:00:00Z", 100.0),
      h0.plusSeconds(3600) -> canonical("2024-03-01T11:00:00Z", 110.0),
      h0.plusSeconds(7200) -> canonical("2024-03-01T12:00:00Z", 120.0)
    ).map { case (hour, frame) =>
      val tmp = s"$lake/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
      frame.coalesce(1).write.parquet(tmp)
      tmp -> w.partitionDir("BTCUSDT", hour)
    }
    dm.publishBatch(fs, staged)
    val dirs = staged.map(_._2)
    assert(dirs.distinct.size == 3)
    val dayDir = new HPath(dirs.head).getParent
    val puts = fs.listStatus(dayDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_MANIFEST"))
    assert(puts.length == 1, s"3-hour batch = ONE pointer PUT: ${puts.length}")
    val reader = new MinuteLakeReader(lake, committer = dm)
    val rows = reader.readWindow(spark, "BTCUSDT",
      instant("2024-03-01T10:00:00Z"), instant("2024-03-01T12:59:00Z"))
      .orderBy("timestamp").select("open").collect().map(_.getDouble(0)).toSeq
    assert(rows == Seq(100.0, 110.0, 120.0),
      s"reader resolves batched leaves through the day manifest: $rows")
    // a later single-hour write merges with the batched content
    w.writeHourPartition("BTCUSDT", h0, canonical("2024-03-01T10:01:00Z", 101.0))
    val merged = reader.readWindow(spark, "BTCUSDT",
      instant("2024-03-01T10:00:00Z"), instant("2024-03-01T10:59:00Z"))
      .orderBy("timestamp").select("open").collect().map(_.getDouble(0)).toSeq
    assert(merged == Seq(100.0, 101.0), s"merge through the day pointer: $merged")
  }

  test("wide bulk day swap: a failed promote restores the superseded day (r21, ADVICE r20 #1)") {
    // the r20 delete→promote shape deleted the live day FIRST, so a
    // transient promote failure plus the writer's finally-cleanup of
    // the merge tmp destroyed the only copy — day-level data loss.
    // The rename-aside swap must hand the old content back.
    val root = Files.createTempDirectory("graft-swap").toString
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      var failPromotesTo: Option[String] = None
      override def rename(src: HPath, dst: HPath): Boolean = {
        if (failPromotesTo.exists(dst.toString.endsWith)) { // one-shot
          failPromotesTo = None
          false
        } else super.rename(src, dst)
      }
    }
    fs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    def mkDay(path: String, marker: String): Unit = {
      fs.mkdirs(new HPath(path))
      val out = fs.create(new HPath(s"$path/$marker"), true)
      out.write(1); out.close()
    }
    val target = s"$root/timeframe=5m/year=2026/month=01/day=01"
    val staged = s"$root/.tmp/stage/year=2026/month=01/day=01"
    val aside = s"$root/.tmp/aside/year=2026/month=01/day=01"
    mkDay(target, "old-content")
    mkDay(staged, "new-content")
    // fail ONLY the promote (dst = the live day dir); the aside rename's
    // dst lives under .tmp and must succeed first
    fs.failPromotesTo = Some(target)
    val e = intercept[java.io.IOException] {
      graft.sources.WideDayPublish.swap(fs, staged,
        new HPath(target), new HPath(aside))
    }
    assert(e.getMessage.contains("prior day content restored"), e.getMessage)
    // the live day is the OLD content again, not missing and not new
    assert(fs.exists(new HPath(s"$target/old-content")),
      "superseded day restored after the failed promote")
    assert(!fs.exists(new HPath(s"$target/new-content")))
    // a retry (transient failure gone) completes the swap
    graft.sources.WideDayPublish.swap(fs, staged,
      new HPath(target), new HPath(aside))
    assert(fs.exists(new HPath(s"$target/new-content")) &&
      !fs.exists(new HPath(s"$target/old-content")),
      "retried swap promotes the staged day")
  }
}
