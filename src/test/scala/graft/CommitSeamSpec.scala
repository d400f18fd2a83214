package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.functions._

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
  *  3. the state-plane seam: WatermarkStore setAll/read through both;
  *  4. the day-wide swap restores the superseded day on a failed
  *     promote.
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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
    val root = tempDir("graft-seam").toString
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

  test("putState replace is never read torn — concurrent-read matrix (r15 #7)") {
    Seq(RenameCommit: CommitProtocol, ManifestCommit).foreach { c =>
      val dir = tempDir("graft-seam-put")
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
      val dir = tempDir("graft-seam-state").toString
      val store = new WatermarkStore(dir, c)
      store.setAll(Map("BTCUSDT" -> instant("2024-03-01T10:59:00Z")))
      store.setAll(Map("ETHUSDT" -> instant("2024-03-01T11:30:00Z"),
        "BTCUSDT" -> instant("2024-03-01T11:59:00Z")))
      assert(store.get("BTCUSDT").contains(instant("2024-03-01T11:59:00Z")))
      assert(store.get("ETHUSDT").contains(instant("2024-03-01T11:30:00Z")))
    }
  }

  test("single-coordinator clock pin (r16 #5 + r17 advice): a publisher behind the recorded history warns loudly; new stamps are capped at now + tolerance") {
    val root = tempDir("graft-seam-clock").toString
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

  test("wide bulk day swap: a failed promote restores the superseded day (r21, ADVICE r20 #1)") {
    // the r20 delete→promote shape deleted the live day FIRST, so a
    // transient promote failure plus the writer's finally-cleanup of
    // the merge tmp destroyed the only copy — day-level data loss.
    // The rename-aside swap must hand the old content back.
    val root = tempDir("graft-swap").toString
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

    // a minute day holding a `_delta/` child: the swap moves the whole
    // day, so a failed promote hands the deltas back with the base and
    // every read is as before
    def canonical(symbol: String, open: Double, minutes: Int) = {
      val base = spark.range(minutes.toLong).select(lit(symbol).as("symbol"),
        timestamp_millis(lit(ms("2026-01-15T00:00:00Z")) + col("id") * 60000L).as("timestamp"),
        lit(open).as("open"), lit(open + 1).as("high"), lit(open - 1).as("low"),
        lit(open).as("close"), lit(1.0).as("volume_btc"), lit(100.0).as("volume_usdt"),
        lit(10L).as("trade_count"), lit(open).as("mark_price_open"),
        lit(open).as("mark_price_close"), lit(open).as("index_price_open"),
        lit(open).as("index_price_close"))
      graft.schema.CanonicalSchema.columns.foldLeft(base) { (df, c) =>
        if (df.columns.contains(c.name)) df.withColumn(c.name, col(c.name).cast(c.sparkType))
        else df.withColumn(c.name, lit(null).cast(c.sparkType))
      }
    }
    val lake = s"$root/lake"
    val writer = new MinuteLakeWriter(lake, new PartitionLedger(s"$lake/_state"),
      LakeLayout.DayWide(filesPerDay = 2))
    writer.writeDaysWide(canonical("AAAUSDT", 1.0, 120).unionByName(canonical("BBBUSDT", 1.0, 120)))
    writer.writeDeltaPatch(canonical("AAAUSDT", 2.0, 30))
    val day = s"$lake/futures/um/minute/year=2026/month=01/day=15"
    val reader = new MinuteLakeReader(lake)
    def rows(): Seq[String] = reader.readWindowAllSymbols(spark,
        instant("2026-01-15T00:00:00Z"), instant("2026-01-15T01:59:00Z")).get
      .select("symbol", "timestamp", "open").collect().map(_.toString).sorted.toSeq
    def deltaNames(): Seq[String] =
      fs.listStatus(new HPath(s"$day/_delta")).map(_.getPath.getName).sorted.toSeq
    val (rowsBefore, deltasBefore) = (rows(), deltaNames())
    assert(rowsBefore.count(_.contains(",2.0]")) == 30 && deltasBefore.nonEmpty)
    val staged2 = s"$root/.tmp/stage2/year=2026/month=01/day=15"
    mkDay(staged2, "new-content")
    fs.failPromotesTo = Some(day)
    intercept[java.io.IOException] {
      graft.sources.WideDayPublish.swap(fs, staged2, new HPath(day),
        new HPath(s"$root/.tmp/aside2/year=2026/month=01/day=15"))
    }
    assert(!fs.exists(new HPath(s"$day/new-content")))
    assert(deltaNames() == deltasBefore, "the day came back without its deltas")
    assert(rows() == rowsBefore, "reads moved after the restore")
  }
}
