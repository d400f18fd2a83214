package graft.sources

import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.schema.CanonicalSchema
import graft.validation.DQValidator

/** Minute-lake writer — Spark re-expression of the reference's
  * `AtomicParquetWriter` (`writer/atomic.py:27-117`).
  *
  * Layout: `futures/um/minute/symbol=S/year=YYYY/month=MM/day=DD/hour=HH/`
  * (Hive-style, so Catalyst partition pruning is automatic on read).
  *
  * Two write paths:
  *  - [[writeHourPartition]] — the exact semantic port: read existing
  *    partition, last-wins merge with LIVE_ONLY preservation (bool-OR
  *    for coverage flags, coalesce for the rest), DQ-validate, rewrite
  *    the single partition (write-to-tmp + rename keeps readers atomic).
  *  - [[writePartitionedBulk]] — the lake-scale path: one job writes many
  *    partitions at once with `partitionOverwriteMode=dynamic`; use for
  *    backfills where per-hour loops would serialize.
  *  - [[writeDaysWide]] — the WIDTH-scalable path ([[LakeLayout.DayWide]]):
  *    day-level partitions, symbol as a data column, files
  *    range-partitioned + sorted by (symbol, timestamp). Same last-wins +
  *    LIVE_ONLY-preserve merge semantics, keyed by (symbol, timestamp).
  *    Use at lake width ≥10k where the hourly layout's file population
  *    (width × 24 files/day) is the measured constraint (SURVEY §8.15).
  */
/** When the ingestion tick folds accumulated day-wide delta patches
  * into their base days — threshold OR age, whichever trips first
  * (see [[MinuteLakeWriter.compactWideDeltasIfDue]]). Defaults: fold a
  * day at 8 delta files (read-overlay economics) or once its oldest
  * patch is a day old (staleness). `ledgerMaxBytes` bounds the
  * append-only partition ledger the same tick owns
  * ([[PartitionLedger.compactIfLarge]] — both layouts). */
final case class CompactionPolicy(minFilesPerDay: Int = 8,
                                  maxAgeMinutes: Long = 1440L,
                                  ledgerMaxBytes: Long = 16L * 1024 * 1024)

class MinuteLakeWriter(root: String, ledger: PartitionLedger,
                       val layout: LakeLayout = LakeLayout.HourlySymbol,
                       val committer: CommitProtocol = RenameCommit) {

  private val hourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH").withZone(ZoneOffset.UTC)

  def partitionDir(symbol: String, hourStart: Instant): String = {
    val z = hourStart.atZone(ZoneOffset.UTC)
    f"$root/futures/um/minute/symbol=${symbol.toUpperCase}/year=${z.getYear}%04d/" +
      f"month=${z.getMonthValue}%02d/day=${z.getDayOfMonth}%02d/hour=${z.getHour}%02d"
  }

  /** Last-wins merge with LIVE_ONLY preservation (reference
    * `atomic.py:65-97`): new rows win on timestamp collision, but
    * existing LIVE_ONLY values survive — coverage flags (has_ws_latency /
    * has_depth / has_liq) are bool-OR'd, every other LIVE_ONLY column is
    * coalesce(merged, existing). */
  def mergePartitionFrames(existing: DataFrame, fresh: DataFrame): DataFrame =
    mergePartitionFramesKeyed(existing, fresh, Seq("timestamp"))

  /** Keyed generalization of the merge: the hourly layout merges one
    * symbol's partition on `timestamp` alone; the day-wide layout holds
    * every symbol in one partition and merges on (symbol, timestamp).
    * Identical policy either way — the layouts share ONE merge
    * implementation so their semantics cannot drift (it also serves the
    * READ-time delta overlay, so pre- and post-compaction results are
    * the same plan by construction). */
  def mergePartitionFramesKeyed(existing: DataFrame, fresh: DataFrame,
                                keys: Seq[String]): DataFrame =
    MinuteLakeWriter.mergeKeyed(existing, fresh, keys)

  /** Bulk hourly ingest (VERDICT r17 #5): merge+stage every hour, then
    * commit the batch — under [[DayManifestCommit]] ONE pointer PUT per
    * touched day instead of one per hour leaf (the r17 ManifestCostProbe
    * priced per-leaf publish at 12.8 ms and one billable PUT per leaf;
    * a 24-hour day batches to 1/24th the PUTs). Identity and per-leaf
    * manifest committers publish leaf-by-leaf through the same staging
    * (same result, per-leaf cost). Merge semantics, DQ validation, and
    * ledger bookkeeping are exactly [[writeHourPartition]]'s; the
    * day-wide layout has no hour leaves to batch and delegates. */
  def writeHourPartitionsBatched(symbol: String,
      hours: Seq[(Instant, DataFrame)]): Seq[String] = {
    if (hours.isEmpty) return Seq.empty
    layout match {
      case LakeLayout.DayWide(_) =>
        return hours.map { case (h, f) => writeHourPartition(symbol, h, f) }
      case LakeLayout.HourlySymbol => ()
    }
    val spark = hours.head._2.sparkSession
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val staged = hours.map { case (hourStart, frame) =>
      val finalDir = partitionDir(symbol, hourStart)
      val existingDir = committer.resolve(fs, finalDir)
        .filter(d => fs.listStatus(new HPath(d)).exists(_.isFile))
      val effective = existingDir match {
        case Some(d) => mergePartitionFrames(spark.read.parquet(d), frame)
        case None    => frame
      }
      val dq = DQValidator.validate(effective)
      val tmpDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
      effective.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(tmpDir)
      (hourStart, finalDir, tmpDir, dq)
    }
    committer match {
      case b: DayManifestCommit =>
        b.publishBatch(fs, staged.map(s => s._3 -> s._2))
      case c =>
        staged.foreach(s => c.publish(fs, s._3, s._2))
    }
    staged.map { case (hourStart, finalDir, _, dq) =>
      ledger.upsert(PartitionLedgerEntry(
        symbol = symbol.toUpperCase,
        day = hourStart.atZone(ZoneOffset.UTC).toLocalDate.toString,
        hour = hourStart.atZone(ZoneOffset.UTC).getHour,
        path = finalDir,
        rowCount = dq.rowCount,
        minTs = dq.minTs,
        maxTs = dq.maxTs,
        schemaHash = CanonicalSchema.schemaHash,
        status = "COMMITTED",
        committedAtUtc = Instant.now.toString,
        contentHash = MinuteLakeWriter.contentHashOfDir(fs,
          committer.resolve(fs, finalDir).getOrElse(finalDir))))
      finalDir
    }
  }

  /** Write (merge if present) one symbol-hour partition. Atomicity =
    * write to `.tmp/<uuid>` then rename over the final directory — the
    * same tmp+replace choreography as `atomic.py:38-44`. */
  def writeHourPartition(symbol: String, hourStart: Instant, frame: DataFrame): String = {
    val spark = frame.sparkSession
    layout match {
      case LakeLayout.DayWide(_) =>
        // Same API, day-wide physics. A repair into an EXISTING day
        // lands as a small delta file — O(patch), not O(day): the
        // reference's repair cadence (2 h lookback every 30 s,
        // `aggregator/config.py:17-21`) makes point repairs the common
        // case, and rewriting day × all-symbols per patch was the one
        // remaining write-amplification cliff (164.6 s/day at width
        // 100k, r13). A NEW day still bootstraps through the bulk
        // merge write. Read results are identical either way — the
        // delta overlay and the bulk merge share mergeKeyed.
        val dq = DQValidator.validate(frame)
        val z = hourStart.atZone(ZoneOffset.UTC)
        val dayDir = f"$root/futures/um/minute/year=${z.getYear}%04d/" +
          f"month=${z.getMonthValue}%02d/day=${z.getDayOfMonth}%02d"
        val spark2 = frame.sparkSession
        val fs2 = FileSystem.get(new java.net.URI(root),
          spark2.sparkContext.hadoopConfiguration)
        val withSym = frame.withColumn("symbol", lit(symbol.toUpperCase))
        if (fs2.exists(new HPath(dayDir))) writeDeltaPatch(withSym)
        else writeDaysWide(withSym, merge = true)
        ledger.upsert(PartitionLedgerEntry(
          symbol = symbol.toUpperCase,
          day = hourStart.atZone(ZoneOffset.UTC).toLocalDate.toString,
          hour = hourStart.atZone(ZoneOffset.UTC).getHour,
          path = dayDir,
          rowCount = dq.rowCount,
          minTs = dq.minTs,
          maxTs = dq.maxTs,
          schemaHash = CanonicalSchema.schemaHash,
          status = "COMMITTED",
          committedAtUtc = Instant.now.toString,
          // content hash is per-PARTITION; a day-wide partition is
          // rewritten by later symbols' writes, so this per-symbol-hour
          // row is bookkeeping only — the audit surface is the day-grain
          // "__ALL__" row writeDaysWide commits (distributed hash)
          contentHash = ""))
        return dayDir
      case LakeLayout.HourlySymbol => ()
    }
    val finalDir = partitionDir(symbol, hourStart)
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    // existing content is read through the committer's resolve — on a
    // manifest deployment the live version sits behind the pointer,
    // not at the partition path itself (SURVEY §4.1)
    val existingDir = committer.resolve(fs, finalDir)
      .filter(d => fs.listStatus(new HPath(d)).exists(_.isFile))
    val effective = existingDir match {
      case Some(d) => mergePartitionFrames(spark.read.parquet(d), frame)
      case None    => frame
    }

    val dq = DQValidator.validate(effective)

    val tmpDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    effective.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(tmpDir)
    committer.publish(fs, tmpDir, finalDir)

    ledger.upsert(PartitionLedgerEntry(
      symbol = symbol.toUpperCase,
      day = hourStart.atZone(ZoneOffset.UTC).toLocalDate.toString,
      hour = hourStart.atZone(ZoneOffset.UTC).getHour,
      path = finalDir,
      rowCount = dq.rowCount,
      minTs = dq.minTs,
      maxTs = dq.maxTs,
      schemaHash = CanonicalSchema.schemaHash,
      status = "COMMITTED",
      committedAtUtc = Instant.now.toString,
      contentHash = MinuteLakeWriter.contentHashOfDir(fs,
        committer.resolve(fs, finalDir).getOrElse(finalDir))))
    finalDir
  }

  /** The path readers scan for a published hour partition — identity
    * under [[RenameCommit]]; the live manifest version under
    * [[ManifestCommit]]. */
  def resolvePartitionDir(fs: FileSystem, dir: String): Option[String] =
    committer.resolve(fs, dir)

  /** Tick-owned ledger compaction (see [[PartitionLedger.compact]]):
    * the writer owns the ledger, the pipeline owns the cadence. */
  def compactLedgerIfLarge(maxBytes: Long): Boolean =
    ledger.compactIfLarge(maxBytes)

  /** Union `frame`'s symbols into the wide lake's `_symbols.json`
    * registry ([[MinuteLakeWriter.SymbolsRegistry]]): O(width) driver
    * strings, rewritten only when a NEW symbol appears.
    *
    * Invariant (r15 advice — the registry IS load-bearing for
    * ABSENCE): the registry, when present and parseable, must be a
    * SUPERSET of every symbol ever committed. Three rules keep it:
    *
    *  1. the write is atomic (temp file + single-FILE rename — one
    *     object PUT on a store), so a crash can never leave a torn
    *     body on disk;
    *  2. a registry that EXISTS but reads as torn/unreadable is never
    *     rewritten from empty — that would durably deny every
    *     previously committed symbol; the rewrite is SKIPPED (readers
    *     already degrade to the walk on a torn registry) and
    *     [[rebuildSymbolRegistry]] is the healing verb;
    *  3. an ABSENT registry over a lake that already has data (a
    *     pre-registry lake) is also left absent — fresh-only symbols
    *     would deny the old ones; only a genuinely EMPTY lake may
    *     bootstrap the registry from the incoming frame.
    *
    * Called BEFORE the data commit (r15 advice #2): premature
    * registration is harmless in a superset; late registration races a
    * reader into falsely denying a just-committed new symbol. */
  private def registerSymbols(fs: FileSystem, frame: DataFrame): Unit =
    registerSymbolSet(fs, frame.select(upper(col("symbol"))).distinct()
      .collect().map(_.getString(0)).toSet)

  /** Symbol-set form of [[registerSymbols]] for callers that already
    * hold the distinct symbols from another pass (the bulk writer's
    * fused stats job) — same registry rules, no extra Spark job. */
  private def registerSymbolSet(fs: FileSystem, fresh: Set[String]): Unit = {
    val lakeDir = s"$root/futures/um/minute"
    val regPath = new HPath(s"$lakeDir/${MinuteLakeWriter.SymbolsRegistry}")
    MinuteLakeWriter.readSymbolRegistry(fs, lakeDir) match {
      case Some(existing) =>
        val merged = existing ++ fresh
        if (merged != existing)
          MinuteLakeWriter.writeSymbolRegistry(fs, lakeDir, merged)
      case None if fs.exists(regPath) =>
        // torn/unreadable but present: rewriting from fresh-only would
        // durably break the superset — skip; readers walk until healed
        ()
      case None =>
        if (DayDirs.ascending(fs, lakeDir).isEmpty)
          MinuteLakeWriter.writeSymbolRegistry(fs, lakeDir, fresh)
        // else: pre-registry lake — leave absent (safe); heal with
        // rebuildSymbolRegistry
    }
  }

  /** Rebuild the symbol registry from the lake itself — the healing
    * verb for a torn/corrupt or pre-registry lake (see
    * [[registerSymbols]] rules 2–3). ONE distinct-symbols job over the
    * base ∪ delta trees (columnar: only the symbol column is read);
    * run it from an operator tick, not the hot path. */
  def rebuildSymbolRegistry(spark: SparkSession): Set[String] = {
    val lakeDir = s"$root/futures/um/minute"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val days = DayDirs.ascending(fs, lakeDir) ++
      DayDirs.ascending(fs, s"$lakeDir/${MinuteLakeWriter.DeltaSubdir}")
    // Under a manifest deployment each day's live bytes sit behind the
    // leaf's pointer (VERDICT r16 #3): resolve every walked leaf before
    // scanning, exactly like the read paths — a plain-dir read would
    // rebuild the registry from stale plain prefixes, or from nothing
    // at all (committed `.v_*` dirs are hidden-path-filtered by Spark),
    // and the healing verb would then durably deny live symbols.
    val dirs =
      if (committer.readThroughResolve)
        ResolvedScan.resolveLeaves(fs, days, committer)
      else days
    val symbols =
      if (dirs.isEmpty) Set.empty[String]
      else spark.read.parquet(dirs: _*).select(upper(col("symbol")))
        .distinct().collect().map(_.getString(0)).toSet
    if (symbols.nonEmpty)
      MinuteLakeWriter.writeSymbolRegistry(fs, lakeDir, symbols)
    symbols
  }

  /** Recompute every COMMITTED ledger partition's content hash and
    * compare against what was recorded at commit time (reference
    * records `content_hash` per partition, `state/store.py:76-136`;
    * this is the audit verb that consumes it). Driver-side by design:
    * the ledger is single-coordinator state, O(partitions) small files,
    * never touched by the data plane. */
  def auditPartitions(spark: SparkSession): Seq[PartitionAuditResult] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def isIoFailure(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.IOException] || isIoFailure(t.getCause))
    val entries = ledger.all().filter(_.status == "COMMITTED")
      .sortBy(e => (e.symbol, e.day, e.hour))
    // Day-grain entries recompute DISTRIBUTED, and hashing them per
    // entry launched one binaryFile job per committed day — O(days)
    // sequential jobs for a verb that audits the whole lake (guide
    // §1.2; dayContentHashes is one job for ANY number of days). Batch
    // each day-grain family into ONE job — base (hour = -1) and delta
    // (hour = -2) separately, because hashes key on the parsed
    // (y, m, d), which is unique within a family but shared across the
    // two. If a family's batched job fails on unreadable bytes, fall
    // back to the per-entry recompute below so the audit still
    // attributes "unreadable" to the one bad day instead of failing
    // the whole verb (spec-pinned).
    val batched: Map[String, String] =
      entries.filter(e => e.hour < 0 && e.contentHash.nonEmpty &&
          fs.exists(new HPath(e.path)))
        .groupBy(_.hour).valuesIterator.flatMap { family =>
          scala.util.Try(
            MinuteLakeWriter.dayContentHashes(spark, family.map(_.path))) match {
            case scala.util.Success(m) =>
              family.flatMap(e => m.get(DayDirs.ymdOf(e.path)).map(e.path -> _))
            case scala.util.Failure(t) if isIoFailure(t) => Seq.empty
            case scala.util.Failure(other) => throw other
          }
        }.toMap
    entries
      .map { e =>
        // recompute with the SAME function that recorded the hash:
        // hourly entries (hour ≥ 0) hashed on the driver at commit;
        // day-grain wide entries (hour < 0) hashed distributed — served
        // from the batched pass above, per-entry only on its fallback
        def recompute(): String =
          if (e.hour < 0)
            batched.getOrElse(e.path,
              MinuteLakeWriter.dayContentHashes(spark, Seq(e.path))
                .getOrElse(DayDirs.ymdOf(e.path), ""))
          else MinuteLakeWriter.contentHashOfDir(fs, e.path)
        val issue =
          if (!fs.exists(new HPath(e.path))) "missing_partition"
          else if (e.contentHash.isEmpty) "no_recorded_hash"
          else
            scala.util.Try(recompute()) match {
              case scala.util.Success(h) if h == e.contentHash => "ok"
              case scala.util.Success(_) => "hash_mismatch"
              // e.g. Hadoop's ChecksumFileSystem already refusing the
              // bytes — corrupt either way, but distinguishable (the
              // distributed path surfaces it wrapped in a SparkException)
              case scala.util.Failure(t) if isIoFailure(t) => "unreadable"
              case scala.util.Failure(other) => throw other
            }
        PartitionAuditResult(e.symbol, e.day, e.hour, e.path, issue)
      }
  }

  /** Bulk path: write a multi-hour canonical frame in one
    * dynamic-partition-overwrite job. With `merge = true` the touched
    * hour partitions are first read back (semi-join on the inferred
    * partition columns so Catalyst prunes the scan) and merged with the
    * same last-wins + LIVE_ONLY-preserve policy as
    * [[writeHourPartition]], staged through `.tmp` because the plan
    * reads the directory it overwrites — O(1) Spark jobs in the number
    * of hours either way. */
  def writePartitionedBulk(frame: DataFrame, symbol: String,
                           merge: Boolean = false): Unit = {
    if (committer.readThroughResolve) {
      // manifest deployment: every hour leaf must be committed through
      // the pointer — a dynamic-partition overwrite would land plain
      // dirs that resolving readers shadow behind any stale pointer.
      // Stage once, then publish per touched hour (cheap filtered
      // re-reads of the staged parquet, not upstream plan re-runs).
      writePartitionedBulkCommitted(frame, symbol, merge)
      return
    }
    val spark = frame.sparkSession
    val lakeDir = s"$root/futures/um/minute"
    val symbolDir = s"$lakeDir/symbol=${symbol.toUpperCase}"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withPartCols(df: DataFrame): DataFrame = df
      .withColumn("symbol", lit(symbol.toUpperCase))
      .withColumn("year", date_format(col("timestamp"), "yyyy"))
      .withColumn("month", date_format(col("timestamp"), "MM"))
      .withColumn("day", date_format(col("timestamp"), "dd"))
      .withColumn("hour", date_format(col("timestamp"), "HH"))

    val hasExisting = merge && fs.exists(new HPath(symbolDir)) &&
      fs.listStatus(new HPath(symbolDir)).nonEmpty
    val tmp =
      if (!hasExisting) None
      else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val effective = tmp match {
      case None => frame
      case Some(t) =>
        val touched = withPartCols(frame)
          .select(col("year").cast("int").as("year"),
                  col("month").cast("int").as("month"),
                  col("day").cast("int").as("day"),
                  col("hour").cast("int").as("hour"))
          .distinct()
        val existingTouched = spark.read.parquet(symbolDir)
          .join(broadcast(touched), Seq("year", "month", "day", "hour"), "left_semi")
          .drop("year", "month", "day", "hour")
        mergePartitionFrames(existingTouched, frame)
          .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(t)
        spark.read.parquet(t)
    }

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      withPartCols(effective)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("symbol", "year", "month", "day", "hour")
        .option("compression", "zstd")
        .parquet(lakeDir)
    } finally tmp.foreach(t => fs.delete(new HPath(t), true))
  }

  /** Manifest-deployment form of [[writePartitionedBulk]] — see the
    * fallback note there. `merge = true` routes each hour through
    * [[writeHourPartition]] (manifest-resolved read-merge + publish);
    * `merge = false` keeps replace semantics: the slice is published
    * as the partition's whole new version. */
  private def writePartitionedBulkCommitted(frame: DataFrame, symbol: String,
                                            merge: Boolean): Unit = {
    val spark = frame.sparkSession
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val stageDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    frame.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(stageDir)
    try {
      val staged = spark.read.parquet(stageDir)
      val hours = staged.select(date_trunc("hour", col("timestamp")).as("h"))
        .distinct().collect().map(_.getTimestamp(0)).sortBy(_.getTime)
      hours.foreach { h =>
        val slice = staged.where(date_trunc("hour", col("timestamp")) === h)
        if (merge) writeHourPartition(symbol, h.toInstant, slice)
        else {
          val tmp = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
          slice.coalesce(1).write.mode(SaveMode.Overwrite)
            .option("compression", "zstd").parquet(tmp)
          committer.publish(fs, tmp, partitionDir(symbol, h.toInstant))
        }
      }
    } finally fs.delete(new HPath(stageDir), true)
  }

  /** Day-wide bulk write ([[LakeLayout.DayWide]]): a multi-symbol,
    * multi-day canonical frame (must carry a `symbol` column) lands as
    * ONE dynamic-partition-overwrite job into `year=/month=/day=`
    * partitions, each day's data range-partitioned and sorted by
    * (symbol, timestamp) into `filesPerDay` files — so the file
    * population is O(days × filesPerDay) regardless of lake width, and
    * parquet min/max stats on the sorted symbol column give per-symbol
    * file skipping that replaces the per-symbol directory tree.
    *
    * `merge = true` reads back ONLY the touched day partitions
    * (semi-join on the inferred partition ints, Catalyst prunes) and
    * applies the SAME last-wins + LIVE_ONLY-preserve policy as the
    * hourly paths, keyed by (symbol, timestamp); symbols present in a
    * touched day but absent from `frame` survive the rewrite because the
    * merge read is keyed by day, not by symbol.
    *
    * The incoming frame is always staged through `.tmp` parquet first:
    * the day-count, the range-partitioner's sampling pass, and the final
    * write would otherwise each re-evaluate an arbitrary upstream plan
    * (and the merge plan reads the directory it overwrites). One extra
    * columnar materialization of the increment buys single-evaluation
    * semantics — the standard shape on an object store too. */
  def writeDaysWide(frame: DataFrame, merge: Boolean = false): Unit = {
    val filesPerDay = layout match {
      case LakeLayout.DayWide(f) => f
      case LakeLayout.HourlySymbol =>
        throw new IllegalStateException(
          "writeDaysWide requires LakeLayout.DayWide; this writer is hourly-symbol")
    }
    val spark = frame.sparkSession
    val lakeDir = s"$root/futures/um/minute"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withPartCols(df: DataFrame): DataFrame = df
      .withColumn("year", date_format(col("timestamp"), "yyyy"))
      .withColumn("month", date_format(col("timestamp"), "MM"))
      .withColumn("day", date_format(col("timestamp"), "dd"))

    // stage the increment through .tmp parquet once (see Scaladoc): day
    // stats, range sampling, the merge read, and the final write must
    // not re-run the caller's aggregation plan. r20 briefly swapped this
    // for a MEMORY_AND_DISK persist; the driver's ground-truth bench
    // showed that collapsing 4-5× at 32 cores under memory pressure
    // (s16 8.5→32.6 s, s18 12.0→62.1 s) while 8 cores stayed at r19
    // levels — a bulk increment is O(corpus) by this verb's contract,
    // the one thing never pinned to executor storage unconditionally
    // (guide §5). Parquet staging also guarantees a recompute-free read:
    // a persisted block lost mid-write on a cluster would recompute from
    // the caller's plan, which for merge writes reads the very lake
    // directory the dynamic-partition overwrite is replacing (r20
    // ADVICE #2). Reverted r21; the r20 stats-pass fusion stays.
    val stageDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    var mergeTmpDir: Option[String] = None
    frame.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(stageDir)
    try {
      val staged = spark.read.parquet(stageDir)
      // ONE stats pass over the staged increment serves the touched-day
      // set, the per-day patch bounds, and the symbol registry (r20):
      // these were four separate jobs (touched distinct, registerSymbols
      // distinct, bounds, patchBounds) — each a full pass over the
      // staged parquet, pure fixed cost per bulk write. The per-day
      // symbol sets are width-bounded (strings per day), the same bound
      // the registry write already carries.
      val stagedStats = withPartCols(staged)
        .groupBy(col("year").cast("int").as("y"),
                 col("month").cast("int").as("m"),
                 col("day").cast("int").as("d"))
        .agg(count(lit(1)).as("n"),
             unix_micros(min(col("timestamp"))).as("mn"),
             unix_micros(max(col("timestamp"))).as("mx"),
             collect_set(upper(col("symbol"))).as("syms"))
        .collect()
      val touched = stagedStats.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      val nDays = touched.length.max(1)

      val hasExisting = merge && fs.exists(new HPath(lakeDir)) &&
        fs.listStatus(new HPath(lakeDir)).nonEmpty
      val mergeTmp =
        if (!hasExisting) None
        else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
      mergeTmpDir = mergeTmp
      val effective = mergeTmp match {
        case None => staged
        case Some(t) =>
          // read the touched day dirs EXPLICITLY — a root-read +
          // partition semi-join still LISTS every file in the lake
          // before pruning, so merging one day into a years-deep lake
          // paid O(depth) listing (same fix as the reader paths); the
          // walk itself descends only the touched years/months
          val touchedDirs = DayDirs.matching(fs, lakeDir, touched.toSet)
          if (touchedDirs.isEmpty) staged
          else {
            val existingTouched = spark.read.option("basePath", lakeDir)
              .parquet(touchedDirs: _*).drop("year", "month", "day")
            mergePartitionFramesKeyed(existingTouched, staged, Seq("symbol", "timestamp"))
              .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(t)
            spark.read.parquet(t)
          }
      }

      // register BEFORE publishing data (r15 advice #2): a reader
      // racing the gap between data commit and a late registration
      // would falsely deny a just-committed NEW symbol; early
      // registration is safe (superset)
      registerSymbolSet(fs,
        stagedStats.iterator.flatMap(_.getSeq[String](6)).toSet)

      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // sort by the PARTITION columns first: FileFormatWriter's required
      // ordering for a dynamic-partition write is (year, month, day), and
      // a sort that doesn't already satisfy it gets an extra SortExec on
      // just those columns inserted above the write — which is not
      // guaranteed stable, so the (symbol, timestamp) clustering the
      // layout's file-stat pruning depends on could silently scramble.
      // Leading with them makes the writer's requirement already met.
      withPartCols(effective)
        .repartitionByRange(nDays * filesPerDay,
          col("year"), col("month"), col("day"), col("symbol"), col("timestamp"))
        .sortWithinPartitions("year", "month", "day", "symbol", "timestamp")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("year", "month", "day")
        .option("compression", "zstd")
        .parquet(lakeDir)

      // S13 at day grain: commit one ledger row per touched day
      // (symbol = "__ALL__", hour = -1) with row bounds and a content
      // hash over the day's files — the same tamper/delete audit surface
      // the hourly path records per symbol-hour, computed DISTRIBUTED
      // (one executors-side hash job for all touched days) because a
      // bulk day at production width is hundreds of MB
      val committedDirs = DayDirs.matching(fs, lakeDir, touched.toSet)
        .map(p => DayDirs.ymdOf(p) -> p).toMap
      // bounds via unix_micros + driver-side UTC render: the strings are
      // windowed on by the incremental tick, so they must not depend on
      // the session time zone (ADVICE r16 #1; see LedgerBounds). When
      // nothing was merged, effective IS staged and the stats pass above
      // already holds its per-day bounds — no second job. When a merge
      // DID produce a bounds job, it is independent of the content-hash
      // read (merge tmp rows vs committed raw bytes), so the two jobs
      // overlap (guide §2.6) and the write pays max, not sum.
      val (hashes, bounds) = MinuteLakeWriter.overlap(
        MinuteLakeWriter.dayContentHashes(spark, committedDirs.values.toSeq)) {
        if (mergeTmp.isEmpty || (effective eq staged))
          stagedStats.toSeq.map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
            r.getLong(3), r.getLong(4), r.getLong(5)))
        else withPartCols(effective)
          .groupBy(col("year").cast("int").as("y"),
                   col("month").cast("int").as("m"),
                   col("day").cast("int").as("d"))
          .agg(count(lit(1)).as("n"),
               unix_micros(min(col("timestamp"))).as("mn"),
               unix_micros(max(col("timestamp"))).as("mx"))
          .collect().toSeq
          .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
            r.getLong(3), r.getLong(4), r.getLong(5)))
      }
      // patch bounds: what THIS write touched, per day — the staged
      // increment's bounds, not the merged day's (both come from the
      // shared stats pass). The incremental tick's data-driven repair
      // window reads these; without them a one-minute merge into today
      // attributes the change to the whole day and the tick
      // re-aggregates day-to-date × width per poll
      val patchBounds = stagedStats
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
          (LedgerBounds.iso(r.getLong(4)), LedgerBounds.iso(r.getLong(5)))).toMap
      // A non-merge rewrite of an ALREADY-COMMITTED day can shrink it:
      // rows earlier than the new content's min vanish, and a patch
      // range covering only the new content would leave those minutes
      // outside every change window — the gated tick would skip repairs
      // the blind lookback used to catch (ADVICE r16 #3). Widen such a
      // day's patch bounds to the union of the superseded line's CONTENT
      // bounds and the new increment's.
      val priorContentBounds: Map[String, (String, String)] =
        if (merge) Map.empty
        else ledger.all()
          .filter(e => e.symbol == "__ALL__" && e.status == "COMMITTED")
          .map(e => e.day -> (e.minTs, e.maxTs)).toMap
      bounds.foreach { case (ymd, nRows, mnMicros, mxMicros) =>
        committedDirs.get(ymd).foreach { dayDir =>
          val dayKey = f"${ymd._1}%04d-${ymd._2}%02d-${ymd._3}%02d"
          val patch = patchBounds.get(ymd).map { case (mn, mx) =>
            priorContentBounds.get(dayKey) match {
              case Some((oldMn, oldMx)) =>
                val lo = Seq(Some(mn), Option(oldMn).filter(_.nonEmpty))
                  .flatten.flatMap(s => LedgerBounds.parse(s).map(_ -> s))
                  .minByOption(_._1).map(_._2).getOrElse(mn)
                val hi = Seq(Some(mx), Option(oldMx).filter(_.nonEmpty))
                  .flatten.flatMap(s => LedgerBounds.parse(s).map(_ -> s))
                  .maxByOption(_._1).map(_._2).getOrElse(mx)
                (lo, hi)
              case None => (mn, mx)
            }
          }
          ledger.upsert(PartitionLedgerEntry(
            symbol = "__ALL__",
            day = dayKey,
            hour = -1,
            path = dayDir,
            rowCount = nRows,
            minTs = LedgerBounds.iso(mnMicros),
            maxTs = LedgerBounds.iso(mxMicros),
            schemaHash = CanonicalSchema.schemaHash,
            status = "COMMITTED",
            committedAtUtc = Instant.now.toString,
            contentHash = hashes.getOrElse(ymd, ""),
            patchMinTs = patch.map(_._1).getOrElse(""),
            patchMaxTs = patch.map(_._2).getOrElse("")))
        }
      }
    } finally {
      // stage + merge tmp both cleaned on failure too
      fs.delete(new HPath(stageDir), true)
      mergeTmpDir.foreach(t => fs.delete(new HPath(t), true))
    }
  }

  /** Bounded POINT repair for the day-wide layout (VERDICT r13 #1): a
    * late patch lands as a small DELTA file beside the day's base files
    * instead of rewriting day × all-symbols — O(patch) work where
    * [[writeDaysWide]]`(merge = true)` is O(day) (measured 164.6 s/day
    * at width 100k; the reference's repair cadence, 2 h lookback polled
    * every 30 s (`aggregator/config.py:17-21`), makes point repairs the
    * COMMON case, so they must not pay the day rewrite).
    *
    * Physics: `frame` (must carry `symbol`) is appended under
    * `minute/_delta/year=/month=/day=` with a monotone `__delta_seq`
    * stamp. Readers overlay base ∪ delta through the shared
    * [[MinuteLakeWriter.mergeKeyed]] last-wins policy (delta wins;
    * among deltas the highest `__delta_seq` wins), so a patch is
    * visible immediately and pre-/post-compaction results are
    * identical by construction. [[compactWideDeltas]] folds deltas
    * into the base on a threshold.
    *
    * Invariant: every patched day must already have a BASE day
    * partition (new days go through [[writeDaysWide]]) — this keeps
    * delta days ⊆ base days, which the readers' probe paths rely on.
    *
    * S13: each touched delta day gets a day-grain ledger row
    * (symbol `__DELTA__`, hour −2) with row bounds and a distributed
    * content hash over the day's delta files, so tamper/delete audit
    * covers the delta tree exactly like the base.
    *
    * @return the touched delta day directories */
  def writeDeltaPatch(frame0: DataFrame): Seq[String] = {
    layout match {
      case LakeLayout.DayWide(_) => ()
      case LakeLayout.HourlySymbol =>
        throw new IllegalStateException(
          "writeDeltaPatch requires LakeLayout.DayWide; hourly repairs " +
            "rewrite their one symbol-hour partition (already O(patch))")
    }
    // pin the patch once: four actions consume it (touched-days collect,
    // DQ validation, symbol registration, the write itself), and the
    // caller's frame is typically the tail of a pipeline — unpinned,
    // that whole upstream re-ran per action (measured 3.5–6.3 s of the
    // s16/s18 bench rows for a patch whose own write job is ~50 ms).
    // O(patch) memory by this method's contract: a patch is small.
    val frame = frame0.persist()
    try writeDeltaPatchPinned(frame)
    finally { frame.unpersist(); () }
  }

  private def writeDeltaPatchPinned(frame: DataFrame): Seq[String] = {
    val spark = frame.sparkSession
    val lakeDir = s"$root/futures/um/minute"
    val deltaRoot = s"$lakeDir/${MinuteLakeWriter.DeltaSubdir}"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withPartCols(df: DataFrame): DataFrame = df
      .withColumn("year", date_format(col("timestamp"), "yyyy"))
      .withColumn("month", date_format(col("timestamp"), "MM"))
      .withColumn("day", date_format(col("timestamp"), "dd"))

    // ONE pass over the pinned patch serves the DQ gate, the touched-day
    // set, and the symbol registry (r20): previously three separate
    // full-frame jobs. Both extra sets are tiny by the patch contract
    // (days touched, symbols present).
    val (_, extras) = DQValidator.validateKeyedCollecting(
      frame, Seq("symbol", "timestamp"),
      Seq(collect_set(struct(
            year(col("timestamp")).as("y"),
            month(col("timestamp")).as("m"),
            dayofmonth(col("timestamp")).as("d"))).as("__days"),
          collect_set(upper(col("symbol"))).as("__syms")))
    val touched = extras(0).asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    if (touched.isEmpty) return Seq.empty
    val baseDays = DayDirs.matching(fs, lakeDir, touched).map(DayDirs.ymdOf).toSet
    require(touched.subsetOf(baseDays),
      s"writeDeltaPatch: days ${touched -- baseDays} have no base partition — " +
        "route new days through writeDaysWide; deltas only overlay existing days")

    // monotone patch stamp: 1 + max over the existing delta population
    // (bounded small by compaction — one metadata walk + one tiny scan;
    // no counter file, so there is no crash window that could reset it)
    val existingDeltaDays = DayDirs.ascending(fs, deltaRoot)
    val seq =
      if (existingDeltaDays.isEmpty) 1L
      else {
        val r = spark.read.parquet(existingDeltaDays: _*)
          .agg(max("__delta_seq")).collect()(0)
        if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
      }

    // a patch can introduce a symbol new to the lake (only the DAY must
    // pre-exist) — register BEFORE the append (r15 advice #2: premature
    // registration is safe, late registration races readers into
    // denying the new symbol)
    registerSymbolSet(fs,
      extras(1).asInstanceOf[scala.collection.Seq[String]].toSet)

    withPartCols(frame)
      .coalesce(1)
      .sortWithinPartitions("year", "month", "day", "symbol", "timestamp")
      .withColumn("__delta_seq", lit(seq))
      .write.mode(SaveMode.Append)
      .partitionBy("year", "month", "day")
      .option("compression", "zstd")
      .parquet(deltaRoot)

    // ledger rows re-read the written dirs so the recorded bounds/hash
    // cover the day's WHOLE delta population (prior patches included) —
    // the same surface auditPartitions recomputes. The two audit reads
    // are INDEPENDENT jobs over the same small dirs (raw bytes for the
    // tamper hash, decoded rows for the bounds): submit the hash from a
    // helper thread while the bounds job runs, so the patch pays
    // max(hash, bounds) instead of their sum (guide §2.6 — actions are
    // only sequential because the driver calls them sequentially).
    val deltaDirs = DayDirs.matching(fs, deltaRoot, touched)
    val (hashes, bounds) = MinuteLakeWriter.overlap(
      MinuteLakeWriter.dayContentHashes(spark, deltaDirs)) {
      spark.read.option("basePath", deltaRoot).parquet(deltaDirs: _*)
        .groupBy(col("year").cast("int").as("y"),
                 col("month").cast("int").as("m"),
                 col("day").cast("int").as("d"))
        .agg(count(lit(1)).as("n"),
             unix_micros(min(col("timestamp"))).as("mn"),
             unix_micros(max(col("timestamp"))).as("mx"))
        .collect()
    }
    val dirByYmd = deltaDirs.map(p => DayDirs.ymdOf(p) -> p).toMap
    bounds.foreach { r =>
      val ymd = (r.getInt(0), r.getInt(1), r.getInt(2))
      dirByYmd.get(ymd).foreach { dayDir =>
        val (mn, mx) = (LedgerBounds.iso(r.getLong(4)), LedgerBounds.iso(r.getLong(5)))
        ledger.upsert(PartitionLedgerEntry(
          symbol = "__DELTA__",
          day = f"${ymd._1}%04d-${ymd._2}%02d-${ymd._3}%02d",
          hour = -2,
          path = dayDir,
          rowCount = r.getLong(3),
          minTs = mn,
          maxTs = mx,
          schemaHash = CanonicalSchema.schemaHash,
          status = "COMMITTED",
          committedAtUtc = Instant.now.toString,
          contentHash = hashes.getOrElse(ymd, ""),
          // a delta IS its own patch: these bounds are the increment's
          patchMinTs = mn,
          patchMaxTs = mx))
      }
    }
    deltaDirs
  }

  /** Fold accumulated deltas back into the day-wide base — the
    * threshold companion of [[writeDeltaPatch]]: delta days holding at
    * least `minFilesPerDay` delta files are merged into their base day
    * partitions through ONE [[writeDaysWide]]`(merge = true)` job
    * (same last-wins + LIVE_ONLY-preserve policy the read overlay
    * applies, so compaction never changes what a reader sees), then
    * the folded delta dirs are deleted and their `__DELTA__` ledger
    * rows flipped to DROPPED (base day rows were re-committed with
    * fresh hashes by the bulk write, so the audit stays coherent).
    *
    * Crash-safe by idempotence: if the fold commits but the delete is
    * lost, the surviving deltas re-overlay rows the base now already
    * holds — the merge is a fixpoint — and the next compaction retries
    * the delete.
    *
    * @return the delta day directories folded and removed */
  def compactWideDeltas(spark: SparkSession, minFilesPerDay: Int = 1): Seq[String] = {
    require(minFilesPerDay >= 1, "minFilesPerDay must be at least 1")
    compactWideDeltasWhere(spark)((files, _) => files >= minFilesPerDay)
  }

  /** Policy-driven compaction for the ingestion tick (VERDICT r14 #2):
    * a delta day folds when it holds at least `policy.minFilesPerDay`
    * delta files (read-overlay cost bound) OR its oldest delta file is
    * older than `policy.maxAgeMinutes` relative to `now` (staleness
    * bound — a quiet day with two ancient patches must not carry them
    * forever). The DeltaAccumProbe showed overlay cost stays flat
    * across accumulated deltas, so the cadence is an economics knob,
    * not a correctness one: readers see identical rows pre-/post-fold
    * by construction (one shared [[MinuteLakeWriter.mergeKeyed]]).
    * Owned by [[graft.pipeline.Orchestrator.MinutePipeline]]'s tick. */
  def compactWideDeltasIfDue(spark: SparkSession, now: Instant,
                             policy: CompactionPolicy): Seq[String] = {
    require(policy.minFilesPerDay >= 1, "minFilesPerDay must be at least 1")
    val cutoffMs = now.toEpochMilli - policy.maxAgeMinutes * 60000L
    compactWideDeltasWhere(spark) { (files, oldestMtimeMs) =>
      files >= policy.minFilesPerDay || oldestMtimeMs <= cutoffMs
    }
  }

  /** Shared fold machinery behind the two eligibility surfaces; the
    * predicate sees (parquet-file count, oldest file mtime ms) per
    * delta day. */
  private def compactWideDeltasWhere(spark: SparkSession)
                                    (due: (Int, Long) => Boolean): Seq[String] = {
    val lakeDir = s"$root/futures/um/minute"
    val deltaRoot = s"$lakeDir/${MinuteLakeWriter.DeltaSubdir}"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(deltaRoot))) return Seq.empty
    val eligible = DayDirs.ascending(fs, deltaRoot).filter { d =>
      val parquets = fs.listStatus(new HPath(d))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      parquets.nonEmpty &&
        due(parquets.length, parquets.map(_.getModificationTime).min)
    }
    if (eligible.isEmpty) return Seq.empty

    // collapse the delta population first (last-wins by __delta_seq per
    // key) so the bulk merge sees ONE fresh row per (symbol, timestamp)
    val folded = Ops.dedupKeepLast(
      spark.read.option("basePath", deltaRoot).parquet(eligible: _*)
        .drop("year", "month", "day"),
      Seq("symbol", "timestamp"), Seq(col("__delta_seq")))
      .drop("__delta_seq")
    writeDaysWide(folded, merge = true)

    eligible.foreach(d => fs.delete(new HPath(d), true))
    // prune emptied month=/year= parents (two levels is the tree depth)
    var parents = eligible.map(d => new HPath(d).getParent).distinct
    (0 until 2).foreach { _ =>
      val next = parents.filter(p => fs.exists(p) && fs.listStatus(p).isEmpty)
      next.foreach(p => fs.delete(p, false))
      parents = next.map(_.getParent).distinct
    }
    val foldedYmd = eligible.map(DayDirs.ymdOf).toSet
    ledger.all()
      .filter(e => e.hour == -2 && e.status == "COMMITTED" &&
        scala.util.Try(DayDirs.ymdOf(e.path)).toOption.exists(foldedYmd.contains))
      .foreach(e => ledger.upsert(e.copy(status = "DROPPED")))
    eligible
  }
}

/** One row of [[MinuteLakeWriter.auditPartitions]]: `issue` is "ok",
  * "hash_mismatch" (tamper/corruption), "missing_partition" (ledger
  * points at nothing), or "no_recorded_hash" (pre-hash ledger line). */
final case class PartitionAuditResult(symbol: String, day: String, hour: Int,
                                      path: String, issue: String) {
  def ok: Boolean = issue == "ok"
}

object MinuteLakeWriter {

  /** Subdirectory of the day-wide minute lake holding late-patch DELTA
    * files (`_delta/year=/month=/day=`, same day partitioning as the
    * base). Underscore-prefixed so Spark's file listing never picks it
    * up on a base read; readers overlay it explicitly. */
  val DeltaSubdir = "_delta"

  /** Symbol registry of a day-wide lake (`_symbols.json`, one small
    * JSON array): the SUPERSET of symbols the wide writers have ever
    * committed. Readers short-circuit the absent-symbol probe with it
    * (a miss used to pay a full backward lake walk — ~10 s at 2,000
    * days, measured r15); a missing or torn registry degrades to the
    * walk, so it is advisory, never load-bearing for presence. */
  val SymbolsRegistry = "_symbols.json"

  /** Trailing completeness sentinel: a registry read that does not end
    * with it is TORN (a reader racing a non-atomic local create saw a
    * prefix) and must be treated as absent — a partial symbol set would
    * otherwise deny real symbols. Object-store PUTs are atomic, so the
    * sentinel only matters on filesystems without atomic single-object
    * visibility. */
  private val RegistrySentinel = "__COMPLETE__"

  /** Parse the registry; None = absent/unreadable/empty/TORN (callers
    * fall back to the walk — the registry is advisory, never
    * load-bearing for presence). */
  def readSymbolRegistry(fs: FileSystem, lakeDir: String): Option[Set[String]] = {
    val p = new HPath(s"$lakeDir/$SymbolsRegistry")
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val txt =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](8192)
          var n = in.read(b)
          while (n >= 0) { if (n > 0) buf.write(b, 0, n); n = in.read(b) }
          buf.toString(StandardCharsets.UTF_8)
        } finally in.close()
      val syms = """"([^"]+)"""".r.findAllMatchIn(txt).map(_.group(1)).toSet
      if (!syms.contains(RegistrySentinel)) return None // torn prefix
      val live = syms - RegistrySentinel
      if (live.isEmpty) None else Some(live)
    } catch { case _: Exception => None }
  }

  /** Never-torn registry replace: stage to a temp file, DELETE the old
    * registry, single-FILE rename the temp into place (Hadoop rename
    * refuses to overwrite, so the delete is required; on an object
    * store the whole step is one atomic PUT). A crash inside the
    * delete→rename window leaves the registry ABSENT — which readers
    * treat as walk-the-lake, the safe degraded mode — never a torn or
    * fresh-only body that would deny committed symbols (r15 advice;
    * [[MinuteLakeWriter.rebuildSymbolRegistry]] heals an absent one). */
  private[sources] def writeSymbolRegistry(fs: FileSystem, lakeDir: String,
                                           symbols: Set[String]): Unit = {
    val tmp = new HPath(s"$lakeDir/.$SymbolsRegistry." +
      java.util.UUID.randomUUID().toString.replace("-", "") + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(registryBody(symbols))
    finally out.close()
    val live = new HPath(s"$lakeDir/$SymbolsRegistry")
    if (fs.exists(live)) fs.delete(live, false)
    if (!fs.rename(tmp, live))
      throw new RuntimeException(s"symbol registry swap failed under $lakeDir")
  }

  private[sources] def registryBody(symbols: Set[String]): Array[Byte] =
    (symbols.toSeq.sorted :+ RegistrySentinel)
      .map(sym => "\"" + sym + "\"").mkString("[", ",", "]")
      .getBytes(StandardCharsets.UTF_8)

  /** Last-wins + LIVE_ONLY-preserve merge of `fresh` over `existing`,
    * keyed by `keys` — the ONE merge policy every write path and the
    * read-time delta overlay share (reference `atomic.py:65-97`):
    * fresh rows win on key collision; coverage flags (has_ws_latency /
    * has_depth / has_liq) are bool-OR'd; every other LIVE_ONLY column
    * is coalesce(fresh, existing). */
  def mergeKeyed(existing: DataFrame, fresh: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val coverage = Set("has_ws_latency", "has_depth", "has_liq")
    val liveOnly = CanonicalSchema.liveOnly

    val merged = Ops.dedupKeepLast(
      existing.withColumn("__src", lit(0)).unionByName(fresh.withColumn("__src", lit(1))),
      keys, Seq(col("__src"))).drop("__src")

    val existingLive = existing.select(
      (keys.map(col) ++ liveOnly.map(c => col(c).as(s"${c}__existing"))): _*)

    val joined = merged.join(existingLive, keys, "left")
    val preserved = liveOnly.foldLeft(joined) { (df, c) =>
      val ex = col(s"${c}__existing")
      val expr =
        if (coverage.contains(c))
          coalesce(col(c), lit(false)) || coalesce(ex, lit(false))
        else coalesce(col(c), ex)
      df.withColumn(c, expr)
    }
    val outCols = keys.filterNot(CanonicalSchema.columnNames.contains) ++
      CanonicalSchema.columnNames
    preserved.select(outCols.map(col): _*)
  }

  /** Run `background` on one helper thread while `foreground` runs on
    * the caller's thread, returning both results. Exists for the
    * writers' post-write audit pair — the content-hash job (raw bytes)
    * and the bounds job (decoded rows) read the same just-written day
    * dirs and share no state, so the commit tail pays
    * max(hash, bounds) instead of their sum (guide §2.6: Spark happily
    * runs concurrent jobs; actions are only sequential because the
    * driver calls them sequentially). Rethrows the background's
    * original failure; the helper thread never outlives the call. */
  private[graft] def overlap[A, B](background: => A)(foreground: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val bg = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = background
      })
      val fg =
        try foreground
        catch { case e: Throwable => bg.cancel(true); throw e }
      val a =
        try bg.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      (a, fg)
    } finally pool.shutdown()
  }

  /** SHA-256 over a partition directory's data files (reference hashes
    * the single parquet file, `atomic.py:108-114`; a Spark partition is
    * a directory, so the digest covers each data file's name + bytes in
    * sorted-name order — metadata files like _SUCCESS and .crc are
    * excluded because they differ across committers without the data
    * changing). */
  /** Distributed content hashes for day-wide partitions, keyed by the
    * parsed (year, month, day) of each file's parent dir: per-file
    * SHA-256 computed on EXECUTORS (binaryFile source — it skips `_`/`.`
    * metadata files), combined per day in file-name order. One Spark job
    * for ANY number of days. The hourly path hashes its one coalesced
    * file on the driver at commit ([[contentHashOfDir]]); a bulk day at
    * width 10k+ is hundreds of MB × many days — driver-side hashing
    * would serialize the data plane, so the bulk path distributes it.
    * binaryFile materializes one file per row (hard cap 2 GB); the
    * `filesPerDay` sizing keeps wide files well under it (~300 MB at
    * width 100k ÷ 32 files). */
  def dayContentHashes(spark: SparkSession,
                       dayDirs: Seq[String]): Map[(Int, Int, Int), String] = {
    if (dayDirs.isEmpty) return Map.empty
    import spark.implicits._
    val perFile = spark.read.format("binaryFile").load(dayDirs: _*)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val cut = p.lastIndexOf('/')
        val name = p.substring(cut + 1)
        val d = java.security.MessageDigest.getInstance("SHA-256")
        d.update(name.getBytes(StandardCharsets.UTF_8))
        d.update(bytes)
        (p.substring(0, cut), name, d.digest().map("%02x".format(_)).mkString)
      }.collect()
    perFile.groupBy(f => DayDirs.ymdOf(f._1)).map { case (ymd, files) =>
      val combined = java.security.MessageDigest.getInstance("SHA-256")
      files.sortBy(_._2).foreach { case (_, n, h) =>
        combined.update(n.getBytes(StandardCharsets.UTF_8))
        combined.update(h.getBytes(StandardCharsets.UTF_8))
      }
      ymd -> combined.digest().map("%02x".format(_)).mkString
    }
  }

  def contentHashOfDir(fs: FileSystem, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    val files = DayDirs.dataFiles(fs, dir).map(_.getPath).sortBy(_.getName)
    val buf = new Array[Byte](1024 * 1024)
    files.foreach { p =>
      digest.update(p.getName.getBytes(StandardCharsets.UTF_8))
      val in = fs.open(p)
      try {
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) digest.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    digest.digest().map("%02x".format(_)).mkString
  }

  /** Atomic publish (reference `atomic.py:38-44`): rename the previous
    * partition directory aside (into the dot-prefixed tmp area, which
    * readers never list), rename the freshly-written tmp directory into
    * place, then delete the aside copy. Readers see the old or the new
    * partition except during the instant between the two renames (a
    * brief missing-partition window); a crash in that window leaves the
    * old data recoverable under `.tmp` rather than lost.
    *
    * OBJECT-STORE SEAM: rename is copy+delete on S3 — the
    * [[CommitProtocol]] trait is the executable seam (this method is
    * its rename-default, kept as the writers' shared shorthand); a
    * cluster deployment constructs the writers with [[ManifestCommit]]
    * instead (manifest pointer swap; see SURVEY §4.1 and
    * CommitSeamSpec's crash matrix). */
  def publishAtomically(fs: FileSystem, tmpDir: String, finalDir: String): Unit =
    RenameCommit.publish(fs, tmpDir, finalDir)
}

/** One staged day directory swapped into place with rename-ASIDE
  * semantics (r21, r20 ADVICE #1): the live day moves into the
  * dot-prefixed tmp area (readers never list it) BEFORE the
  * replacement renames in, and is restored if the promote fails — by a
  * false return OR an in-JVM exception — so a transient rename failure
  * is never day-level data loss. After a failed promote the target is
  * either absent (atomic-rename FS: the old content was already moved
  * aside) or a partial copy of the NEW data (object-store
  * copy-then-delete rename) — never the superseded content — so the
  * restore may delete it before renaming the aside back. A process
  * death mid-swap leaves the superseded day recoverable under the
  * aside dir in `.tmp` (the r20 delete→promote shape destroyed it).
  * Day-granular, non-atomic across days, same as the
  * dynamic-partition commit this path replaced; the manifest committer
  * remains the atomicity answer. */
private[graft] object WideDayPublish {
  def swap(fs: FileSystem, srcDay: String, target: HPath, aside: HPath): Unit = {
    val hadOld = fs.exists(target)
    if (hadOld) {
      fs.mkdirs(aside.getParent)
      if (!fs.rename(target, aside))
        throw new java.io.IOException(
          s"bulk publish: aside rename $target -> $aside failed; " +
            "day left untouched")
    }
    fs.mkdirs(target.getParent)
    def restore(): Unit = {
      fs.delete(target, true) // absent or partial NEW data — never the old
      if (hadOld && !fs.rename(aside, target))
        throw new java.io.IOException(
          s"bulk publish: promote to $target failed AND the aside " +
            s"restore failed; prior content is at $aside")
    }
    val promoted =
      try fs.rename(new HPath(srcDay), target)
      catch {
        case e if scala.util.control.NonFatal(e) => restore(); throw e
      }
    if (!promoted) {
      restore()
      throw new java.io.IOException(
        s"bulk publish: rename $srcDay -> $target failed" +
          (if (hadOld) "; prior day content restored" else ""))
    }
  }
}

/** HTF bucket writer (reference `aggregator/target_writer.py:14-69`):
  * layout `timeframe=T/symbol=S/year=/month=/day=/`, merge-dedup by
  * bucket_start keep-last. With [[LakeLayout.DayWide]] the per-symbol
  * directory level disappears (`timeframe=T/year=/month=/day=/`, symbol
  * as a sorted data column, `filesPerDay` files per day per timeframe)
  * — at width 10k the hourly-era HTF tree is 10k files/day/timeframe,
  * the same file-count wall the minute lake hit (SURVEY §8.15). */
class HtfLakeWriter(root: String,
                    val layout: LakeLayout = LakeLayout.HourlySymbol,
                    val committer: CommitProtocol = RenameCommit) {

  def partitionDir(timeframe: String, symbol: String, day: java.time.LocalDate): String =
    f"$root/timeframe=$timeframe/symbol=${symbol.toUpperCase}/year=${day.getYear}%04d/" +
      f"month=${day.getMonthValue}%02d/day=${day.getDayOfMonth}%02d"

  def symbolDir(timeframe: String, symbol: String): String =
    s"$root/timeframe=$timeframe/symbol=${symbol.toUpperCase}"

  /** Bulk path (reference `target_writer.py:59-69`, re-planned for a
    * cluster): merge-dedup the incoming buckets against ONLY the touched
    * day partitions and rewrite them all in ONE dynamic-partition-
    * overwrite job — O(1) Spark jobs in the number of days, vs the
    * per-day loop of [[writeBuckets]] which re-ran the upstream plan
    * once per day.
    *
    * Existing sibling buckets inside a touched day that are not in
    * `buckets` survive via the merge (last-wins on `bucket_start`,
    * incoming wins). Because the merged plan reads the same directory it
    * overwrites, the merge is staged through a `.tmp` parquet dir
    * (2 sequential jobs); a fresh lake skips the staging (1 job).
    */
  def writeBucketsBulk(spark: SparkSession, timeframe: String, symbol: String,
                       buckets: DataFrame, callerPinned: Boolean = false): Unit = {
    layout match {
      case LakeLayout.DayWide(f) =>
        // aggregateMinutes output always carries `symbol`, so the
        // per-symbol call is just a width-1 slice of the wide path
        writeBucketsBulkAllSymbolsWide(spark, timeframe, buckets, f,
          callerPinned = callerPinned); return
      case LakeLayout.HourlySymbol => ()
    }
    if (committer.readThroughResolve) {
      // manifest deployment: dynamic-partition overwrite lands PLAIN
      // day dirs, which a resolving reader would shadow behind any
      // pointer already committed for that day — bulk writes must go
      // through the committer too (see writeBucketsBulkCommitted)
      writeBucketsBulkCommitted(spark, timeframe, buckets, Some(symbol))
      return
    }
    val dir = symbolDir(timeframe, symbol)
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withDayCols(df: DataFrame): DataFrame = df
      .withColumn("year", date_format(col("bucket_start"), "yyyy"))
      .withColumn("month", date_format(col("bucket_start"), "MM"))
      .withColumn("day", date_format(col("bucket_start"), "dd"))

    val hasExisting = fs.exists(new HPath(dir)) && fs.listStatus(new HPath(dir)).nonEmpty
    val merged =
      if (!hasExisting) buckets
      else {
        // Semi-join on the INFERRED partition columns (ints) so Catalyst
        // can partition-prune the existing scan down to touched days.
        val touchedDays = withDayCols(buckets)
          .select(col("year").cast("int").as("year"),
                  col("month").cast("int").as("month"),
                  col("day").cast("int").as("day"))
          .distinct()
        val existingTouched = spark.read.parquet(dir)
          .join(broadcast(touchedDays), Seq("year", "month", "day"), "left_semi")
          .drop("year", "month", "day")
        Ops.dedupKeepLast(
          existingTouched.withColumn("__src", lit(0))
            .unionByName(buckets.withColumn("__src", lit(1)), allowMissingColumns = true),
          Seq("bucket_start"), Seq(col("__src"))).drop("__src")
      }

    // stage through .tmp when merging: Spark refuses to overwrite a path
    // its own plan reads from, and readers never list dot-dirs
    val tmp =
      if (!hasExisting) None
      else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val stage = tmp match {
      case None => merged
      case Some(t) =>
        merged.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(t)
        spark.read.parquet(t)
    }

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      withDayCols(stage)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("year", "month", "day")
        .option("compression", "zstd")
        .parquet(dir)
    } finally tmp.foreach(t => fs.delete(new HPath(t), true))
  }

  /** All-symbols bulk path: `buckets` carries a `symbol` column; ONE
    * dynamic-partition-overwrite job rewrites every touched
    * (symbol, day) partition across the whole timeframe — the shape a
    * 1000-symbol backfill needs (no per-symbol driver loop). Merge
    * semantics match [[writeBucketsBulk]], with the semi-join keyed by
    * (symbol, year, month, day). */
  def writeBucketsBulkAllSymbols(spark: SparkSession, timeframe: String,
                                 buckets: DataFrame,
                                 touchedDays: Option[Seq[(Int, Int, Int)]] = None,
                                 callerPinned: Boolean = false): Unit = {
    layout match {
      case LakeLayout.DayWide(f) =>
        writeBucketsBulkAllSymbolsWide(spark, timeframe, buckets, f, touchedDays,
          callerPinned); return
      case LakeLayout.HourlySymbol => ()
    }
    if (committer.readThroughResolve) {
      writeBucketsBulkCommitted(spark, timeframe, buckets, None)
      return
    }
    val dir = s"$root/timeframe=$timeframe"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withPartCols(df: DataFrame): DataFrame = df
      .withColumn("year", date_format(col("bucket_start"), "yyyy"))
      .withColumn("month", date_format(col("bucket_start"), "MM"))
      .withColumn("day", date_format(col("bucket_start"), "dd"))

    val hasExisting = fs.exists(new HPath(dir)) && fs.listStatus(new HPath(dir)).nonEmpty
    val tmp =
      if (!hasExisting) None
      else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val stage = tmp match {
      case None => buckets
      case Some(t) =>
        val touched = withPartCols(buckets)
          .select(col("symbol"),
                  col("year").cast("int").as("year"),
                  col("month").cast("int").as("month"),
                  col("day").cast("int").as("day"))
          .distinct()
        val existingTouched = spark.read.parquet(dir)
          .join(broadcast(touched), Seq("symbol", "year", "month", "day"), "left_semi")
          .drop("year", "month", "day")
        Ops.dedupKeepLast(
          existingTouched.withColumn("__src", lit(0))
            .unionByName(buckets.withColumn("__src", lit(1)), allowMissingColumns = true),
          Seq("symbol", "bucket_start"), Seq(col("__src"))).drop("__src")
          .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(t)
        spark.read.parquet(t)
    }
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      withPartCols(stage)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("symbol", "year", "month", "day")
        .option("compression", "zstd")
        .parquet(dir)
    } finally tmp.foreach(t => fs.delete(new HPath(t), true))
  }

  /** Day-wide HTF bulk write: `timeframe=T/year=/month=/day=` with
    * symbol as a sorted data column. Merge is keyed by day (the rewrite
    * unit), so sibling symbols' buckets in a touched day survive; rows
    * dedup last-wins on (symbol, bucket_start), incoming wins. */
  private def writeBucketsBulkAllSymbolsWide(spark: SparkSession, timeframe: String,
                                             buckets: DataFrame,
                                             filesPerDay: Int,
                                             touchedDays: Option[Seq[(Int, Int, Int)]] = None,
                                             callerPinned: Boolean = false): Unit = {
    val dir = s"$root/timeframe=$timeframe"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def withPartCols(df: DataFrame): DataFrame = df
      .withColumn("year", date_format(col("bucket_start"), "yyyy"))
      .withColumn("month", date_format(col("bucket_start"), "MM"))
      .withColumn("day", date_format(col("bucket_start"), "dd"))

    // Evaluate the increment once: day count + range sampling + final
    // write must not re-run the upstream aggregation plan (see
    // writeDaysWide Scaladoc). `callerPinned = true` means the CALLER
    // vouches it persisted (and owns) the frame — the incremental tick
    // and the fleet backfill hand in their cached frames — so every
    // action below hits the cache and no staging is needed (r20; the
    // stage write + read-back was a full extra pass on EVERY writing
    // poll). The flag is explicit rather than inferred from the plan:
    // an InMemoryRelation ANYWHERE in the optimized plan does not mean
    // the ROOT is cached, and a cold caller whose plan merely reads
    // some cached table would otherwise skip staging and re-execute its
    // uncached top per action (r20 ADVICE #4). Cold callers stage
    // through .tmp parquet — NOT a heap persist: a cold bulk increment
    // is O(corpus) by this verb's contract, and the r20 persist variant
    // collapsed 4-5× on the driver's 32-core bench under memory
    // pressure (guide §5; see writeDaysWide).
    val stageDir =
      if (callerPinned) None
      else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
    var mergeTmpDir: Option[String] = None
    stageDir.foreach(d =>
      buckets.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(d))
    try {
      val staged = stageDir.map(spark.read.parquet(_)).getOrElse(buckets)
      // the incremental tick already knows its changed rows' day set
      // from the fused count action — accept it and skip the distinct
      // pass (r20); cold callers still derive it here
      val touched: Seq[(Int, Int, Int)] = touchedDays.getOrElse(
        withPartCols(staged)
          .select(col("year").cast("int").as("year"),
                  col("month").cast("int").as("month"),
                  col("day").cast("int").as("day"))
          .distinct().collect().toSeq
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))))
      val nDays = touched.length.max(1)

      val hasExisting = fs.exists(new HPath(dir)) && fs.listStatus(new HPath(dir)).nonEmpty
      val mergeTmp =
        if (!hasExisting) None
        else Some(s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}")
      mergeTmpDir = mergeTmp
      mergeTmp match {
        case None =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          // partition columns lead the sort — see writeDaysWide:
          // satisfies the dynamic-partition writer's required ordering
          // so no unstable extra sort is inserted above the
          // (symbol, bucket_start) clustering
          withPartCols(staged)
            .repartitionByRange(nDays * filesPerDay,
              col("year"), col("month"), col("day"), col("symbol"), col("bucket_start"))
            .sortWithinPartitions("year", "month", "day", "symbol", "bucket_start")
            .write.mode(SaveMode.Overwrite)
            .partitionBy("year", "month", "day")
            .option("compression", "zstd")
            .parquet(dir)
        case Some(t) =>
          // explicit touched-day read — same no-root-listing rule as
          // writeDaysWide's merge; descends only touched years/months
          val touchedDirs = DayDirs.matching(fs, dir, touched.toSet)
          val merged =
            if (touchedDirs.isEmpty) withPartCols(staged)
            else {
              val existingTouched = spark.read.option("basePath", dir)
                .parquet(touchedDirs: _*).drop("year", "month", "day")
              withPartCols(Ops.dedupKeepLast(
                existingTouched.withColumn("__src", lit(0))
                  .unionByName(staged.withColumn("__src", lit(1)), allowMissingColumns = true),
                Seq("symbol", "bucket_start"), Seq(col("__src"))).drop("__src"))
            }
          // ONE clustered write into the merge tmp, published by a
          // per-day directory swap (r20): the old shape wrote the
          // merged days to tmp, then re-sampled and re-WROTE them
          // through the dynamic-partition committer — the merged data
          // crossed parquet twice on every busy poll. The range
          // sample's second pass over the merge plan reuses the dedup
          // shuffle's map output (same query), so the merge itself
          // still computes once. Publish is rename-ASIDE, not
          // delete→rename (r21, r20 ADVICE #1): the live day dir moves
          // into the dot-prefixed tmp area (readers never list it)
          // before the replacement renames in, and is restored if that
          // rename fails — a transient rename failure is no longer
          // day-level data loss. Day-granular, non-atomic across days,
          // same as the dynamic-partition commit it replaced; the
          // manifest committer remains the atomicity answer.
          merged
            .repartitionByRange(nDays * filesPerDay,
              col("year"), col("month"), col("day"), col("symbol"), col("bucket_start"))
            .sortWithinPartitions("year", "month", "day", "symbol", "bucket_start")
            .write.mode(SaveMode.Overwrite)
            .partitionBy("year", "month", "day")
            .option("compression", "zstd")
            .parquet(t)
          val asideRoot = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}-aside"
          DayDirs.ascending(fs, t).foreach { srcDay =>
            // walked paths come back fs-qualified — rebuild the
            // year=/month=/day= tail instead of string-stripping the tmp
            // prefix (same technique as DayDirs.ymdOf)
            val rel = srcDay.split('/').takeRight(3).mkString("/")
            WideDayPublish.swap(fs, srcDay,
              new HPath(s"$dir/$rel"), new HPath(s"$asideRoot/$rel"))
          }
          // superseded day copies are garbage only once every touched
          // day published; until then they are the restore source
          fs.delete(new HPath(asideRoot), true)
      }
    } finally {
      // stage + merge tmp both cleaned on failure too (a caller-owned
      // pin stays the caller's to release)
      stageDir.foreach(d => fs.delete(new HPath(d), true))
      mergeTmpDir.foreach(t => fs.delete(new HPath(t), true))
    }
  }

  /** Manifest-deployment bulk write (r15 #1, r19 batched staging —
    * VERDICT r18 #4): every leaf must be committed through the
    * POINTER, never dynamic-partition overwrite (a plain rewrite of a
    * day that already has a manifest leaves the stale pointer in
    * force — resolving readers would keep serving the old version).
    *
    * Staging is ONE partitioned Spark write for the whole batch, not
    * one job per leaf (the r18 probe measured the per-leaf shape at
    * ~5× identity on the first tick — WRITE-JOB-bound, not PUT-bound):
    * incoming ∪ touched existing content merges last-wins keyed by
    * (symbol, day, bucket_start) in one plan, lands partitioned by
    * (__sym, __day) under a hidden tmp tree, and each partition dir IS
    * the leaf's stage — the committer renames it into place. Commit
    * stays batched: one pointer PUT per parent dir under
    * [[DayManifestCommit]]; other committers publish per leaf. */
  private def writeBucketsBulkCommitted(spark: SparkSession, timeframe: String,
                                        buckets: DataFrame,
                                        symbolOverride: Option[String]): Unit = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val stageDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    buckets.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(stageDir)
    val tmpTree = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val staged = spark.read.parquet(stageDir)
      val symCol = symbolOverride match {
        case Some(sym) => lit(sym.toUpperCase)
        case None      => upper(col("symbol"))
      }
      val touched = staged
        .select(symCol.as("__sym"), to_date(col("bucket_start")).as("__day"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getDate(1).toLocalDate))
        .sortBy(t => (t._1, t._2.toString))
      // existing content of already-published touched leaves: resolved
      // through the committer (ONE day-state read per parent under
      // DayManifestCommit via resolveLeaves' cache path), read as a
      // single multi-root scan — leaf identity re-derives from the
      // DATA (day dirs hold one day; aggregator content carries its
      // symbol), so no per-leaf union plan
      val leafDirs = touched.map { case (sym, day) =>
        partitionDir(timeframe, sym, day) }
      val resolvedExisting = graft.sources.ResolvedScan
        .resolveLeaves(fs, leafDirs, committer)
        .filter(d => fs.listStatus(new HPath(d)).exists(_.isFile))
      val existingAttr: Option[DataFrame] =
        if (resolvedExisting.isEmpty) None
        else {
          // mergeSchema: the multi-root scan must union every leaf's
          // schema — without it Spark infers from a file subset and a
          // column present only in some leaves (schema-evolved lakes)
          // would be silently dropped from the republished versions
          // (r19 advice)
          val df = spark.read.option("mergeSchema", "true")
            .parquet(resolvedExisting: _*)
          if (symbolOverride.isEmpty && !df.columns.contains("symbol"))
            // legacy leaf content without a symbol column can't be
            // re-attributed in a shared scan — impossible via this
            // writer (the all-symbols path always carries `symbol`),
            // guarded for hand-built lakes
            throw new IllegalStateException(
              "existing HTF leaf content lacks a symbol column; " +
                "cannot batch-merge an all-symbols bulk write over it")
          // Existing rows re-key from the LEAF DIR they were read from,
          // not from to_date(bucket_start): the session timezone at
          // write time may differ from the one that placed the row, and
          // a derived day outside the touched set would land in a tmp
          // partition that is never published — silently dropping the
          // row from its republished leaf (r19 advice). The dir names
          // are zero-padded by partitionDir, so string assembly matches
          // the touched key exactly.
          val file = input_file_name()
          Some(df
            .withColumn("__sym", upper(regexp_extract(file, "symbol=([^/]+)", 1)))
            .withColumn("__day", concat_ws("-",
              regexp_extract(file, "/year=(\\d{4})/", 1),
              regexp_extract(file, "/month=(\\d{2})/", 1),
              regexp_extract(file, "/day=(\\d{2})/", 1))))
        }
      val incomingAttr = staged.withColumn("__sym", symCol)
        .withColumn("__day", to_date(col("bucket_start")).cast("string"))
      val merged = existingAttr match {
        case None => incomingAttr
        case Some(ex) =>
          Ops.dedupKeepLast(
            ex.withColumn("__src", lit(0))
              .unionByName(incomingAttr.withColumn("__src", lit(1)),
                allowMissingColumns = true),
            Seq("__sym", "__day", "bucket_start"), Seq(col("__src")))
            .drop("__src")
      }
      // ONE staging job: hash-clustered so each leaf lands as one file
      // (the per-leaf coalesce(1) parity), partition dirs named by the
      // leaf key
      merged.repartition(col("__sym"), col("__day"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("__sym", "__day")
        .option("compression", "zstd").parquet(tmpTree)
      val stagedLeaves = touched.map { case (sym, day) =>
        (s"$tmpTree/__sym=$sym/__day=$day",
          partitionDir(timeframe, sym, day))
      }
      committer match {
        case b: DayManifestCommit => b.publishBatch(fs, stagedLeaves)
        case c => stagedLeaves.foreach { case (tmp, dir) => c.publish(fs, tmp, dir) }
      }
    } finally {
      fs.delete(new HPath(stageDir), true)
      fs.delete(new HPath(tmpTree), true)
    }
  }

  /** Merge `buckets` with the (resolved) existing day content and stage
    * the result under a tmp dir; returns (tmpDir, finalDir) for the
    * committer to publish. */
  private def stageBuckets(spark: SparkSession, timeframe: String,
                           symbol: String, day: java.time.LocalDate,
                           buckets: DataFrame): (String, String) = {
    val dir = partitionDir(timeframe, symbol, day)
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val existingDir = committer.resolve(fs, dir)
      .filter(d => fs.listStatus(new HPath(d)).exists(_.isFile))
    val effective = existingDir match {
      case Some(d) =>
        val existing = spark.read.parquet(d)
        Ops.dedupKeepLast(
          existing.withColumn("__src", lit(0))
            .unionByName(buckets.withColumn("__src", lit(1)), allowMissingColumns = true),
          Seq("bucket_start"), Seq(col("__src"))).drop("__src")
      case None => buckets
    }
    val tmp = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    effective.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("compression", "zstd").parquet(tmp)
    (tmp, dir)
  }

  def writeBuckets(spark: SparkSession, timeframe: String, symbol: String,
                   day: java.time.LocalDate, buckets: DataFrame): String = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val (tmp, dir) = stageBuckets(spark, timeframe, symbol, day, buckets)
    committer.publish(fs, tmp, dir)
    dir
  }
}
