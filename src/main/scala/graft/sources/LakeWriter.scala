package graft.sources

import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, StructType}

import graft.ops.Ops
import graft.schema.CanonicalSchema
import graft.validation.DQValidator

/** Minute-lake writer — Spark re-expression of the reference's
  * `AtomicParquetWriter` (`writer/atomic.py:27-117`).
  *
  * Layout: day-wide ([[LakeLayout]]), one directory per day —
  * `futures/um/minute/year=YYYY/month=MM/day=DD/`, symbol as a sorted
  * data column, the day's late repairs in its `_delta/` child.
  *
  * Write paths:
  *  - [[writeDaysWide]] — the bulk path: day-level partitions, files
  *    range-partitioned + sorted by (symbol, timestamp), written once
  *    and swapped in per day by [[WideDayPublish.write]]. Last-wins +
  *    LIVE_ONLY-preserve merge semantics (reference `atomic.py:65-97`),
  *    keyed by (symbol, timestamp).
  *  - [[writeDeltaPatch]] — point repairs as append-only delta files,
  *    folded back by [[compactWideDeltas]].
  *  - [[writeHourPartition]] — the pipeline's hour verb: one symbol's
  *    hour lands as a delta into an existing day, or as a bulk merge
  *    write for a new day.
  */
/** When the ingestion tick folds accumulated day-wide delta patches
  * into their base days — threshold OR age, whichever trips first
  * (see [[MinuteLakeWriter.compactWideDeltasIfDue]]). Defaults: fold a
  * day at 8 delta files (read-overlay economics) or once its oldest
  * patch is a day old (staleness). `ledgerMaxBytes` bounds the
  * append-only partition ledger the same tick owns
  * ([[PartitionLedger.compactIfLarge]]). */
final case class CompactionPolicy(minFilesPerDay: Int = 8,
                                  maxAgeMinutes: Long = 1440L,
                                  ledgerMaxBytes: Long = 16L * 1024 * 1024)

class MinuteLakeWriter(root: String, ledger: PartitionLedger,
                       layout: LakeLayout.DayWide = LakeLayout.DayWide()) {

  /** Write (merge if present) one symbol's hour. A repair into an
    * EXISTING day lands as a small delta file — O(patch), not O(day):
    * the reference's repair cadence (2 h lookback every 30 s,
    * `aggregator/config.py:17-21`) makes point repairs the common case,
    * and rewriting day × all-symbols per patch was the one remaining
    * write-amplification cliff (164.6 s/day at width 100k, r13). A NEW
    * day bootstraps through the bulk merge write. Read results are
    * identical either way — the delta overlay and the bulk merge share
    * [[MinuteLakeWriter.mergeKeyed]].
    *
    * @return the day directory written into */
  def writeHourPartition(symbol: String, hourStart: Instant, frame: DataFrame): String = {
    val spark = frame.sparkSession
    val dq = DQValidator.validate(frame)
    val z = hourStart.atZone(ZoneOffset.UTC)
    val dayDir = dayDirOf(z.toLocalDate)
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val withSym = frame.withColumn("symbol", lit(symbol.toUpperCase))
    if (fs.exists(new HPath(dayDir))) writeDeltaPatch(withSym)
    else writeDaysWide(withSym, merge = true)
    ledger.upsert(PartitionLedgerEntry(
      symbol = symbol.toUpperCase,
      day = z.toLocalDate.toString,
      hour = z.getHour,
      path = dayDir,
      rowCount = dq.rowCount,
      minTs = dq.minTs,
      maxTs = dq.maxTs,
      schemaHash = CanonicalSchema.schemaHash,
      status = "COMMITTED",
      committedAtUtc = Instant.now.toString,
      // content hash is per-PARTITION; a day partition is rewritten by
      // later symbols' writes, so this per-symbol-hour row is
      // bookkeeping only (it feeds the tick token) — auditPartitions
      // audits the day-grain rows writeDaysWide / writeDeltaPatch commit
      contentHash = ""))
    dayDir
  }

  /** The minute day dir of `day` (zero-padded, as the writers name it). */
  private def dayDirOf(day: java.time.LocalDate): String =
    f"$root/futures/um/minute/year=${day.getYear}%04d/" +
      f"month=${day.getMonthValue}%02d/day=${day.getDayOfMonth}%02d"

  /** Tick-owned ledger compaction (see [[PartitionLedger.compact]]):
    * the writer owns the ledger, the pipeline owns the cadence. */
  def compactLedgerIfLarge(maxBytes: Long): Boolean =
    ledger.compactIfLarge(maxBytes)

  /** Union `fresh` — symbols a write collected in a pass it already
    * makes — into the wide lake's `_symbols.json` registry
    * ([[MinuteLakeWriter.SymbolsRegistry]]): O(width) driver strings,
    * rewritten only when a NEW symbol appears.
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
    * [[registerSymbolSet]] rules 2–3). ONE distinct-symbols job over
    * every day's base and delta files (columnar: only the symbol column
    * is read); run it from an operator tick, not the hot path. */
  def rebuildSymbolRegistry(spark: SparkSession): Set[String] = {
    val lakeDir = s"$root/futures/um/minute"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val days = DayDirs.ascending(fs, lakeDir)
    val paths = days ++ MinuteLakeReader.deltaFiles(fs, days).map(_.getPath.toString)
    val symbols =
      if (paths.isEmpty) Set.empty[String]
      else spark.read.schema(MinuteLakeReader.FileSchema).parquet(paths: _*)
        .select(upper(col("symbol"))).distinct().collect().map(_.getString(0)).toSet
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
    // the audit surface is the day-grain rows (hour < 0); the
    // per-(symbol, hour) rows writeHourPartition records are
    // bookkeeping without a hash
    val entries = ledger.all().filter(e => e.status == "COMMITTED" && e.hour < 0)
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
      entries.filter(e => e.contentHash.nonEmpty &&
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
        // recompute with the SAME function that recorded the hash —
        // served from the batched pass above, per-entry only on its
        // fallback
        def recompute(): String =
          batched.getOrElse(e.path,
            MinuteLakeWriter.dayContentHashes(spark, Seq(e.path))
              .getOrElse(DayDirs.ymdOf(e.path), ""))
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

  /** Day-wide bulk write: a multi-symbol,
    * multi-day canonical frame (must carry a `symbol` column) lands in
    * `year=/month=/day=` partitions, each day's data range-partitioned
    * and sorted by (symbol, timestamp) into `filesPerDay` files — so the
    * file population is O(days × filesPerDay) regardless of lake width,
    * and parquet min/max stats on the sorted symbol column give
    * per-symbol file skipping that replaces the per-symbol directory
    * tree. The days are written once into `.tmp` (in
    * [[MinuteLakeReader.FileSchema]] column order) and each touched day
    * is swapped in ([[WideDayPublish.write]]), which retires its deltas
    * (their `__DELTA__` ledger rows turn DROPPED); `merge = false`
    * replaces the touched days with `frame`'s rows.
    *
    * `merge = true` reads back ONLY the touched day dirs that exist, as
    * readers see them (base ⊕ deltas, [[MinuteLakeReader.overlay]]), and
    * merges `frame` over that view with [[MinuteLakeWriter.mergeKeyed]]
    * (last-wins + LIVE_ONLY-preserve, keyed by (symbol, timestamp)), so
    * a day's pending deltas are folded in and never mask the write;
    * symbols present in a touched day but absent from `frame` survive
    * the rewrite because the merge read is keyed by day, not by symbol.
    *
    * The incoming frame is always staged through `.tmp` parquet first:
    * the day stats, the range-partitioner's sampling pass, and the final
    * write would otherwise each re-evaluate an arbitrary upstream plan.
    * One extra columnar materialization of the increment buys
    * single-evaluation semantics — the standard shape on an object
    * store too. */
  def writeDaysWide(frame: DataFrame, merge: Boolean = false): Unit =
    writeDays(frame, merge, folding = false)

  /** [[writeDaysWide]]. With `folding`, `frame` is the collapse of every
    * delta file of the days it touches ([[compactWideDeltas]]), so it
    * merges over those days' base files alone: what publishes is the
    * readers' view, with nothing stacked on top. */
  private def writeDays(frame: DataFrame, merge: Boolean, folding: Boolean): Unit = {
    val spark = frame.sparkSession
    val lakeDir = s"$root/futures/um/minute"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    // stage the increment through .tmp parquet once (see Scaladoc), not
    // a persist: a bulk increment is O(corpus) (a MEMORY_AND_DISK persist
    // collapsed 4-5× at 32 cores, r20), and a lost persisted block would
    // recompute from the caller's plan, which for merge writes reads the
    // very days being replaced.
    val stageDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    frame.select(MinuteLakeReader.FileSchema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(stageDir)
    try {
      // written as FileSchema just above, so read with it (no footer
      // job), minus the column metadata, which would land in every footer
      val staged = spark.read.schema(StructType(MinuteLakeReader.FileSchema.fields
        .map(_.copy(metadata = Metadata.empty)))).parquet(stageDir)
      // ONE stats pass over the staged increment serves the touched-day
      // set, the per-day patch bounds, and the symbol registry (r20; the
      // symbol sets are width-bounded, as the registry already is)
      val stagedStats = staged
        .groupBy(year(col("timestamp")).as("y"),
                 month(col("timestamp")).as("m"),
                 dayofmonth(col("timestamp")).as("d"))
        .agg(count(lit(1)).as("n"),
             unix_micros(min(col("timestamp"))).as("mn"),
             unix_micros(max(col("timestamp"))).as("mx"),
             collect_set(upper(col("symbol"))).as("syms"))
        .collect()
      val touched = stagedStats.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq

      // register BEFORE publishing data (r15 advice #2): a reader
      // racing the gap between data commit and a late registration
      // would falsely deny a just-committed NEW symbol; early
      // registration is safe (superset)
      registerSymbolSet(fs,
        stagedStats.iterator.flatMap(_.getSeq[String](6)).toSet)

      val mergedExisting = WideDayPublish.write(fs, root, lakeDir, staged, touched,
        layout.filesPerDay, "timestamp",
        if (!merge) None
        else Some { (days, fresh) =>
          val base = MinuteLakeReader.readDays(spark, lakeDir, days)
          MinuteLakeWriter.mergeKeyed(
            if (folding) base
            else MinuteLakeReader.overlay(spark, base,
              MinuteLakeReader.deltaFiles(fs, days).map(_.getPath.toString)),
            fresh, Seq("symbol", "timestamp"))
        })

      // S13 at day grain: commit one ledger row per touched day
      // (symbol = "__ALL__", hour = -1) with row bounds and a content
      // hash over the day's files — the tamper/delete audit surface,
      // computed DISTRIBUTED
      // (one executors-side hash job for all touched days) because a
      // bulk day at production width is hundreds of MB
      val committedDirs = DayDirs.matching(fs, lakeDir, touched.toSet)
        .map(p => DayDirs.ymdOf(p) -> p).toMap
      // bounds via unix_micros + driver-side UTC render: the strings are
      // windowed on by the incremental tick, so they must not depend on
      // the session time zone (ADVICE r16 #1; see LedgerBounds). When
      // no existing day was merged, the published days hold exactly the
      // staged rows and the stats pass above already has their per-day
      // bounds — no second job. After a merge the bounds job reads the
      // published days; it is independent of the content-hash read
      // (decoded rows vs raw bytes), so the two jobs overlap (guide
      // §2.6) and the write pays max, not sum.
      val (hashes, bounds) = MinuteLakeWriter.overlap(
        MinuteLakeWriter.dayContentHashes(spark, committedDirs.values.toSeq)) {
        val rows =
          if (!mergedExisting) stagedStats.toSeq
          else spark.read.option("basePath", lakeDir)
            .parquet(committedDirs.values.toSeq: _*)
            .groupBy(col("year").cast("int").as("y"),
                     col("month").cast("int").as("m"),
                     col("day").cast("int").as("d"))
            .agg(count(lit(1)).as("n"),
                 unix_micros(min(col("timestamp"))).as("mn"),
                 unix_micros(max(col("timestamp"))).as("mx"))
            .collect().toSeq
        rows.map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
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
      // the touched days' live base and delta rows before this write; the
      // swap retired the deltas. Only a swap of an existing day retires
      // any, so a merge that created its days skips the ledger parse.
      val prior =
        if (merge && !mergedExisting) Map.empty[String, Seq[PartitionLedgerEntry]]
        else {
          val dayKeys = touched.map { case (y, m, d) => f"$y%04d-$m%02d-$d%02d" }.toSet
          ledger.all().filter(e => e.status != "DROPPED" && e.hour < 0 && dayKeys(e.day))
            .groupBy(_.day)
        }
      prior.valuesIterator.flatten.filter(_.symbol == "__DELTA__")
        .foreach(e => ledger.upsert(e.copy(status = "DROPPED")))
      // A non-merge rewrite of an ALREADY-COMMITTED day can shrink it:
      // rows earlier than the new content's min vanish (base and delta
      // rows alike), and a patch range covering only the new content
      // would leave those minutes outside every change window — the
      // gated tick would skip repairs the blind lookback used to catch
      // (ADVICE r16 #3). Widen such a day's patch bounds to the union of
      // the superseded rows' CONTENT bounds and the new increment's.
      bounds.foreach { case (ymd, nRows, mnMicros, mxMicros) =>
        committedDirs.get(ymd).foreach { dayDir =>
          val dayKey = f"${ymd._1}%04d-${ymd._2}%02d-${ymd._3}%02d"
          val patch = patchBounds.get(ymd).map { case (mn, mx) =>
            val old = if (merge) Seq.empty else prior.getOrElse(dayKey, Seq.empty)
            def parsed(ss: Seq[String]) = ss.filter(s => s != null && s.nonEmpty)
              .flatMap(s => LedgerBounds.parse(s).map(_ -> s))
            (parsed(mn +: old.map(_.minTs)).minByOption(_._1).map(_._2).getOrElse(mn),
             parsed(mx +: old.map(_.maxTs)).maxByOption(_._1).map(_._2).getOrElse(mx))
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
    } finally fs.delete(new HPath(stageDir), true) // cleaned on failure too
  }

  /** Bounded POINT repair for the day-wide layout (VERDICT r13 #1): a
    * late patch lands as a small DELTA file beside the day's base files
    * instead of rewriting day × all-symbols — O(patch) work where
    * [[writeDaysWide]]`(merge = true)` is O(day) (measured 164.6 s/day
    * at width 100k; the reference's repair cadence, 2 h lookback polled
    * every 30 s (`aggregator/config.py:17-21`), makes point repairs the
    * COMMON case, so they must not pay the day rewrite).
    *
    * Physics: `frame` (must carry `symbol`) is staged as one file per
    * touched day with a monotone `__delta_seq` stamp, and each file is
    * renamed into its day's `_delta/` dir under a name carrying the
    * stamp. Keys are day-local, so the stamp need only rise within a
    * day: 1 + the highest the touched days' file names carry (a LIST
    * per day, no job). Readers overlay base ∪ delta through the shared
    * [[MinuteLakeReader.overlay]] (delta wins; among deltas the highest
    * `__delta_seq` wins), so a patch is visible immediately and
    * pre-/post-compaction results are identical by construction.
    * [[compactWideDeltas]] folds deltas into the base on a threshold.
    *
    * Invariant: every patched day must already have a BASE day
    * partition (new days go through [[writeDaysWide]]) — a delta lives
    * inside its day's dir, so delta days ⊆ base days by construction.
    *
    * S13: each touched day's delta dir gets a day-grain ledger row
    * (symbol `__DELTA__`, hour −2) with row bounds and a distributed
    * content hash over the day's delta files, so tamper/delete audit
    * covers the deltas exactly like the base.
    *
    * @return the touched days' `_delta` directories */
  def writeDeltaPatch(frame0: DataFrame): Seq[String] = {
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
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

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
    val dayByYmd = DayDirs.matching(fs, lakeDir, touched).map(d => DayDirs.ymdOf(d) -> d).toMap
    require(touched.subsetOf(dayByYmd.keySet),
      s"writeDeltaPatch: days ${touched -- dayByYmd.keySet} have no base partition — " +
        "route new days through writeDaysWide; deltas only overlay existing days")
    val days = dayByYmd.values.toSeq
    // a day swap retires the day's deltas, so its stamps start over
    val seq = 1L + MinuteLakeReader.deltaFiles(fs, days).map(_.getPath.getName)
      .collect { case MinuteLakeWriter.DeltaName(n) => n.toLong }.maxOption.getOrElse(0L)
    // a patch can introduce a symbol new to the lake (only the DAY must
    // pre-exist) — register BEFORE the append (r15 advice #2: premature
    // registration is safe, late registration races readers into
    // denying the new symbol)
    registerSymbolSet(fs,
      extras(1).asInstanceOf[scala.collection.Seq[String]].toSet)

    val stageDir = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      frame.select(MinuteLakeReader.FileSchema.fieldNames.toIndexedSeq.map(col): _*)
        .withColumn("__delta_seq", lit(seq))
        .withColumn("year", date_format(col("timestamp"), "yyyy"))
        .withColumn("month", date_format(col("timestamp"), "MM"))
        .withColumn("day", date_format(col("timestamp"), "dd"))
        .coalesce(1)
        .sortWithinPartitions("year", "month", "day", "symbol", "timestamp")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("year", "month", "day")
        .option("compression", "zstd")
        .parquet(stageDir)
      // announce each day (whole-day bounds) before its files land, so
      // compaction still finds a patch that dies before its COMMITTED row
      dayByYmd.foreach { case ((y, m, d), dayDir) =>
        val start = java.time.LocalDate.of(y, m, d).toEpochDay * 86400000000L
        val (lo, hi) = (LedgerBounds.iso(start), LedgerBounds.iso(start + 86399999999L))
        ledger.upsert(PartitionLedgerEntry("__DELTA__", f"$y%04d-$m%02d-$d%02d", -2,
          MinuteLakeWriter.deltaDirOf(dayDir), 0L, lo, hi, CanonicalSchema.schemaHash,
          "PENDING", Instant.now.toString, patchMinTs = lo, patchMaxTs = hi))
      }
      // each staged file lands by one single-file rename: a reader sees
      // a patch file whole or not at all
      DayDirs.ascending(fs, stageDir).foreach { staged =>
        val target = new HPath(MinuteLakeWriter.deltaDirOf(dayByYmd(DayDirs.ymdOf(staged))))
        fs.mkdirs(target)
        DayDirs.dataFiles(fs, staged).foreach { f =>
          val dst = new HPath(target, f"delta-$seq%012d-${f.getPath.getName}")
          if (!fs.rename(f.getPath, dst))
            throw new java.io.IOException(s"delta patch: rename ${f.getPath} -> $dst failed")
        }
      }
    } finally fs.delete(new HPath(stageDir), true)

    // ledger rows re-read the day's delta dir so the recorded bounds/hash
    // cover the day's WHOLE delta population (prior patches included) —
    // the same surface auditPartitions recomputes. The hash (raw bytes)
    // and bounds (decoded rows) jobs are independent and overlap.
    val deltaDirs = days.map(MinuteLakeWriter.deltaDirOf)
    val (hashes, bounds) = MinuteLakeWriter.overlap(
      MinuteLakeWriter.dayContentHashes(spark, deltaDirs)) {
      spark.read.schema(MinuteLakeReader.DeltaFileSchema).parquet(deltaDirs: _*)
        .groupBy(year(col("timestamp")).as("y"),
                 month(col("timestamp")).as("m"),
                 dayofmonth(col("timestamp")).as("d"))
        .agg(count(lit(1)).as("n"),
             unix_micros(min(col("timestamp"))).as("mn"),
             unix_micros(max(col("timestamp"))).as("mx"))
        .collect()
    }
    bounds.foreach { r =>
      val ymd = (r.getInt(0), r.getInt(1), r.getInt(2))
      dayByYmd.get(ymd).foreach { dayDir =>
        val (mn, mx) = (LedgerBounds.iso(r.getLong(4)), LedgerBounds.iso(r.getLong(5)))
        ledger.upsert(PartitionLedgerEntry(
          symbol = "__DELTA__",
          day = f"${ymd._1}%04d-${ymd._2}%02d-${ymd._3}%02d",
          hour = -2,
          path = MinuteLakeWriter.deltaDirOf(dayDir),
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
    * threshold companion of [[writeDeltaPatch]]: days (those with a
    * COMMITTED or PENDING `__DELTA__` ledger row — the lake is never
    * walked) holding at least `minFilesPerDay` delta files are rewritten
    * by one day-wide merge write of their collapsed deltas over their
    * base files, which is the readers' overlay, so compaction never
    * changes what a reader sees. Its day swap retires the folded deltas
    * with the old base: there is no delete step, and a crash leaves each
    * day wholly old or wholly new. A PENDING row whose day holds no
    * delta file (a patch that died before its files landed) is
    * dropped.
    *
    * @return the `_delta` directories folded and retired */
  def compactWideDeltas(spark: SparkSession, minFilesPerDay: Int = 1): Seq[String] = {
    require(minFilesPerDay >= 1, "minFilesPerDay must be at least 1")
    compactWideDeltasWhere(spark)((files, _) => files >= minFilesPerDay)
  }

  /** Policy-driven compaction for the ingestion tick (VERDICT r14 #2):
    * a day folds when it holds at least `policy.minFilesPerDay`
    * delta files (read-overlay cost bound) OR its oldest delta file is
    * older than `policy.maxAgeMinutes` relative to `now` (staleness
    * bound — a quiet day with two ancient patches must not carry them
    * forever). The delta-accumulation probe (SURVEY §8.17) showed
    * overlay cost stays flat across accumulated deltas, so the cadence
    * is an economics knob, not a correctness one: readers see identical rows pre-/post-fold
    * by construction (one shared [[MinuteLakeReader.overlay]]).
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
    * predicate sees (delta file count, oldest file mtime ms) per
    * candidate day. */
  private def compactWideDeltasWhere(spark: SparkSession)
                                    (due: (Int, Long) => Boolean): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val candidates = ledger.all()
      .filter(e => e.symbol == "__DELTA__" && e.status != "DROPPED").sortBy(_.day)
      .flatMap(e => scala.util.Try(dayDirOf(java.time.LocalDate.parse(e.day))).toOption
        .map(day => (day, e, MinuteLakeReader.deltaFiles(fs, Seq(day)))))
    candidates.filter { case (_, e, files) => files.isEmpty && e.status == "PENDING" }
      .foreach { case (_, e, _) => ledger.upsert(e.copy(status = "DROPPED")) }
    val eligible = candidates.collect { case (day, _, files)
      if files.nonEmpty && due(files.length, files.map(_.getModificationTime).min) => day -> files }
    if (eligible.isEmpty) return Seq.empty
    writeDays(MinuteLakeReader.collapsedDeltas(spark,
      eligible.flatMap(_._2).map(_.getPath.toString)), merge = true, folding = true)
    eligible.map { case (day, _) => MinuteLakeWriter.deltaDirOf(day) }
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

  /** Child dir of a minute day dir holding the day's late-patch DELTA
    * files (`year=/month=/day=/_delta/`). Underscore-prefixed so
    * Spark's file listing never picks it up on a base read; readers
    * overlay it explicitly. */
  val DeltaSubdir = "_delta"

  /** The `_delta` dir of the minute day dir `dayDir`. */
  private[graft] def deltaDirOf(dayDir: String): String = s"$dayDir/$DeltaSubdir"

  /** A delta file's name, `delta-<__delta_seq>-<staged name>`. */
  private[sources] val DeltaName = """delta-(\d{12})-.*""".r

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

  /** Distributed content hashes for day partitions (the reference
    * hashes its one parquet file per partition, `atomic.py:108-114`),
    * keyed by the parsed (year, month, day) of each file's parent dir:
    * per-file SHA-256 computed on EXECUTORS (binaryFile source — it
    * skips `_`/`.` metadata files), combined per day in file-name order.
    * One Spark job for ANY number of days; a bulk day at width 10k+ is
    * hundreds of MB × many days — driver-side hashing would serialize
    * the data plane, so the hash is distributed.
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
}

/** The one publish path of the lake (minute base and HTF):
  * [[write]] writes the touched days once into `.tmp` and [[swap]]s
  * each day directory into place. Day-granular, non-atomic across
  * days. */
private[graft] object WideDayPublish {

  /** Write the staged increment's days under `dir` (a
    * `year=/month=/day=` tree) and publish them. With a `merge` policy
    * the touched day dirs that exist are handed to it with the staged
    * rows, and `merge(existingDays, staged)` is what publishes; without
    * one the touched days are replaced by `staged`'s rows. The (merged) rows are written ONCE —
    * range-partitioned and sorted by (year, month, day, symbol,
    * `timeCol`) into `filesPerDay` files per touched day — into
    * `root/.tmp/<uuid>`, then every written day is swapped in. Absent
    * days (fresh trees, new days) publish by one rename. The write's
    * tmp tree is removed on success and on failure; the aside copies of
    * superseded days are dropped only once every day published, since
    * until then they are the restore source.
    *
    * @return whether any existing day was read and merged */
  private[sources] def write(fs: FileSystem, root: String, dir: String,
                             staged: DataFrame, touched: Seq[(Int, Int, Int)],
                             filesPerDay: Int, timeCol: String,
                             merge: Option[(Seq[String], DataFrame) => DataFrame]): Boolean = {
    // explicit touched-day read — a root read + partition filter still
    // LISTS every file in the tree before pruning; the walk descends
    // only the touched years/months
    val existing =
      if (merge.isEmpty) Seq.empty else DayDirs.matching(fs, dir, touched.toSet)
    val effective = merge.filter(_ => existing.nonEmpty).fold(staged)(_(existing, staged))
    val tmp = s"$root/.tmp/${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val asideRoot = s"$tmp-aside"
    try {
      // partition columns lead the sort: the partitioned writer requires
      // (year, month, day) ordering and would otherwise insert its own,
      // not necessarily stable, sort above the (symbol, time) clustering
      // that the layout's file-stat pruning depends on. The range
      // sample's pass over a merge plan reuses the merge shuffle's map
      // output (same query), so the merge computes once.
      effective
        .withColumn("year", date_format(col(timeCol), "yyyy"))
        .withColumn("month", date_format(col(timeCol), "MM"))
        .withColumn("day", date_format(col(timeCol), "dd"))
        .repartitionByRange(touched.length.max(1) * filesPerDay,
          col("year"), col("month"), col("day"), col("symbol"), col(timeCol))
        .sortWithinPartitions("year", "month", "day", "symbol", timeCol)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("year", "month", "day")
        .option("compression", "zstd")
        .parquet(tmp)
      DayDirs.ascending(fs, tmp).foreach { srcDay =>
        // walked paths come back fs-qualified — rebuild the
        // year=/month=/day= tail instead of string-stripping the tmp
        // prefix (same technique as DayDirs.ymdOf)
        val rel = srcDay.split('/').takeRight(3).mkString("/")
        swap(fs, srcDay, new HPath(s"$dir/$rel"), new HPath(s"$asideRoot/$rel"))
      }
      fs.delete(new HPath(asideRoot), true)
    } finally fs.delete(new HPath(tmp), true)
    existing.nonEmpty
  }

  /** One staged day directory swapped into place with rename-ASIDE
    * semantics (r21, r20 ADVICE #1). The whole day directory moves, a
    * minute day's `_delta/` child included, so one swap replaces the
    * day's base and retires its deltas, and a failed promote restores
    * both. The live day moves into the
    * dot-prefixed tmp area (readers never list it) BEFORE the
    * replacement renames in, and is restored if the promote fails — by
    * a false return OR an in-JVM exception — so a transient rename
    * failure is never day-level data loss. After a failed promote the
    * target is either absent (atomic-rename FS: the old content was
    * already moved aside) or a partial copy of the NEW data
    * (object-store copy-then-delete rename) — never the superseded
    * content — so the restore may delete it before renaming the aside
    * back. A process death mid-swap leaves the superseded day
    * recoverable under the aside dir in `.tmp` (the r20
    * delete→promote shape destroyed it). */
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
  * layout `timeframe=T/year=/month=/day=/`, symbol as a sorted data
  * column, `filesPerDay` files per day per timeframe, merge-dedup by
  * (symbol, bucket_start) keep-last. The reference's per-symbol
  * directory level is gone — at width 10k it is 10k files/day/timeframe,
  * the same file-count wall the minute lake hit (SURVEY §8.15). Days
  * publish through [[WideDayPublish.write]]. */
class HtfLakeWriter(root: String,
                    layout: LakeLayout.DayWide = LakeLayout.DayWide()) {

  /** Bulk path (reference `target_writer.py:59-69`, re-planned for a
    * cluster): `buckets` carries a `symbol` column and may span every
    * symbol and day of the timeframe — the shape a 1000-symbol backfill
    * needs (no per-symbol driver loop). Buckets of a touched day that
    * are not in `buckets` survive, sibling symbols' included: the merge
    * reads each touched day whole and dedups last-wins on (symbol,
    * bucket_start), incoming wins.
    *
    * A caller that already knows the increment's day set passes
    * `touchedDays` and skips the distinct pass; a caller that persisted
    * (and owns) `buckets` passes `callerPinned` and skips the `.tmp`
    * staging. */
  def writeBucketsBulkAllSymbols(spark: SparkSession, timeframe: String,
                                 buckets: DataFrame,
                                 touchedDays: Option[Seq[(Int, Int, Int)]] = None,
                                 callerPinned: Boolean = false): Unit = {
    val dir = s"$root/timeframe=$timeframe"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

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
    stageDir.foreach(d =>
      buckets.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(d))
    try {
      val staged = stageDir.map(spark.read.parquet(_)).getOrElse(buckets)
      // the incremental tick already knows its changed rows' day set
      // from the fused count action — accept it and skip the distinct
      // pass (r20); cold callers still derive it here
      val touched: Seq[(Int, Int, Int)] = touchedDays.getOrElse(
        staged
          .select(year(col("bucket_start")), month(col("bucket_start")),
                  dayofmonth(col("bucket_start")))
          .distinct().collect().toSeq
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))))
      WideDayPublish.write(fs, root, dir, staged, touched, layout.filesPerDay, "bucket_start",
        // last-wins on (symbol, bucket_start), incoming wins; columns
        // missing on either side read as null
        Some((days, fresh) => Ops.dedupKeepLast(
          spark.read.option("basePath", dir).parquet(days: _*).drop("year", "month", "day")
            .withColumn("__src", lit(0))
            .unionByName(fresh.withColumn("__src", lit(1)), allowMissingColumns = true),
          Seq("symbol", "bucket_start"), Seq(col("__src"))).drop("__src")))
      ()
    } finally {
      // a caller-owned pin stays the caller's to release
      stageDir.foreach(d => fs.delete(new HPath(d), true))
    }
  }
}
