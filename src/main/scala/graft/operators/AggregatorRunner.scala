package graft.operators

import java.time.temporal.ChronoUnit
import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.schema.TimeframeSpec
import graft.sources.{HtfLakeWriter, MinuteLakeReader, PartitionLedger,
  PartitionLedgerEntry}

/** Aggregator lifecycle — the backfill / incremental daemons' logic
  * (reference `aggregator/backfill.py:41-121`, `incremental.py:43-104`,
  * `validator.py:17-52`): idempotent, watermarked, late-arrival-repairing
  * HTF materialization over the minute lake. Two verbs, both whole-lake:
  *
  *  - [[runBackfillAll]] finds every missing complete (symbol, bucket)
  *    with an anti join and a completeness aggregate, bounds the source
  *    read to the missing set's min/max and restricts it with a
  *    distributed semi-join; only scalar bounds and one row per symbol
  *    reach the driver.
  *  - [[runFleetTick]] polls any number of timeframe specs: a ledger
  *    token skip, per-symbol repair windows, write-skip of unchanged
  *    buckets, and an optional bounded drain.
  */
object AggregatorRunner {

  final case class BackfillResult(bucketsScanned: Long, bucketsWritten: Long,
                                  incompleteSkipped: Long, repaired: Long)

  final case class IncrementalResult(bucketsScanned: Long, bucketsWritten: Long,
                                     incompleteSkipped: Long, repaired: Long,
                                     lagMinutes: Option[Long])

  /** Per-(symbol, timeframe) aggregator checkpoint (reference
    * `aggregator/state_store.py:35-105`). */
  final class AggregatorStateStore(
      dir: String,
      committer: graft.sources.CommitProtocol = graft.sources.RenameCommit) {
    private val wm = new graft.sources.WatermarkStore(dir, committer)

    /** Store key of (symbol, timeframe). The watermark store upper-cases
      * whole keys, which would fold the minute frame `1m` and the month
      * frame `1M` into one key. A capital letter in the timeframe
      * is written as `^` plus the letter, so it survives the fold; every
      * all-lower-case timeframe keeps the key earlier stores wrote. */
    private def key(symbol: String, timeframe: String): String =
      s"$symbol|${timeframe.flatMap(c => if (c.isUpper) s"^$c" else c.toString)}"

    def get(symbol: String, timeframe: String): Option[Instant] =
      wm.get(key(symbol, timeframe))

    /** All symbols' watermarks for one timeframe in ONE file read —
      * the per-symbol [[get]] re-parses the whole store per call, which
      * a width-10k driver loop turns into O(width²) work. */
    def getAll(timeframe: String): Map[String, Instant] = {
      val suffix = key("", timeframe).toUpperCase
      wm.read().collect {
        case (k, v) if k.endsWith(suffix) =>
          k.dropRight(suffix.length) -> Instant.parse(v)
      }
    }

    /** Monotone batch advance: ONE read + ONE rewrite for any number of
      * symbols; candidates not ahead of the stored watermark are
      * dropped (repairing an old gap must never move a watermark
      * backward). The only correct call shape for O(symbols) advances. */
    def advanceAll(timeframe: String, candidates: Map[String, Instant]): Unit = {
      val current = getAll(timeframe)
      val ahead = candidates.filter { case (sym, c) =>
        current.get(sym.toUpperCase).forall(_.isBefore(c))
      }
      wm.setAll(ahead.map { case (sym, c) => key(sym, timeframe) -> c })
    }

    // -------- per-tick source-change state (the ledger gate) --------
    // One small JSON map keyed by tick identity (timeframe +
    // config); value = the minute-lake ledger token the last FULL
    // tick accounted for, its committed-at high-water mark, and the
    // lag that tick reported (returned verbatim on a token skip —
    // data lag is latest-vs-watermark and neither moved). Kept apart
    // from watermarks.json: watermark values are parsed as Instants.
    private val tickFile = java.nio.file.Paths.get(dir, "tick_state.json")
    private def readTicks(): Map[String, String] =
      if (!java.nio.file.Files.exists(tickFile)) Map.empty
      else """"([^"]+)"\s*:\s*"([^"]+)"""".r
        .findAllMatchIn(java.nio.file.Files.readString(tickFile))
        .map(m => m.group(1) -> m.group(2)).toMap

    def getTickState(key: String): Option[TickState] =
      readTicks().get(key).flatMap { v =>
        def inst(s: String): Option[Instant] =
          if (s == "-") None else scala.util.Try(Instant.parse(s)).toOption
        v.split("@", -1) match {
          case Array(tok, hw, ties, lag) => Some(TickState(tok, inst(hw),
            ties.toIntOption.getOrElse(0),
            if (lag == "-") None else lag.toLongOption))
          case Array(tok, hw, ties, lag, pend) => Some(TickState(tok, inst(hw),
            ties.toIntOption.getOrElse(0),
            if (lag == "-") None else lag.toLongOption, inst(pend)))
          case _ => None
        }
      }

    private def writeTicks(updated: Map[String, String]): Unit = {
      val body = updated.toSeq.sorted
        .map { case (k, v) => s"""  "$k": "$v"""" }
        .mkString("{\n", ",\n", "\n}\n")
      committer.putState(tickFile, body.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    }

    def setTickState(key: String, st: TickState): Unit = synchronized {
      writeTicks(readTicks() + (key ->
        s"${st.token}@${st.highWater.map(_.toString).getOrElse("-")}@${
          st.hwTies}@${st.lagMinutes.map(_.toString).getOrElse("-")}@${
          st.pendingFrom.map(_.toString).getOrElse("-")}"))
    }

    // ---- budget-derived cap (VERDICT r17 #4): running per-bucket
    // cost estimate, EWMA'd from each poll's measured wall/scanned so
    // the daemon sizes `maxBucketsPerTick` from a poll budget instead
    // of hand math. One line in the tick file; its value never parses
    // as a TickState, so pre-r18 readers skip it.
    private val CostKey = "__cost_ms_per_bucket"
    def getCostPerBucketMs: Option[Double] =
      readTicks().get(CostKey).flatMap(_.toDoubleOption)
    def setCostPerBucketMs(v: Double): Unit = synchronized {
      // Locale.ROOT, not the f-interpolator: a comma-decimal default
      // locale would write "0,1500", which toDoubleOption can't read —
      // the estimate would silently reset to the seed every poll
      // (r18 advice)
      writeTicks(readTicks() +
        (CostKey -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))))
    }

    // ---- two-term cost observations (VERDICT r18 #2) ----
    // Rolling (liveSpecs, scanned, wallMs) triples from budget-driven
    // polls, the data behind the per-spec-fixed + marginal fit:
    // wall ≈ fixed × liveSpecs + marginal × scanned. One line in the
    // tick file ("l:s:w;…"); its value never parses as a TickState,
    // so older readers skip it (and pre-r19 two-field pairs are
    // dropped — tuning state, not durable data).
    private val ObsKey = "__cost_obs"
    def getCostObservations: Seq[(Long, Long, Double)] =
      readTicks().get(ObsKey).toSeq.flatMap(_.split(';').toSeq.flatMap { p =>
        p.split(':') match {
          case Array(l, s, w) =>
            for { lv <- l.toLongOption; sv <- s.toLongOption
                  wv <- w.toDoubleOption }
              yield (lv, sv, wv)
          case _ => None
        }
      })
    def addCostObservation(liveSpecs: Long, scanned: Long,
                           wallMs: Double): Unit =
      synchronized {
        setCostObservations(
          (getCostObservations :+ ((liveSpecs, scanned, wallMs)))
            .takeRight(MaxCostObservations))
      }
    private[graft] def setCostObservations(
        obs: Seq[(Long, Long, Double)]): Unit =
      synchronized {
        writeTicks(readTicks() + (ObsKey -> obs.map { case (l, s, w) =>
          s"$l:$s:${String.format(java.util.Locale.ROOT, "%.1f", Double.box(w))}"
        }.mkString(";")))
      }

    // ---- per-symbol drain cursors (VERDICT r17 #3) ----
    // An in-flight capped drain's resume points, one entry per symbol
    // still pending, keyed "<tickKey>#<SYMBOL>". Same O(width) scale
    // as the watermark file (worst case: every symbol mid-drain);
    // replaced wholesale per capped poll and cleared on convergence.
    // A symbol ABSENT from a tick key's non-empty map is DRAINED —
    // its capped window reached its then-head.
    private val drainFile = java.nio.file.Paths.get(dir, "drain_cursors.json")
    private def readDrain(): Map[String, String] =
      if (!java.nio.file.Files.exists(drainFile)) Map.empty
      else """"([^"]+)"\s*:\s*"([^"]+)"""".r
        .findAllMatchIn(java.nio.file.Files.readString(drainFile))
        .map(m => m.group(1) -> m.group(2)).toMap

    def getDrainCursors(key: String): Map[String, Instant] = {
      val prefix = s"$key#"
      val raw = readDrain().collect {
        case (k, v) if k.startsWith(prefix) => k.drop(prefix.length) -> v
      }
      val parsed = raw.map { case (sym, v) =>
        sym -> scala.util.Try(Instant.parse(v)).toOption }
      // An UNPARSABLE cursor must not be silently dropped: with a
      // non-empty map, an absent symbol is read as DRAINED, so one
      // corrupted entry would make that symbol skip its remaining
      // backlog on pure-resume polls. Discard the WHOLE block for the
      // key instead — the empty map is the pre-r18 legacy shape and
      // every symbol falls back to the global pendingFrom floor
      // (re-scans are write-skipped, so correct; r18 advice).
      if (parsed.exists(_._2.isEmpty)) {
        System.err.println(s"[graft][AggregatorStateStore] unparsable " +
          s"drain cursor under '$key' — discarding the key's cursor " +
          "block; this drain resumes every symbol from the global floor")
        Map.empty
      } else parsed.collect { case (sym, Some(at)) => sym -> at }.toMap
    }

    /** Wall spent inside [[setDrainCursors]] since construction —
      * probe-visible so the capped-drain legs can report the cursor
      * store's share of poll wall (VERDICT r18 #6: price it before
      * deciding whether the per-poll whole-file rewrite needs
      * per-spec sharding). */
    @volatile private[graft] var cursorWriteNanos: Long = 0L

    /** Replace `key`'s whole cursor block with `cursors` (empty map =
      * drain converged: the block is dropped). One read + one atomic
      * rewrite, O(width) — never call per symbol. */
    def setDrainCursors(key: String, cursors: Map[String, Instant]): Unit =
      synchronized {
        val t0 = System.nanoTime()
        try setDrainCursorsInner(key, cursors)
        finally cursorWriteNanos += System.nanoTime() - t0
      }
    private def setDrainCursorsInner(key: String,
                                     cursors: Map[String, Instant]): Unit =
      {
        val prefix = s"$key#"
        val others = readDrain().filterNot(_._1.startsWith(prefix))
        if (cursors.isEmpty && others.isEmpty &&
            !java.nio.file.Files.exists(drainFile)) return // no file churn
        val updated = others ++ cursors.map { case (sym, at) =>
          s"$prefix${sym.toUpperCase}" -> at.toString }
        val body = updated.toSeq.sorted
          .map { case (k, v) => s"""  "$k": "$v"""" }
          .mkString("{\n", ",\n", "\n}\n")
        committer.putState(drainFile, body.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** What a completed incremental tick knew about the minute lake:
    * the ledger token it accounted for, the newest commit it saw (plus
    * how many entries carried exactly that stamp — ledger stamps have
    * finite clock resolution, so "newer than the high-water" alone
    * cannot see a later write that tied it to the nanosecond; a grown
    * tie count can), and the lag it reported. */
  final case class TickState(token: String, highWater: Option[Instant],
                             hwTies: Int, lagMinutes: Option[Long],
                             pendingFrom: Option[Instant] = None)

  /** Point-in-time fingerprint of the minute lake's partition ledger —
    * the driver-cheap change detector behind the steady-tick skip
    * (FleetTickProbe r16: a no-news 12-spec fleet poll at width 10k
    * cost 109–121 s of pure re-scan + write-skip; with the gate it is
    * a few file reads). `token` is an md5 over the DEDUPED last-wins
    * entry set, so compacting the append-only ledger file does not
    * change it; `highWater` is the newest parseable `committedAtUtc`.
    * An EMPTY ledger yields no snapshot (callers fall back to the
    * ungated path): a lake written without ledger bookkeeping must
    * never read as "nothing ever changes". */
  final case class SourceSnapshot(token: String, highWater: Option[Instant],
                                  hwTies: Int,
                                  versions: Seq[PartitionLedgerEntry],
                                  droppedThrough: Option[Instant])

  def sourceSnapshot(ledger: PartitionLedger): Option[SourceSnapshot] = {
    // token over the DEDUPED last-wins set (compacting the append-only
    // file must not re-arm gates); change detection over the full
    // VERSION log (two commits to the same key between polls must both
    // contribute their touched ranges — the deduped view keeps only
    // the second). A PENDING delta row announces files that have not
    // landed yet; the COMMITTED row that follows it is the change.
    val versions = ledger.allVersions().filter(_.status != "PENDING")
    if (versions.isEmpty) None
    else {
      val entries = versions.groupBy(e => (e.symbol, e.day, e.hour))
        .values.map(_.last).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.sortBy(e => (e.symbol, e.day, e.hour))
        .foreach { e =>
          md.update((s"${e.symbol}|${e.day}|${e.hour}|${e.rowCount}|" +
            s"${e.minTs}|${e.maxTs}|${e.status}|${e.contentHash}\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      val token = md.digest().map("%02x".format(_)).mkString
      // FULL-precision max: a millisecond-truncated ordering picks an
      // arbitrary entry among same-millisecond commits (bulk writers
      // stamp a whole batch within one ms), and a high-water below the
      // true max makes changedSince see the rest of that batch as
      // "changed" — measured as a whole-lake repair window (116M rows)
      // on the first busy tick after a backfill
      val stamps = versions.flatMap(e => parseLedgerTs(e.committedAtUtc))
      val hw = stamps.maxOption(Ordering.by[Instant, (Long, Int)](i =>
        (i.getEpochSecond, i.getNano)))
      Some(SourceSnapshot(token, hw, hw.map(h => stamps.count(_ == h)).getOrElse(0),
        versions, ledger.droppedThrough()))
    }
  }

  /** Ledger timestamps appear in two shapes: ISO instants (r17+ bounds,
    * `committedAtUtc`) and legacy Spark `cast("string")` timestamps
    * (`2026-01-05 00:59:00` — pre-r17 min/max bounds). Both parse
    * through the shared session-TZ-independent helper the writers now
    * render with (ADVICE r16 #1). */
  private def parseLedgerTs(s: String): Option[Instant] =
    graft.sources.LedgerBounds.parse(s)

  /** Where (in event time) the lake changed since `since` — the
    * data-driven replacement for the blind repair lookback. */
  sealed trait ChangeScope
  /** No reliable answer (unparseable rows, or nothing newer than the
    * high-water despite a token change) → blind lookback, no skip. */
  case object ChangeUnknown extends ChangeScope
  /** Everything written since `since` has event time ≥ `lo` — the
    * tick's repair window need not reach further back (and MUST reach
    * this far back, even past the blind lookback: a late write to an
    * old partition is exactly the repair the blind window misses). */
  final case class ChangeFrom(lo: Instant) extends ChangeScope

  def changedSince(snap: SourceSnapshot, since: Instant,
                   sinceTies: Int): ChangeScope = {
    // A compaction that dropped superseded lines stamped AT or after
    // `since` left holes in the change history this tick can't account
    // for — the version-derived window would be too narrow. AT matters
    // (ADVICE r16 #2): a drop stamped exactly at the high-water shrinks
    // the tie set without tripping a strict isAfter guard, silently
    // defeating the same-nanosecond tie-count disambiguation below.
    if (snap.droppedThrough.exists(!_.isBefore(since))) return ChangeUnknown
    // Strictly-newer stamps are changed. Stamps have finite clock
    // resolution, so a later commit CAN tie `since` to the nanosecond;
    // a strict filter alone would silently drop it, while >= would
    // re-include the already-accounted boundary batch every time
    // (re-widening windows). The recorded
    // tie COUNT disambiguates: more entries at exactly `since` than
    // the last tick saw means unaccounted same-stamp commits — include
    // the whole tie batch (which of them is new is unknowable).
    val tiesNow = snap.versions.filter(e =>
      parseLedgerTs(e.committedAtUtc).contains(since))
    val changed = snap.versions.filter(e =>
      parseLedgerTs(e.committedAtUtc).forall(_.isAfter(since))) ++
      (if (tiesNow.size > sinceTies) tiesNow else Seq.empty)
    if (changed.isEmpty) ChangeUnknown // token moved yet nothing newer: distrust
    else {
      // per-write touched range when the writer recorded it (patch
      // bounds); the partition's content bounds otherwise — wider,
      // never wrong (pre-r16 rows, writeHourPartition's hour rows)
      val los = changed.map(e =>
        parseLedgerTs(e.patchMinTs).orElse(parseLedgerTs(e.minTs)))
      if (los.exists(_.isEmpty)) ChangeUnknown // tombstones etc.: blind
      else ChangeFrom(los.flatten.minBy(_.toEpochMilli))
    }
  }

  private def tickKey(spec: TimeframeSpec, allowIncomplete: Boolean,
                      repairLookbackMinutes: Long, maxBucketsPerTick: Int,
                      pollBudgetMs: Long): String =
    s"${spec.name}|ai=$allowIncomplete|lb=$repairLookbackMinutes" +
      // cap joins the key only when set, so existing uncapped
      // deployments keep their recorded tick state across the upgrade.
      // A budget-derived deployment keys by the BUDGET, not the cap it
      // realized this poll (the realized cap moves with the measured
      // per-bucket cost — tokens and cursors must not fragment per poll)
      (if (pollBudgetMs > 0) s"|budget=$pollBudgetMs"
       else if (maxBucketsPerTick > 0) s"|cap=$maxBucketsPerTick" else "")

  /** Rows of `kept` whose content FINGERPRINT differs from the stored
    * row with the same key — the fleet tick's write-skip compare.
    * Returns kept's columns plus `__complete_old`: whether a superseded
    * stored row was complete — the `repaired` counter's flag, carried
    * through the SAME shuffle the compare already pays so no separate
    * semi-join action is needed.
    *
    * Fingerprint = md5 of to_json(struct(common columns)): keyed fields
    * and JSON escaping make the encoding unambiguous (a '|'-joined cast
    * collides on values containing the separator), and nulls stay
    * explicit so ("x", null) != (null, "x").
    *
    * The stored side is aggregated PER KEY before the join (r21,
    * VERDICT r20 #3): the HTF tree is keyed-unique by construction
    * (every writer path merges keyed last-wins), but a crashed
    * day swap or a hand-repaired day can violate that — a
    * plain left join would fan kept rows out and inflate
    * nWritten/repaired, and the write itself would duplicate rows. The
    * per-key summary cannot fan out, and a duplicated stored key always
    * counts as changed (`__n_old > 1`), so the rewrite HEALS the tree
    * via the writer's last-wins merge. The aggregation's hash
    * partitioning is exactly the join's requirement, so it rides the
    * exchange the compare already pays. */
  private def changedWithOldCompleteness(kept: DataFrame,
                                         existingFull: DataFrame,
                                         keys: Seq[String]): DataFrame = {
    // schema evolution guard (r15 advice): a column present in kept but
    // absent from the stored rows can't be fingerprint-compared — rows
    // differing ONLY in the new column would hash equal and the write
    // would be skipped, so the new column never materializes for the
    // repair window. Keep every kept row as changed until the stored
    // side carries the full schema.
    val guard = kept.columns.exists(c => !existingFull.columns.contains(c))
    val cmpCols = kept.columns.filter(existingFull.columns.contains).sorted
    def fp(df: DataFrame) = df.withColumn("__fp",
      md5(to_json(struct(cmpCols.map(col): _*),
        Map("ignoreNullFields" -> "false"))))
    // shuffle_hash, NEVER broadcast: the stored side's file-size stats
    // undersell its row count (zstd on repetitive OHLC) — at width 10k
    // one HTF day is 4.8M rows behind a single-digit-MiB footprint, so
    // a broadcast build collects GiBs to the driver (measured:
    // maxResultSize abort on the first busy fleet tick). A per-partition
    // hash build is bounded at any width.
    val summarized = fp(existingFull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n_old"),
           min(col("__fp")).as("__fp_lo"),
           max(col("__fp")).as("__fp_hi"),
           max(col("bucket_complete")).as("__complete_old"))
      .hint("shuffle_hash")
    val joined = fp(kept).join(summarized, keys, "left")
    (if (guard) joined
     else joined.where(col("__fp_lo").isNull ||
                       col("__fp_lo") =!= col("__fp") ||
                       col("__fp_hi") =!= col("__fp") ||
                       col("__n_old") > 1))
      .drop("__fp", "__fp_lo", "__fp_hi", "__n_old")
  }

  /** Whole-lake startup backfill (reference `backfill.py:41-102`):
    * EVERY symbol in ONE pipeline — missing (symbol, bucket) detection,
    * a single multi-symbol aggregation (`byCols = symbol`), and one
    * all-symbols bulk write. The driver never loops symbols; per-symbol
    * watermarks are the only O(symbols) driver state (collected as one
    * small result).
    *
    * Each symbol's watermark advances to its last bucket actually
    * WRITTEN complete — a trailing incomplete (skipped) bucket stays in
    * front of the watermark, so [[runFleetTick]] revisits it once its
    * remaining minutes arrive. */
  def runBackfillAll(spark: SparkSession, reader: MinuteLakeReader,
                     writer: HtfLakeWriter, state: AggregatorStateStore,
                     htfRoot: String, spec: TimeframeSpec,
                     allowIncomplete: Boolean = false): BackfillResult = {
    val minutesOpt = reader.scanAllSymbols(spark)
    if (minutesOpt.isEmpty) return BackfillResult(0, 0, 0, 0)

    val fs = FileSystem.get(new java.net.URI(htfRoot),
      spark.sparkContext.hadoopConfiguration)
    val tfDir = s"$htfRoot/timeframe=${spec.name}"
    val existing =
      if (!fs.exists(new HPath(tfDir)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("symbol",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("bucket_start",
              org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("bucket_complete",
              org.apache.spark.sql.types.BooleanType))))
      else spark.read.parquet(tfDir)
        .select("symbol", "bucket_start", "bucket_complete")

    // distinct BEFORE counting — duplicate row versions for one minute
    // must not inflate/deflate the observed-minutes completeness check
    val available = minutesOpt.get.select("symbol", "timestamp").distinct()
      .withColumn("bucket_start", spec.bucketStart(col("timestamp")))
      .groupBy("symbol", "bucket_start")
      .agg(count(lit(1)).as("observed"))
      .where(col("observed") === spec.expectedMinutes(col("bucket_start")))
      .select("symbol", "bucket_start")
    val missing = Ops.antiByKeys(available,
      existing.where(col("bucket_complete")), Seq("symbol", "bucket_start")).persist()
    try {
      val bounds = missing
        .agg(count(lit(1)).as("n"), min("bucket_start").as("lo"), max("bucket_start").as("hi"))
        .collect()(0)
      if (bounds.getLong(0) == 0L) return BackfillResult(0, 0, 0, 0)
      val nMissing = bounds.getLong(0)
      val lo = bounds.getTimestamp(1).toInstant
      val hiExclusive = spec.addBuckets(bounds.getTimestamp(2).toInstant)

      val source = reader
        .readWindowAllSymbols(spark, lo, hiExclusive.minus(1, ChronoUnit.MINUTES)).get
        .withColumn("__bucket", spec.bucketStart(col("timestamp")))
        .join(missing.withColumnRenamed("bucket_start", "__bucket"),
              Seq("symbol", "__bucket"), "left_semi")
        .drop("__bucket")
      val aggregated = HtfAggregator
        .aggregateMinutes(source, spec, symbol = "", byCols = Seq("symbol"))
        .persist()
      try {
        val kept =
          if (allowIncomplete) aggregated
          else aggregated.where(col("bucket_complete"))
        // ONE action over the persisted aggregation serves the global
        // counters, the per-symbol watermarks, AND the touched-day set
        // the bulk writer would otherwise re-derive with its own
        // distinct pass (r21, fleet-tick parity). The collect is
        // width-bounded (one row per symbol, day structs per written
        // day); day derivation matches the writer's date_format
        // partition columns (both session-TZ).
        val perSym = aggregated.groupBy("symbol").agg(
          count(lit(1)).as("n"),
          sum(when(col("bucket_complete"), 1L).otherwise(0L)).as("nc"),
          max(when(col("bucket_complete"), col("bucket_start"))).as("wm"),
          collect_set(when(lit(allowIncomplete) || col("bucket_complete"),
            struct(year(col("bucket_start")).as("y"),
                   month(col("bucket_start")).as("m"),
                   dayofmonth(col("bucket_start")).as("d")))).as("days"))
          .collect()
        val total = perSym.map(_.getLong(1)).sum
        val nComplete = perSym.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
        val written = if (allowIncomplete) total else nComplete
        val skipped = if (allowIncomplete) 0L else total - nComplete

        // repaired is 0 BY CONSTRUCTION: kept ⊆ missing, and missing
        // was anti-joined against the existing-complete set — backfill
        // only writes buckets the lake didn't have (repairs are the
        // tick's job), so no join is spent computing a constant
        if (written > 0) {
          val days = perSym.iterator
            .flatMap(_.getSeq[org.apache.spark.sql.Row](4))
            .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
            .toSeq.distinct
          // kept filters the PERSISTED aggregation — cache-served
          writer.writeBucketsBulkAllSymbols(spark, spec.name, kept,
            touchedDays = Some(days), callerPinned = true)
          // per-symbol watermarks: ONE batched monotone store rewrite
          // (per-symbol set() is O(width²)), map from the fused collect
          state.advanceAll(spec.name,
            perSym.iterator
              .filter(!_.isNullAt(3))
              .map(r => r.getString(0) -> r.getTimestamp(3).toInstant).toMap)
        }
        BackfillResult(nMissing, written, skipped, repaired = 0)
      } finally aggregated.unpersist()
    } finally missing.unpersist()
  }

  /** One live spec's poll, planned once: its tick key, its watermarks
    * before the poll, and each symbol's window (symbol, start, latest
    * minute) before any cap. */
  private final case class SpecPlan(spec: TimeframeSpec, key: String,
                                    watermarks: Map[String, Instant],
                                    windows: Seq[(String, Instant, Instant)])

  /** One fleet poll: EVERY timeframe spec ticks against the same
    * minute lake (the production deployment shape — reference
    * `aggregator/config.py:17-21` runs 12 specs on a 30 s poll; a
    * one-spec fleet is the plain incremental daemon, `incremental.py:
    * 43-104`). Each symbol's window starts at
    * min(next-after-its-watermark, its-latest-minute − lookback), so
    * late minutes repair recent buckets idempotently (lookback default
    * 120 min, `aggregator/config.py:19`). Per spec, the per-symbol
    * bounds are a tiny broadcast frame joined against the lake scan, so
    * the driver never loops symbols for Spark work. Across specs the
    * poll shares:
    *
    *  1. ONE ledger snapshot decides every spec's token skip — a
    *     no-news poll is `specs.size` file reads, zero Spark jobs
    *     (an ungated 12-spec poll at width 10k measured 109–121 s
    *     against a 30 s budget, r16);
    *  2. ONE `latestMinuteAllSymbols` scan serves every live spec;
    *  3. with two or more scanning specs, ONE minute-lake read over the
    *     UNION of their repair windows, persisted and re-filtered per
    *     spec (a single spec reads its own window directly).
    *
    * Returns results in `specs` order. */
  def runFleetTick(spark: SparkSession, reader: MinuteLakeReader,
                   writer: HtfLakeWriter, state: AggregatorStateStore,
                   htfRoot: String, specs: Seq[TimeframeSpec],
                   sourceLedger: Option[PartitionLedger] = None,
                   allowIncomplete: Boolean = false,
                   repairLookbackMinutes: Long = 120,
                   maxBucketsPerTick: Int = 0,
                   pollBudgetMs: Long = 0)
      : Seq[(String, IncrementalResult)] = {
    val t0 = System.nanoTime()
    // an explicit cap wins over a budget (the budget exists to replace
    // hand-tuned caps, not to second-guess one the deployment chose)
    val effBudget = if (maxBucketsPerTick > 0) 0L else pollBudgetMs
    def keyOf(sp: TimeframeSpec) = tickKey(sp, allowIncomplete,
      repairLookbackMinutes, maxBucketsPerTick, effBudget)
    // ---- ledger gate (r16): if the minute lake's partition ledger is
    // bit-identical to what a spec's last FULL tick accounted for,
    // re-running would re-aggregate the lookback window across the
    // whole width only to write-skip every row (bucket completeness is
    // data-driven, so an unchanged lake can complete no bucket and move
    // no watermark). Skip at the cost of one small file read, returning
    // the last run's lag (data lag is latest-vs-watermark; neither
    // moved). A recorded pendingFrom means the last capped tick drained
    // only part of its window — an unchanged token must NOT skip until
    // the carried remainder is drained (VERDICT r16 #4).
    val snap = sourceLedger.flatMap(sourceSnapshot)
    val recordedBy = specs.map { sp =>
      sp.name -> (if (snap.isDefined) state.getTickState(keyOf(sp)) else None)
    }.toMap
    def skipResult(sp: TimeframeSpec) =
      IncrementalResult(0, 0, 0, 0, recordedBy(sp.name).flatMap(_.lagMinutes))
    val live = specs.filterNot(sp =>
      snap.isDefined && recordedBy(sp.name).exists(st =>
        st.token == snap.get.token && st.pendingFrom.isEmpty))
    if (live.isEmpty) return specs.map(sp => sp.name -> skipResult(sp))

    // ONE store read per spec (per-symbol get() re-parses the whole
    // watermark file per call — O(width²) at width 10k)
    val watermarksBy = live.map(sp => sp.name -> state.getAll(sp.name)).toMap
    // per-symbol latest via partition-directory descent (reads ONE hour
    // partition per symbol, not the lake's history — the steady-state
    // tick must not scale with lake depth). Watermarked symbols absent
    // from the wide layout's recent-day scan (idle > 2 days) are
    // end-probed so their trailing buckets still finalize (ADVICE r13);
    // the union of the live specs' watermark keys covers every spec.
    val latest = reader.latestMinuteAllSymbols(spark,
      watermarksBy.values.flatMap(_.keySet).toSet)
    if (latest.isEmpty)
      return specs.map(sp => sp.name ->
        (if (live.contains(sp)) IncrementalResult(0, 0, 0, 0, None)
         else skipResult(sp)))

    val plans = live.map(sp => planSpec(sp, keyOf(sp), recordedBy(sp.name),
      watermarksBy(sp.name), snap, latest, state, repairLookbackMinutes))
    // Completable-bucket gate (long/calendar frames): when no symbol's
    // window can contain a complete bucket — mid-bucket on a 1d/1w/1M
    // spec, the common case for every tick but the one after a bucket
    // boundary — the scan+aggregation would produce zero writable rows,
    // so the spec launches no scan, pays no cap, and stays out of the
    // union read. Repairs are unaffected: a window reaching back across
    // the boundary still aggregates. Gating on the uncapped window is
    // exact: starts are bucket-aligned, so a capped window of ≥1 whole
    // bucket completes a bucket iff the uncapped one does.
    def gated(p: SpecPlan) = !allowIncomplete && p.windows.forall {
      case (_, start, lm) =>
        p.spec.latestCompleteBucketStart(lm).forall(_.isBefore(start))
    }
    val scanning = plans.filterNot(gated)
    val effCap =
      if (effBudget <= 0) maxBucketsPerTick
      else budgetCap(state, effBudget, scanning, latest.size, live.size)
    val capped = plans.map(p => p.spec.name -> capWindows(p, effCap)).toMap

    // shared source: with ≥2 scanning specs, the union of their capped
    // windows is read once and persisted; each spec re-narrows it via
    // its bounds join. A single spec reads its own window — a persisted
    // copy would only add a cache layer under its one consumer.
    val shared: Option[DataFrame] =
      if (scanning.size < 2) None
      else {
        val bounds = scanning.flatMap(p => capped(p.spec.name)._1)
        Some(reader.readWindowAllSymbols(spark,
          bounds.map(_._2).minBy(_.toEpochMilli),
          bounds.map(_._3).maxBy(_.toEpochMilli)).get.persist())
      }
    try {
      val results = specs.map { sp =>
        sp.name -> plans.find(_.spec.name == sp.name).fold(skipResult(sp)) { p =>
          val (windows, pendingNext, nextCursors) = capped(sp.name)
          def recordTick(lag: Option[Long]): Unit = snap.foreach { s =>
            // cursors land BEFORE the tick state: a crash between the
            // two putStates must never leave a visible pendingFrom
            // without its cursor map (the reverse — a stale cursor file
            // under a cleared/absent pendingFrom — is ignored by
            // construction)
            state.setDrainCursors(p.key,
              if (pendingNext.isEmpty) Map.empty else nextCursors)
            state.setTickState(p.key,
              TickState(s.token, s.highWater, s.hwTies, lag, pendingNext))
          }
          if (gated(p)) {
            // the gate-skip is a COMPLETE account of this lake state for
            // this tick: nothing completable exists, so nothing ever
            // will until the ledger moves — record the token so the next
            // poll skips at file-read cost (with the drain cursor
            // preserved if a cap truncated us here)
            val lag = fleetLag(sp, latest, p.watermarks)
            recordTick(lag)
            IncrementalResult(0, 0, 0, 0, lag)
          } else {
            val res = aggregateWindows(spark, reader, writer, state, htfRoot,
              sp, allowIncomplete, windows, shared)
            val lag = fleetLag(sp, latest, state.getAll(sp.name))
            recordTick(lag)
            res.copy(lagMinutes = lag)
          }
        }
      }
      // close the budget loop: record this poll's (scanning-specs,
      // scanned, wall) observation for the two-term fit, and keep the
      // legacy single-term EWMA updated — it remains the marginal-term
      // fallback until the model has ≥2 non-collinear observations
      // (and the explicit seeding knob for deployments that know
      // their hardware).
      if (effBudget > 0 && scanning.nonEmpty) {
        // record every poll that actually launched spec scans — a capped
        // poll whose window held only calendar gap (scanned = 0, sparse
        // corpus) still paid the per-spec fixed machinery, and its
        // (liveSpecs, 0, wall) triple anchors the two-term fit's FIXED
        // term directly (gating on scanned > 0 starves the model of its
        // second observation on sparse corpora). Token-skip polls never
        // reach here. The EWMA marginal estimate still needs
        // scanned > 0.
        val scanned = results.map(_._2.bucketsScanned).sum
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        state.addCostObservation(scanning.size.toLong, scanned, elapsedMs)
        if (scanned > 0) {
          val measured = math.min(100.0, math.max(0.01,
            math.max(elapsedMs - SteadyFloorMs, 1.0) / scanned))
          val prev = state.getCostPerBucketMs.getOrElse(DefaultBucketCostMs)
          state.setCostPerBucketMs(0.5 * prev + 0.5 * measured)
        }
      }
      results
    } finally shared.foreach { df => df.unpersist(); () }
  }

  /** Per-symbol windows of one live spec. Window lo per symbol = the
    * earliest of its changed-floor (or blind lookback), its carried
    * drain cursor, and the bucket after its watermark; hi = its latest
    * minute. */
  private def planSpec(sp: TimeframeSpec, key: String,
                       recorded: Option[TickState],
                       watermarks: Map[String, Instant],
                       snap: Option[SourceSnapshot],
                       latest: Map[String, Instant],
                       state: AggregatorStateStore,
                       repairLookbackMinutes: Long): SpecPlan = {
    // Data-driven repair window (r16): the blind lookback exists to
    // catch late minutes landing behind the watermark — but the ledger
    // KNOWS where writes landed since the last tick. When every commit
    // since the stored high-water parses, the repair window starts at
    // the oldest changed event time instead of now−lookback: a fresh-
    // data-only tick stops re-aggregating untouched history, and a
    // late write to an old partition extends the window BACK past the
    // blind lookback (the repair it would have missed).
    val changedFloor: Option[Instant] = (for {
      s <- snap; st <- recorded; hw <- st.highWater
    } yield changedSince(s, hw, st.hwTies)).collect {
      case ChangeFrom(lo) => sp.floorInstant(lo)
    }
    // carried drain cursor: a previous capped tick stopped here — this
    // tick's windows must pick up at it. On a PURE resume (unchanged
    // token) the cursor IS the start: nothing landed since the cursor's
    // tick accounted the whole backlog, so re-opening the blind
    // lookback or the watermark rescue would re-scan ground the cursor
    // already drained, and the cursor would never advance. When the
    // token moved too, the window floor is the EARLIER of the cursor
    // and the ledger-derived floor (old backlog ∪ new writes).
    val resumeFloor = recorded.flatMap(_.pendingFrom).map(sp.floorInstant)
    val pureResume = resumeFloor.isDefined &&
      snap.exists(s => recorded.exists(_.token == s.token))
    // Per-symbol drain cursors (VERDICT r17 #3): the tick state's
    // pendingFrom is the fleet-wide MIN of un-drained starts, and
    // resuming EVERY symbol there re-scanned already-drained symbols
    // on each capped poll. The cursor STORE carries each pending
    // symbol's own first un-drained bucket start; a symbol ABSENT from
    // a non-empty map is drained — its capped window reached its
    // then-head, and a pure resume (unchanged token) means nothing
    // landed since, so it scans nothing. An EMPTY map under a recorded
    // pendingFrom is a pre-r18 in-flight drain: every symbol falls
    // back to the global floor (the legacy shape).
    val drainCursors: Map[String, Instant] =
      if (resumeFloor.isDefined) state.getDrainCursors(key) else Map.empty
    val windows = latest.toSeq.map { case (sym, latestMinute) =>
      val cursor = drainCursors.get(sym.toUpperCase)
      val start =
        if (pureResume)
          cursor.getOrElse(
            if (drainCursors.nonEmpty)
              // drained symbol: first bucket past its head — an empty
              // window (its latest cannot reach it)
              sp.addBuckets(sp.floorInstant(latestMinute))
            else resumeFloor.get)
        else {
          val repairStart0 = changedFloor.getOrElse(sp.floorInstant(
            latestMinute.minus(repairLookbackMinutes, ChronoUnit.MINUTES)))
          // token moved mid-drain: the floor is the EARLIER of this
          // symbol's own backlog cursor and the ledger-derived repair
          // floor (old backlog ∪ new writes); a drained symbol (absent
          // from a non-empty map) has only the new writes to cover
          val drainFloor =
            cursor.orElse(if (drainCursors.nonEmpty) None else resumeFloor)
          val repairStart =
            drainFloor.filter(_.isBefore(repairStart0)).getOrElse(repairStart0)
          watermarks.get(sym.toUpperCase) match {
            case Some(lastCompleted) =>
              val next = sp.addBuckets(lastCompleted)
              if (next.isBefore(repairStart)) next else repairStart
            case None => repairStart
          }
        }
      (sym, start, latestMinute)
    }
    SpecPlan(sp, key, watermarks, windows)
  }

  /** Bounded drain (VERDICT r16 #4): cap each symbol's window at `cap`
    * buckets and carry the first un-drained bucket start forward as the
    * next tick's cursor. A cold daemon behind a day of backlog then
    * drains in budget-bounded polls (each ≤ cap buckets × width)
    * instead of one 25-minute poll; cap = 0 keeps the uncapped
    * single-poll drain. Returns the capped windows, the fleet-wide
    * resume floor, and the per-symbol resume points — pending symbols
    * only; drained symbols leave the map, which IS their drained
    * signal. */
  private def capWindows(p: SpecPlan, cap: Int)
      : (Seq[(String, Instant, Instant)], Option[Instant], Map[String, Instant]) =
    if (cap <= 0) (p.windows, None, Map.empty)
    else {
      val capped = p.windows.map { case (sym, start, lm) =>
        val next = p.spec.addBuckets(start, cap)
        val capEnd = next.minus(1, ChronoUnit.MINUTES) // last minute of bucket cap-1
        if (capEnd.isBefore(lm)) ((sym, start, capEnd), Some(next))
        else ((sym, start, lm), None)
      }
      (capped.map(_._1),
        capped.flatMap(_._2).minByOption(_.toEpochMilli),
        capped.collect { case ((sym, _, _), Some(next)) =>
          sym.toUpperCase -> next }.toMap)
    }

  /** Fleet lag = worst symbol's distance from its own latest minute; a
    * symbol with minutes but NO completed bucket yet has unbounded lag,
    * so the metric is unknown (None), not a healthy number computed
    * only from caught-up symbols. */
  private def fleetLag(sp: TimeframeSpec, latest: Map[String, Instant],
                       watermarks: Map[String, Instant]): Option[Long] = {
    val perSymbol = latest.toSeq.map { case (sym, lm) =>
      watermarks.get(sym.toUpperCase).map { lc =>
        math.max((lm.toEpochMilli - sp.addBuckets(lc).toEpochMilli + 60000L)
          / 60000L, 0L)
      }
    }
    if (perSymbol.exists(_.isEmpty)) None else perSymbol.flatten.maxOption
  }

  /** Aggregate one spec over its per-symbol windows, write the buckets
    * whose content changed, and advance the watermarks. `shared`, when
    * given, is a persisted read covering every window. The result's lag
    * is left for the caller. */
  private def aggregateWindows(spark: SparkSession, reader: MinuteLakeReader,
                               writer: HtfLakeWriter,
                               state: AggregatorStateStore, htfRoot: String,
                               spec: TimeframeSpec, allowIncomplete: Boolean,
                               windows: Seq[(String, Instant, Instant)],
                               shared: Option[DataFrame]): IncrementalResult = {
    import spark.implicits._
    val bounds = windows
      .map { case (s, st, lt) =>
        (s, java.sql.Timestamp.from(st), java.sql.Timestamp.from(lt)) }
      .toDF("symbol", "__start", "__latest")
    // global bounds come from the driver-local seq — no Spark job needed
    val globalLo = windows.map(_._2).minBy(_.toEpochMilli)
    val globalHi = windows.map(_._3).maxBy(_.toEpochMilli)
    val source = shared
      .getOrElse(reader.readWindowAllSymbols(spark, globalLo, globalHi).get)
      .join(broadcast(bounds), Seq("symbol"))
      .where(col("timestamp").between(col("__start"), col("__latest")))
      .drop("__start", "__latest")

    val fs = FileSystem.get(new java.net.URI(htfRoot),
      spark.sparkContext.hadoopConfiguration)
    val tfDir = s"$htfRoot/timeframe=${spec.name}"
    val farEnd = Instant.parse("9999-01-01T00:00:00Z")
    val loBound = spec.floorInstant(globalLo)
    // every index consumer below is window-bounded (repaired-count
    // semi-join, fingerprint compare), so read ONLY the window's day
    // dirs — explicit descent, never a root read + a partition
    // predicate, which lists every file in the tree before pruning and
    // scans history that grows forever (r15). An absent tree or an
    // empty day set reads as no stored rows.
    lazy val windowDays =
      graft.sources.DayDirs.inRange(fs, tfDir, loBound, farEnd)

    val aggregated = HtfAggregator
      .aggregateMinutes(source, spec, symbol = "", byCols = Seq("symbol"))
      .persist()
    try {
      val kept =
        if (allowIncomplete) aggregated else aggregated.where(col("bucket_complete"))
      // ONE action over the persisted aggregation serves BOTH the
      // global counters and the per-symbol complete-bucket watermarks
      // advanceAll needs below — a separate watermark collect would be
      // a second width-sized aggregation per spec per poll. The collect
      // is width-bounded (one row per symbol).
      val perSym = aggregated.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(when(col("bucket_complete"), 1L).otherwise(0L)).as("nc"),
        max(when(col("bucket_complete"), col("bucket_start"))).as("wm"))
        .collect()
      val total = perSym.map(_.getLong(1)).sum
      val nComplete = perSym.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
      val nKept = if (allowIncomplete) total else nComplete
      var repaired = 0L
      var nWritten = 0L
      if (nKept > 0) {
        // steady-state write-skip: the repair window re-AGGREGATES every
        // tick (that is the late-correction contract), but only buckets
        // whose CONTENT differs from the stored row are re-WRITTEN. A
        // no-news tick over a 1000-symbol lake otherwise rewrites
        // lookback/bucket buckets per symbol per cadence — measured
        // 3000 bucket writes per no-op tick at width 1000 (HtfWidthProbe).
        // `__complete_old` rides the fingerprint compare, so one
        // aggregate action below yields nWritten AND repaired together
        // (no separate index read + semi-join per writing poll). The
        // stored side is summarized per key inside the compare, so a
        // duplicate-keyed tree cannot fan the counters out and is
        // healed by the forced rewrite.
        val changed =
          if (windowDays.isEmpty)
            kept.withColumn("__complete_old", lit(null).cast("boolean"))
          else {
            val existingFull =
              spark.read.option("basePath", tfDir).parquet(windowDays: _*)
                .drop("year", "month", "day")
                .where(col("bucket_start") >= java.sql.Timestamp.from(loBound))
            changedWithOldCompleteness(kept, existingFull,
              Seq("symbol", "bucket_start"))
          }
        val changedPersisted = changed.persist()
        try {
          // ONE action: changed count + repaired count (changed rows
          // whose superseded stored row was complete) + the touched-day
          // set the bulk writer would otherwise re-derive with its own
          // distinct pass (r20); day derivation matches the writer's
          // date_format partition columns (both session-TZ)
          val cnt = changedPersisted.agg(
            count(lit(1)).as("n"),
            count(when(col("__complete_old"), lit(1))).as("rep"),
            collect_set(struct(
              year(col("bucket_start")).as("y"),
              month(col("bucket_start")).as("m"),
              dayofmonth(col("bucket_start")).as("d"))).as("days")).collect()(0)
          nWritten = cnt.getLong(0)
          if (nWritten > 0) {
            repaired = cnt.getLong(1)
            val days = cnt.getSeq[org.apache.spark.sql.Row](2)
              .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
            writer.writeBucketsBulkAllSymbols(spark, spec.name,
              changedPersisted.drop("__complete_old"), touchedDays = Some(days),
              callerPinned = true)
          }
        } finally { changedPersisted.unpersist(); () }
        // watermarks advance on every observed-complete bucket, written
        // or skipped-as-unchanged — both mean the bucket is current;
        // one batched monotone rewrite, not a per-symbol loop. The map
        // derives from the perSym pass above — no extra Spark action.
        state.advanceAll(spec.name,
          perSym.iterator
            .filter(!_.isNullAt(3))
            .map(r => r.getString(0) -> r.getTimestamp(3).toInstant).toMap)
      }
      IncrementalResult(total, nWritten,
        if (allowIncomplete) 0L else total - nComplete, repaired, None)
    } finally aggregated.unpersist()
  }

  /** Budget-derived cap (VERDICT r17 #4; two-term + backlog-aware
    * since r19): with a fitted model (wall ≈ fixed × scanning-specs +
    * marginal × scanned — see fitCostModel), the cap is the largest c
    * whose PREDICTED wall fits the budget, where predicted scan volume
    * is Σ_spec Σ_sym min(c, backlog) over the scanning specs' real
    * windows — not cap × width × live-specs, which overstates volume
    * whenever spec backlogs are shallower than the cap (a 1h spec has
    * 20× fewer pending buckets than 3m over the same lag). Before the
    * model exists (cold start, <2 non-collinear observations) the r18
    * seeded closed form applies unchanged, so explicitly-seeded
    * deployments derive the same first cap. FLOOR at the r17-validated
    * amortization cap either way: below ~20 buckets/symbol/poll fixed
    * costs dominate and every poll gets SLOWER per unit of progress; an
    * infeasible budget is reported loudly WITH the measured minimum
    * feasible budget. */
  private def budgetCap(state: AggregatorStateStore, budgetMs: Long,
                        scanning: Seq[SpecPlan], width: Int,
                        liveSpecs: Int): Int =
    fitCostModel(state.getCostObservations) match {
      case Some((fSpec, mMs)) =>
        val backlogs: Seq[Array[Long]] = scanning.map(p =>
          p.windows.map { case (_, start, lmEnd) =>
            bucketsSpanned(p.spec, start, lmEnd) }.toArray)
        val nScanning = math.max(scanning.size, 1)
        def predicted(c: Long): Double =
          fSpec * nScanning + mMs * backlogs.iterator.map(arr =>
            arr.iterator.map(b => math.min(b, c)).sum).sum
        val maxBacklog = backlogs.iterator.flatMap(_.iterator)
          .foldLeft(MinBudgetCap.toLong)(math.max)
        BudgetTelemetry.lastModel = (fSpec, mMs)
        if (predicted(MinBudgetCap.toLong) > budgetMs) {
          BudgetTelemetry.lastDerivedCap = 0 // sub-floor: infeasible
          System.err.println(s"[graft][AggregatorRunner] poll budget " +
            s"$budgetMs ms is infeasible at width=$width x " +
            s"scanning-specs=$nScanning (model fixed=${fSpec.toLong} " +
            "ms/spec + " +
            String.format(java.util.Locale.ROOT, "%.3f", Double.box(mMs)) +
            s" ms/bucket): measured minimum feasible budget is " +
            s"~${predicted(MinBudgetCap.toLong).toLong} ms; raise the " +
            "budget, shrink the spec set, or accept floor-cap drains")
          MinBudgetCap
        } else {
          var lo = MinBudgetCap.toLong
          var hi = maxBacklog
          while (lo < hi) {
            val mid = (lo + hi + 1) / 2
            if (predicted(mid) <= budgetMs) lo = mid else hi = mid - 1
          }
          BudgetTelemetry.lastDerivedCap = lo.toInt
          lo.toInt
        }
      case None =>
        // cold start: the r18 seeded closed form
        val w = math.max(width, 1)
        val margMs = state.getCostPerBucketMs.getOrElse(DefaultBucketCostMs)
        val denom = margMs * w.toDouble * math.max(liveSpecs, 1)
        val derived = ((budgetMs.toDouble - SteadyFloorMs) / denom).toInt
        BudgetTelemetry.lastModel = (SteadyFloorMs.toDouble, margMs)
        BudgetTelemetry.lastDerivedCap = derived
        if (derived < MinBudgetCap) {
          val minFeasibleMs = (SteadyFloorMs + denom * MinBudgetCap).toLong
          System.err.println(s"[graft][AggregatorRunner] poll budget " +
            s"$budgetMs ms is infeasible at width=$w x " +
            s"live-specs=$liveSpecs (derived cap $derived < floor " +
            s"$MinBudgetCap at seeded " +
            String.format(java.util.Locale.ROOT, "%.3f", Double.box(margMs)) +
            s" ms/bucket): measured minimum feasible budget is " +
            s"~$minFeasibleMs ms; raise the budget, shrink the spec " +
            "set, or accept floor-cap drains")
        }
        math.max(MinBudgetCap, derived)
    }

  /** Budget-derived cap constants (VERDICT r17 #4): the cost seed is
    * the r17 FleetTickProbe measurement (0.11–0.18 ms per scanned
    * bucket at width 10k × 12 specs on local[32]); the steady floor is
    * the measured fixed per-poll overhead (ledger snapshot + latest
    * scan + state writes) the cap math must reserve before spending
    * the rest on buckets. */
  private[graft] val DefaultBucketCostMs = 0.15
  private[graft] val SteadyFloorMs = 6000L
  private[graft] val MaxCostObservations = 8

  /** Last budget derivation, probe/spec-visible (driver-side only —
    * the daemon poll loop IS single-driver by contract). Telemetry,
    * never control flow. */
  private[graft] object BudgetTelemetry {
    @volatile var lastModel: (Double, Double) = (0.0, 0.0)
    @volatile var lastDerivedCap: Int = 0
  }

  /** Two-term poll cost fit (VERDICT r18 #2): least squares of
    * wall ≈ fixedPerSpec × liveSpecs + marginal × scanned (no
    * intercept) over the rolling (liveSpecs, scanned, wall)
    * observations. The fixed term is PER SCANNING SPEC, not per poll
    * — the r19 width-10k probe data shows poll wall tracks
    * ~4 s × live-specs + ~0.13 ms × buckets, and a per-poll intercept
    * mis-fits drains whose live set shrinks as specs converge
    * (the first feasible-budget leg measured fixed collapsing to 0
    * and the marginal absorbing it). Needs ≥2 non-collinear points;
    * returns None otherwise (caller falls back to the seeded r18
    * closed form). Zero-SCAN observations are usable — a capped poll
    * that crossed only calendar gap samples w ≈ fixed × liveSpecs
    * directly, the cleanest fixed-term anchor there is (r20; on
    * sparse corpora they can be half the drain's polls) — the
    * collinearity guard still rejects an all-gap set, which cannot
    * price the marginal. Marginal clamps to the r18 EWMA's
    * [0.01, 100] ms/bucket band, fixed to [0, 60 s] — one
    * pathological poll must not blow the model out. */
  private[graft] def fitCostModel(
      obs: Seq[(Long, Long, Double)]): Option[(Double, Double)] = {
    val usable = obs.filter { case (l, s, w) => l > 0 && s >= 0 && w > 0 }
    if (usable.size < 2) return None
    var sll, sss, sls, slw, ssw = 0.0
    usable.foreach { case (l, s, w) =>
      val ld = l.toDouble; val sd = s.toDouble
      sll += ld * ld; sss += sd * sd; sls += ld * sd
      slw += ld * w; ssw += sd * w
    }
    val det = sll * sss - sls * sls
    if (det <= 1e-9 * sll * sss) return None // collinear: can't separate
    val f = (slw * sss - ssw * sls) / det
    val m = (ssw * sll - slw * sls) / det
    Some((math.min(60000.0, math.max(0.0, f)),
      math.min(100.0, math.max(0.01, m))))
  }

  /** Calendar buckets spanned by [start, latest] for `sp` — the
    * per-symbol backlog estimate behind budget cap sizing (observed
    * buckets ≤ calendar buckets, so sparse lakes land UNDER budget —
    * the safe direction). */
  private[graft] def bucketsSpanned(sp: graft.schema.TimeframeSpec,
                                    start: Instant, latest: Instant): Long =
    if (latest.isBefore(start)) 0L
    else sp.fixedMinutes match {
      case Some(m) =>
        ChronoUnit.MINUTES.between(start, sp.floorInstant(latest)) / m + 1
      case None =>
        var c = 0L
        var t = start
        while (!t.isAfter(latest) && c < 100000L) { c += 1; t = sp.addBuckets(t) }
        c
    }

  /** Budget-cap floor: below ~this many buckets per symbol per poll,
    * per-spec fixed costs dominate and shrinking the cap further makes
    * every poll SLOWER per unit of progress (measured, width 10k × 12
    * specs: cap=20 polls drained 200–650k buckets at 27–108 s; the
    * unfloored spiral reached cap=1 polls doing 50k buckets in
    * 160–190 s). The r17-validated amortization point. */
  private[graft] val MinBudgetCap = 20
}
