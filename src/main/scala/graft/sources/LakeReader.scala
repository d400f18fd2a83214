package graft.sources

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.column.statistics.BinaryStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Ops
import graft.schema.CanonicalSchema

/** Metadata walks over a day-wide tree's `year=/month=/day=` partition
  * directories — O(depth) directory statuses, never a file listing.
  * Shared by the minute and HTF readers so bounded window reads touch
  * exactly the day dirs they need (a root-read + partition predicate
  * still LISTS every file in the lake before pruning). */
private[graft] object DayDirs {

  /** One partition level's child dirs with their parsed numeric values,
    * ascending (unparsable values sort first as -1 and are filtered by
    * every range consumer). */
  private def numericAsc(fs: FileSystem, p: HPath): Seq[(HPath, Long)] =
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.contains("="))
      .map(d => d -> d.getName.substring(d.getName.indexOf('=') + 1)
        .toLongOption.getOrElse(-1L))
      .sortBy(_._2).toSeq

  /** Every day directory under `base` in ascending (year, month, day)
    * numeric order — the full O(depth) walk; use only when the consumer
    * genuinely needs every day (retention sweeps, full-range probes).
    * A missing base reads as an empty tree (all walks). */
  def ascending(fs: FileSystem, base: String): Seq[String] = {
    if (!fs.exists(new HPath(base))) return Seq.empty
    for {
      (y, _) <- numericAsc(fs, new HPath(base))
      (m, _) <- numericAsc(fs, y)
      (d, _) <- numericAsc(fs, m)
    } yield d.toString
  }

  /** The (year, month, day) of a walked day-dir path — parsed from the
    * directory names rather than re-constructed, so int- and zero-padded
    * partition values both match. */
  def ymdOf(p: String): (Int, Int, Int) = {
    val a = p.split('/').takeRight(3).map { s =>
      s.substring(s.indexOf('=') + 1).toLongOption.getOrElse(-1L).toInt
    }
    (a(0), a(1), a(2))
  }

  /** The day directories whose (year, month, day) intersect
    * [start, end], listing ONLY the `year=`/`month=` dirs that can
    * intersect the range: 1 + touchedYears + touchedMonths LIST calls —
    * NOT O(lake depth). This sits under every bounded read, both
    * writers' merge legs, and both daily ticks; on an object store each
    * LIST is a billable request, so a 3-hour window over a decade lake
    * must cost 3 LISTs, not ~3,700 (VERDICT r13 #2). */
  def inRange(fs: FileSystem, base: String, start: Instant,
              end: Instant): Seq[String] =
    inRangeCounting(fs, base, start, end)._1

  /** [[inRange]] plus the number of directory LIST calls made — the
    * spec pins the request-economics bound from this count. */
  private[sources] def inRangeCounting(fs: FileSystem, base: String, start: Instant,
                                       end: Instant): (Seq[String], Int) = {
    if (!fs.exists(new HPath(base))) return (Seq.empty, 0)
    val s = start.atZone(java.time.ZoneOffset.UTC).toLocalDate
    val e = end.atZone(java.time.ZoneOffset.UTC).toLocalDate
    var lists = 0
    def ls(p: HPath) = { lists += 1; numericAsc(fs, p) }
    val loKey = f"${s.getYear}%04d${s.getMonthValue}%02d${s.getDayOfMonth}%02d"
    val hiKey = f"${e.getYear}%04d${e.getMonthValue}%02d${e.getDayOfMonth}%02d"
    val dirs = for {
      (y, yv) <- ls(new HPath(base))
      if yv >= s.getYear && yv <= e.getYear
      mLo = if (yv == s.getYear) s.getMonthValue else 1
      mHi = if (yv == e.getYear) e.getMonthValue else 12
      (m, mv) <- ls(y)
      if mv >= mLo && mv <= mHi
      (d, dv) <- ls(m)
      key = f"$yv%04d$mv%02d$dv%02d"
      if dv >= 1 && key >= loKey && key <= hiKey
    } yield d.toString
    (dirs, lists)
  }

  /** The day directories matching an explicit (year, month, day) set —
    * the writers' merge legs know exactly which days they touch, so the
    * walk descends only those years/months: O(touched) LISTs. */
  def matching(fs: FileSystem, base: String,
               ymds: Set[(Int, Int, Int)]): Seq[String] = {
    if (ymds.isEmpty || !fs.exists(new HPath(base))) return Seq.empty
    val years = ymds.map(_._1)
    val yearMonths = ymds.map(t => (t._1, t._2))
    for {
      (y, yv) <- numericAsc(fs, new HPath(base))
      if years.contains(yv.toInt)
      (m, mv) <- numericAsc(fs, y)
      if yearMonths.contains((yv.toInt, mv.toInt))
      (d, dv) <- numericAsc(fs, m)
      if ymds.contains((yv.toInt, mv.toInt, dv.toInt))
    } yield d.toString
  }

  /** The data files directly under `dir`: names starting `_` or `.`
    * (commit markers, checksums, hidden versions) are skipped, as Spark
    * skips them when it reads the directory. */
  def dataFiles(fs: FileSystem, dir: String): Seq[FileStatus] =
    fs.listStatus(new HPath(dir)).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The k deepest day directories by descending (year, month, day) —
    * visits only the years/months it needs. */
  def deepest(fs: FileSystem, base: String, k: Int): Seq[String] = {
    if (!fs.exists(new HPath(base))) return Seq.empty
    def numericDesc(p: HPath): Seq[HPath] = numericAsc(fs, p).reverse.map(_._1)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val years = numericDesc(new HPath(base))
    var yi = 0
    while (yi < years.length && out.length < k) {
      val months = numericDesc(years(yi))
      var mi = 0
      while (mi < months.length && out.length < k) {
        val days = numericDesc(months(mi))
        var di = 0
        while (di < days.length && out.length < k) {
          out += days(di).toString; di += 1
        }
        mi += 1
      }
      yi += 1
    }
    out.toSeq
  }
}

/** HTF-lake reader (S4's higher-timeframe half — reference
  * `live_data_api_service/repository.py:79-122`): bucket-window read
  * with the complete-bucket filter and latest-wins dedup, bucket_start
  * re-keyed as `timestamp` so downstream consumes HTF bars and 1m bars
  * through the same column. The hourly tree reads the symbol's subtree;
  * the day-wide tree reads the window's day dirs ([[DayDirs]]). */
class HtfLakeReader(root: String, committer: CommitProtocol = RenameCommit) {

  private def dir(timeframe: String, symbol: String) =
    s"$root/timeframe=$timeframe/symbol=${symbol.toUpperCase}"

  def readWindow(spark: SparkSession, timeframe: String, symbol: String,
                 start: Instant, end: Instant,
                 completeOnly: Boolean = true): Option[DataFrame] =
    if (!committer.readThroughResolve)
      readWindowOnce(spark, timeframe, symbol, start, end, completeOnly)
    else
      // manifest deployment (VERDICT r17 #2): resolve + plan + PIN
      // inside the re-resolve guard, so the returned frame's later
      // consumption (bar serving, alignment joins) cannot die on a
      // version GC'd after this returns. HTF windows are serving-
      // bounded (limit × bucket width); ContextCleaner reclaims the
      // cache when the frame leaves driver scope. Identity deployments
      // (above) stay fully lazy — their paths never vanish.
      ResolvedScan.retryOnVanishedVersion() {
        readWindowOnce(spark, timeframe, symbol, start, end, completeOnly)
          .map { df =>
            val pinned = df.persist()
            try { pinned.count(); pinned }
            catch { case e: Throwable => pinned.unpersist(); throw e }
          }
      }

  private def readWindowOnce(spark: SparkSession, timeframe: String,
                 symbol: String, start: Instant, end: Instant,
                 completeOnly: Boolean): Option[DataFrame] = {
    val d = dir(timeframe, symbol)
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val base =
      if (fs.exists(new HPath(d)) && committer.readThroughResolve) {
        // manifest deployment: the live day versions sit behind each
        // leaf's pointer (dot-prefixed — a plain subtree read sees
        // nothing); window-bound the leaf walk first, then resolve
        val inWin = ResolvedScan.resolveLeaves(fs,
          DayDirs.inRange(fs, d, start, end), committer)
        // in-range-empty window still reads ONE committed day so the
        // result keeps the real schema (mirrors the wide branch)
        val days =
          if (inWin.nonEmpty) inWin
          else ResolvedScan.resolveLeaves(fs,
            DayDirs.deepest(fs, d, 1), committer)
        if (days.isEmpty) return None
        spark.read.option("basePath", d).parquet(days: _*)
      }
      else if (fs.exists(new HPath(d))) spark.read.parquet(d)
      else {
        // day-wide layout: no per-symbol directory level — symbol is a
        // sorted data column under timeframe=T/year=/month=/day=, and
        // parquet min/max stats on it do the per-symbol skipping. The
        // window's day dirs are read EXPLICITLY (bucket_start derives the
        // day partition), same as the minute reader — a tfDir root-read
        // listed the whole HTF tree per request. An in-range-empty
        // window reads ONE day dir so the result keeps the real schema.
        val tfDir = s"$root/timeframe=$timeframe"
        if (LakeLayout.detect(fs, tfDir).exists(_.isInstanceOf[LakeLayout.DayWide])) {
          val days = DayDirs.inRange(fs, tfDir, start, end)
          val paths = if (days.nonEmpty) days
                      else DayDirs.deepest(fs, tfDir, 1)
          if (paths.isEmpty) return None
          spark.read.option("basePath", tfDir).parquet(paths: _*)
            .where(col("symbol") === symbol.toUpperCase)
        } else return None
      }
    var df = base
      .where(col("bucket_start").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end)))
    if (completeOnly) df = df.where(col("bucket_complete"))
    // duplicate bucket rows should not exist, but if a repair ever
    // leaves one, prefer the complete / most-observed row deterministically.
    // `symbol` is dropped too: the wide branch carries it as a data
    // column (already pinned to one value by the equality filter above)
    // while the hourly per-symbol subtree has none — both layouts must
    // return the SAME schema through this API (ADVICE r13).
    Some(Ops.dedupKeepLast(df, Seq("bucket_start"),
        Seq(col("bucket_complete"), col("observed_minutes_in_bucket")))
      .drop("year", "month", "day", "symbol")
      .withColumnRenamed("bucket_start", "timestamp"))
  }
}

/** Minute-lake reader (reference `aggregator/source_reader.py:13-78`,
  * `live_data_api_service/repository.py:22-52`).
  *
  * Reads name the directories they need instead of reading the lake
  * root under partition predicates, because a root read LISTS every
  * file in the lake before pruning. On the hourly layout a single-symbol
  * read scopes to the symbol's `symbol=X/` subtree. On the day-wide
  * layout a bounded read names the window's day dirs ([[DayDirs]]),
  * filters `symbol` as a data column (files are symbol-sorted, so
  * parquet min/max stats skip row groups), and overlays the late-repair
  * delta files (see `overlayDeltas`). Unbounded scans read the root,
  * since they need every file; of the bounded reads only the hourly
  * all-symbols window read still does, pruned on the hour partition key.
  */
class MinuteLakeReader(root: String, layoutHint: Option[LakeLayout] = None,
                       committer: CommitProtocol = RenameCommit) {

  private def lakeDir = s"$root/futures/um/minute"

  /** Manifest deployments publish each hourly leaf behind a pointer
    * ([[CommitProtocol.readThroughResolve]]): every hourly subtree scan
    * below must then enumerate+resolve leaves instead of handing Spark
    * the subtree root (whose dot-prefixed live versions the hidden-path
    * filter would skip — the reader would see EMPTY partitions). The
    * wide layout never needs this: its bulk writes commit through
    * Hadoop's committer and its deltas are append-only (§4.1). */
  private def mustResolve: Boolean = committer.readThroughResolve

  /** Whether this reader's plans carry manifest-resolved `.v_*` paths
    * that a later publish can GC mid-scan — serving layers use this to
    * decide when a returned frame must be pinned eagerly inside a
    * [[ResolvedScan.retryOnVanishedVersion]] guard (r17 advice).
    * Identity deployments return false: their paths never vanish. */
  def resolvesVersions: Boolean = committer.readThroughResolve

  private def hasData(spark: SparkSession): Boolean = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.exists(new HPath(lakeDir))
  }

  /** Physical layout, auto-detected from the lake's top-level partition
    * directories (cached once found; an empty lake reads as the hourly
    * default until data lands). Every read path below branches on this,
    * so one reader serves both layouts behind the same API. */
  @volatile private var detectedLayout: Option[LakeLayout] = None
  private def layoutOf(spark: SparkSession): LakeLayout =
    layoutHint.getOrElse(detectedLayout.getOrElse {
      val fs = FileSystem.get(new java.net.URI(root),
        spark.sparkContext.hadoopConfiguration)
      LakeLayout.detect(fs, lakeDir) match {
        case Some(l) => detectedLayout = Some(l); l
        case None => LakeLayout.HourlySymbol
      }
    })

  private def isWide(spark: SparkSession): Boolean =
    layoutOf(spark).isInstanceOf[LakeLayout.DayWide]

  // ------------------------------------------------ delta overlay (wide)
  // Late point repairs land as small `_delta/year=/month=/day=` files
  // beside the base (MinuteLakeWriter.writeDeltaPatch) — O(patch)
  // writes instead of a day × all-symbols rewrite. Every wide read
  // overlays them through the ONE shared merge policy (mergeKeyed:
  // delta wins, highest __delta_seq wins among deltas, LIVE_ONLY
  // preserved from base), so a patch is visible immediately and
  // compaction (which applies the same policy at write time) never
  // changes what a reader sees. The delta population is bounded small
  // by compaction; delta days ⊆ base days by writer invariant.

  private def deltaRoot = s"$lakeDir/${MinuteLakeWriter.DeltaSubdir}"

  private def fsOf(spark: SparkSession): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** Delta day dirs intersecting the window (all of them when
    * unbounded) — the same O(touched) pruned walk as the base. */
  private def deltaDaysFor(spark: SparkSession, start: Option[Instant],
                           end: Option[Instant]): Seq[String] = {
    val fs = fsOf(spark)
    if (!fs.exists(new HPath(deltaRoot))) Seq.empty
    else (start, end) match {
      case (Some(s), Some(e)) => DayDirs.inRange(fs, deltaRoot, s, e)
      case _ => DayDirs.ascending(fs, deltaRoot)
    }
  }

  /** ymd → delta-day-dir map for the probe paths (empty when no deltas). */
  private def deltaYmdMap(spark: SparkSession): Map[(Int, Int, Int), String] = {
    val fs = fsOf(spark)
    if (!fs.exists(new HPath(deltaRoot))) Map.empty
    else DayDirs.ascending(fs, deltaRoot).map(p => DayDirs.ymdOf(p) -> p).toMap
  }

  /** The delta rows under `paths` (day dirs or files), collapsed
    * last-wins per (symbol, timestamp) by `__delta_seq` — one fresh row
    * per key. */
  private def collapsedDeltas(spark: SparkSession, paths: Seq[String]): DataFrame =
    Ops.dedupKeepLast(
      spark.read.option("basePath", deltaRoot).parquet(paths: _*)
        .drop("year", "month", "day"),
      Seq("symbol", "timestamp"), Seq(col("__delta_seq")))
      .drop("__delta_seq")

  /** The data files under the delta day dirs `days` that the skipping
    * rule of [[overlayDeltas]] keeps for `symbol`. `probeDays` (behind
    * `inspectRange`/`latestMinute`) selects through it too, so every
    * single-symbol overlay shares one rule. Costs one LIST per day and
    * one footer read per file (compaction keeps both few); an unreadable
    * footer fails the read, as it would fail the scan. */
  private def deltaFilesHolding(spark: SparkSession, days: Seq[String],
                                symbol: String): Seq[String] = {
    val fs = fsOf(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val s = Binary.fromString(symbol.toUpperCase)
    def spans(b: BinaryStatistics): Boolean =
      !b.hasNonNullValue || (b.compareMinToValue(s) <= 0 && b.compareMaxToValue(s) >= 0)
    def mayHold(st: FileStatus): Boolean = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getRowGroups.asScala.exists { rg =>
        rg.getColumns.asScala.find(_.getPath.toDotString == "symbol")
          .forall(_.getStatistics match {
            case b: BinaryStatistics => spans(b)
            case _ => true
          })
      } finally reader.close()
    }
    days.flatMap(DayDirs.dataFiles(fs, _)).filter(mayHold).map(_.getPath.toString)
  }

  /** Overlay the window's deltas onto a base wide read.
    *
    * With `symbol = Some(s)` both sides are single-symbol frames without
    * the symbol column (merge keyed by timestamp), and delta files are
    * skipped on their footer statistics: a file is overlaid only if one
    * of its row groups has `symbol` min ≤ S ≤ max, S the upper-cased
    * symbol the readers filter on, compared with the statistics' own
    * comparator. The rule is exact — a skipped file holds no row that
    * `symbol === S` keeps, and the last-wins collapse is keyed per
    * symbol — and conservative: a row group whose `symbol` stats are
    * missing, empty or all-null (or a file without the column) keeps the
    * file. When no file is kept the base plan is returned unchanged, the
    * plan (and inputFiles bound) of a lake with no deltas. `timestamp`
    * cannot prune: Spark writes it as INT96, for which parquet-mr writes
    * no statistics, so time pruning stays at day grain.
    *
    * With `symbol = None` (multi-symbol, keyed by (symbol, timestamp))
    * every delta day is overlaid; only an empty `deltaDays` leaves the
    * base unchanged. */
  private def overlayDeltas(spark: SparkSession, base: DataFrame,
                            deltaDays: Seq[String],
                            symbol: Option[String]): DataFrame =
    symbol match {
      case Some(sym) =>
        val files = deltaFilesHolding(spark, deltaDays, sym)
        if (files.isEmpty) base
        else MinuteLakeWriter.mergeKeyed(base,
          collapsedDeltas(spark, files)
            .where(col("symbol") === sym.toUpperCase).drop("symbol"),
          Seq("timestamp"))
      case None =>
        if (deltaDays.isEmpty) base
        else MinuteLakeWriter.mergeKeyed(base,
          collapsedDeltas(spark, deltaDays), Seq("symbol", "timestamp"))
    }

  /** Single-symbol scan, scoped to the symbol's OWN directory subtree.
    * Reading the lake root and filtering `symbol === X` prunes the
    * PARTITIONS correctly, but file LISTING happens before pruning —
    * Spark's file index enumerates every symbol's directories, so
    * request latency grows with lake WIDTH (measured: ×2.7 from 10 to
    * 1000 symbols at constant per-symbol data, `ServiceScaleProbe`).
    * Scoping the read to `symbol=X/` bounds the listing to one
    * symbol's tree — the per-request cost a 1000-symbol lake needs
    * (the reference gets this from its hand-built partition paths;
    * year/month/day/hour discovery still happens under the subtree). */
  def scanSymbol(spark: SparkSession, symbol: String): DataFrame = {
    if (isWide(spark))
      // day-wide: symbol is a DATA column, files sorted+range-bucketed
      // by it, so the predicate prunes via parquet min/max file stats —
      // and the whole-lake file listing is O(days × filesPerDay), which
      // is the layout's point (no per-symbol subtree needed). The root
      // read skips `_delta` (underscore dir); deltas overlay explicitly.
      return overlayDeltas(spark,
        spark.read.parquet(lakeDir)
          .where(col("symbol") === symbol.toUpperCase)
          .drop("year", "month", "day", "symbol"),
        deltaDaysFor(spark, None, None), Some(symbol))
    val symbolDir = s"$lakeDir/symbol=${symbol.toUpperCase}"
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    def empty() =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        CanonicalSchema.structType)
    if (!fs.exists(new HPath(symbolDir))) empty()
    else if (mustResolve) {
      val leaves = ResolvedScan.resolvedLeaves(fs, symbolDir, committer)
      if (leaves.isEmpty) empty()
      else spark.read.option("basePath", symbolDir).parquet(leaves: _*)
        .drop("year", "month", "day", "hour")
    } else
      spark.read.parquet(symbolDir).drop("year", "month", "day", "hour")
  }

  /** Whole-lake scan keeping the `symbol` partition column — the input
    * to all-symbols-in-one-job processing (1000-symbol plans never loop
    * the driver over symbols). */
  def scanAllSymbols(spark: SparkSession): Option[DataFrame] =
    if (!hasData(spark)) None
    else if (isWide(spark))
      Some(overlayDeltas(spark,
        spark.read.parquet(lakeDir).drop("year", "month", "day"),
        deltaDaysFor(spark, None, None), None))
    else if (mustResolve) {
      val leaves = ResolvedScan.resolvedLeaves(fsOf(spark), lakeDir, committer)
      if (leaves.isEmpty) None
      else Some(spark.read.option("basePath", lakeDir).parquet(leaves: _*)
        .drop("year", "month", "day", "hour"))
    } else Some(spark.read.parquet(lakeDir).drop("year", "month", "day", "hour"))

  /** Whole-lake windowed read with per-(symbol, minute) latest-wins
    * dedup — the multi-symbol form of [[readWindow]]. The window is
    * pushed into the PARTITION columns (lpad-normalized hour key, so
    * int- or string-inferred partition values both compare correctly):
    * a 2-hour repair window over a years-deep 1000-symbol lake must
    * prune to the touched hour directories, not scan-and-filter the
    * whole lake on a data column. */
  def readWindowAllSymbols(spark: SparkSession, start: Instant,
                           end: Instant): Option[DataFrame] = {
    if (!hasData(spark)) return None
    val df =
      if (isWide(spark)) {
        // pruning floor is a DAY here (the layout's documented trade;
        // INT96 timestamps carry no row-group stats to skip within it).
        // The touched day dirs are read EXPLICITLY — `spark.read(root)`
        // + a partition predicate still LISTS every file in the lake
        // before pruning, so bounded windows paid O(depth) listing
        // (WideDepthProbe); the O(depth) directory walk is metadata-only
        val days = dayDirsInRange(spark, start, end)
        val base =
          if (days.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(
                org.apache.spark.sql.types.StructField("symbol",
                  org.apache.spark.sql.types.StringType) +:
                CanonicalSchema.structType.fields))
          else spark.read.option("basePath", lakeDir).parquet(days: _*)
            .drop("year", "month", "day")
        overlayDeltas(spark, base,
          deltaDaysFor(spark, Some(start), Some(end)), None)
      } else {
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH")
          .withZone(java.time.ZoneOffset.UTC)
        val hourKey = concat(
          lpad(col("year").cast("string"), 4, "0"),
          lpad(col("month").cast("string"), 2, "0"),
          lpad(col("day").cast("string"), 2, "0"),
          lpad(col("hour").cast("string"), 2, "0"))
        if (mustResolve) {
          // manifest deployment: prune candidate leaves to the window
          // DRIVER-side by the hour key parsed from each leaf's path
          // BEFORE resolution (r19: the post-resolve filter paid one
          // day-state read per out-of-window LEAF — ~11 s over a
          // 24k-leaf lake for a 3 h window), then read the survivors
          // explicitly
          val lo = fmt.format(start)
          val hi = fmt.format(end)
          val leaves = ResolvedScan.resolvedLeaves(fsOf(spark), lakeDir,
            committer,
            leafFilter =
              p => MinuteLakeReader.hourKeyOf(p).forall(k => k >= lo && k <= hi))
          if (leaves.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(
                org.apache.spark.sql.types.StructField("symbol",
                  org.apache.spark.sql.types.StringType) +:
                CanonicalSchema.structType.fields))
          else spark.read.option("basePath", lakeDir).parquet(leaves: _*)
            .where(hourKey.between(lo, hi))
            .drop("year", "month", "day", "hour")
        } else spark.read.parquet(lakeDir)
          .where(hourKey.between(fmt.format(start), fmt.format(end)))
          .drop("year", "month", "day", "hour")
      }
    Some(Ops.dedupKeepLast(
      df.where(col("timestamp").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end))),
      Seq("symbol", "timestamp"),
      Seq(col("arrival_time"), col("event_time"), col("transact_time"),
        col("update_id_end"))))
  }

  /** Per-symbol latest minute for EVERY symbol via partition-directory
    * descent: walk each symbol's max year → month → day → hour by
    * directory LISTING (metadata only), then read just those max-hour
    * directories in one job. The steady-state incremental tick needs
    * per-symbol latest every cadence — computing it from a full-lake
    * scan reads the whole history per tick; this form reads one hour
    * partition per symbol regardless of lake depth. */
  def latestMinuteAllSymbols(spark: SparkSession,
                             knownSymbols: Set[String] = Set.empty): Map[String, Instant] = {
    if (!hasData(spark)) return Map.empty
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    if (isWide(spark)) {
      // day-wide: the deepest TWO day partitions cover every symbol that
      // wrote within the last day (day-boundary stragglers included) —
      // one job over ≤2 × filesPerDay files regardless of width or
      // depth. A symbol idle LONGER than that (delisted/halted while
      // others keep writing) is absent from this scan, so callers pass
      // the symbols they track (watermark store / ledger) and each
      // missing one is reconciled through the per-symbol end-probe —
      // O(log depth) jobs per IDLE symbol only, zero in the steady state
      // (ADVICE r13: without this, the fleet tick silently never
      // finalizes an idle symbol's trailing buckets on the wide layout).
      val days = DayDirs.deepest(fs, lakeDir, 2)
      if (days.isEmpty) return Map.empty
      var scan = spark.read.option("basePath", lakeDir).parquet(days: _*)
        .select("symbol", "timestamp")
      // deltas in those same days can carry a later minute for a symbol
      // (a correction is usually older, but the API doesn't forbid it)
      val deltaDays = DayDirs.matching(fs, deltaRoot,
        days.map(DayDirs.ymdOf).toSet)
      if (deltaDays.nonEmpty)
        scan = scan.unionByName(
          spark.read.parquet(deltaDays: _*).select("symbol", "timestamp"))
      val recent = scan
        .groupBy("symbol").agg(max("timestamp").as("latest"))
        .collect().map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
      val idle = knownSymbols.map(_.toUpperCase) -- recent.keySet
      if (idle.isEmpty) return recent
      val allDaysDesc = dayDirsAscending(spark).reverse
      val deltaByYmd = deltaYmdMap(spark)
      return recent ++ idle.toSeq.flatMap { sym =>
        probeDays(spark, allDaysDesc, sym, max(col("timestamp")), deltaByYmd)
          .map(ts => sym -> ts.toInstant)
      }
    }
    // maxBy the PARSED numeric value after '=': lexicographic compare is
    // only correct on zero-padded names (our writer pads, but a lake with
    // int-inferred dirs has 'month=9' > 'month=12' and the descent would
    // silently return a stale "latest"). Non-numeric values fall back to
    // string order.
    def maxChild(p: HPath): Option[HPath] = {
      val kids = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.contains("="))
      if (kids.isEmpty) None
      else Some(kids.maxBy { k =>
        val v = k.getName.substring(k.getName.indexOf('=') + 1)
        v.toLongOption match {
          case Some(n) => (1, n, "")
          case None    => (0, 0L, v)
        }
      })
    }
    var hourDirs = fs.listStatus(new HPath(lakeDir)).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("symbol="))
      .flatMap(sd => maxChild(sd).flatMap(maxChild).flatMap(maxChild).flatMap(maxChild))
      .map(_.toString)
    if (mustResolve)
      hourDirs = ResolvedScan.resolveLeaves(fs, hourDirs.toSeq, committer)
        .toArray
    if (hourDirs.isEmpty) return Map.empty
    spark.read.option("basePath", lakeDir).parquet(hourDirs.toIndexedSeq: _*)
      .groupBy("symbol").agg(max("timestamp").as("latest"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
  }

  /** min/max timestamp — parquet footer statistics make this a
    * metadata-only scan (S2). On the day-wide layout a whole-lake footer
    * scan still costs O(depth × filesPerDay) listings+footers (measured
    * 4.8 s at 365 days, WideDepthProbe), and [[latestMinute]] sits on the
    * per-symbol incremental tick — so wide probes day partitions from
    * each END of the date-sorted directory list in exponentially growing
    * batches instead: a symbol present at the lake edges (the steady
    * state) resolves in one ≤filesPerDay-file job per bound, independent
    * of depth. Day partitions derive from `timestamp`, so the first
    * day-batch containing the symbol bounds the global min (resp. max). */
  def inspectRange(spark: SparkSession, symbol: String): (Option[Instant], Option[Instant]) = {
    if (isWide(spark)) {
      // registry short-circuit: an ABSENT symbol's expanding probe
      // otherwise walks the whole lake backward (~10 s at 2,000 days,
      // measured r15). The registry is a writer-maintained SUPERSET;
      // when it is missing/torn the probe just walks as before.
      if (absentPerRegistry(spark, symbol)) return (None, None)
      val days = dayDirsAscending(spark)
      val deltaByYmd = deltaYmdMap(spark)
      val mn = probeDays(spark, days, symbol, min(col("timestamp")), deltaByYmd)
      val mx = if (mn.isEmpty) None
               else probeDays(spark, days.reverse, symbol, max(col("timestamp")), deltaByYmd)
      return (mn.map(_.toInstant), mx.map(_.toInstant))
    }
    val r = scanSymbol(spark, symbol)
      .agg(min(col("timestamp")).as("mn"), max(col("timestamp")).as("mx"))
      .collect().head
    (Option(r.getTimestamp(0)).map(_.toInstant), Option(r.getTimestamp(1)).map(_.toInstant))
  }

  def latestMinute(spark: SparkSession, symbol: String): Option[Instant] =
    if (isWide(spark)) {
      if (absentPerRegistry(spark, symbol)) None
      else probeDays(spark, dayDirsAscending(spark).reverse, symbol,
        max(col("timestamp")), deltaYmdMap(spark)).map(_.toInstant)
    } else inspectRange(spark, symbol)._2

  /** True only when the wide lake HAS a symbol registry and `symbol`
    * is not in it (see [[MinuteLakeWriter.SymbolsRegistry]]). */
  private def absentPerRegistry(spark: SparkSession, symbol: String): Boolean =
    MinuteLakeWriter.readSymbolRegistry(
        FileSystem.get(new java.net.URI(root),
          spark.sparkContext.hadoopConfiguration), lakeDir)
      .exists(!_.contains(symbol.toUpperCase))

  /** Every `year=/month=/day=` directory of a day-wide lake in ascending
    * (year, month, day) numeric order — an O(depth) metadata walk. */
  private def dayDirsAscending(spark: SparkSession): Seq[String] =
    DayDirs.ascending(FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration), lakeDir)

  private def dayDirsInRange(spark: SparkSession, start: Instant,
                             end: Instant): Seq[String] =
    DayDirs.inRange(FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration), lakeDir, start, end)

  /** First non-null `agg` over `symbol`'s rows, probing `order`ed day
    * dirs in batches of 1, 2, 4, … — at most O(log depth) jobs, and the
    * total files read across ALL probes is ≤ 2× the files before the
    * terminating batch. Each slice also reads those of its days' delta
    * files that can hold `symbol` ([[deltaFilesHolding]]; delta days ⊆
    * base days by writer invariant) so a patched minute bounds the range
    * exactly like a base one. */
  private def probeDays(spark: SparkSession, order: Seq[String], symbol: String,
                        agg: Column,
                        deltaByYmd: Map[(Int, Int, Int), String] = Map.empty)
      : Option[java.sql.Timestamp] = {
    var taken = 0
    var batch = 1
    while (taken < order.length) {
      val slice = order.slice(taken, taken + batch)
      var df = spark.read.option("basePath", lakeDir).parquet(slice: _*)
        .where(col("symbol") === symbol.toUpperCase)
        .select("timestamp")
      val extra = deltaFilesHolding(spark,
        slice.map(DayDirs.ymdOf).flatMap(deltaByYmd.get), symbol)
      if (extra.nonEmpty)
        df = df.unionByName(
          spark.read.parquet(extra: _*)
            .where(col("symbol") === symbol.toUpperCase)
            .select("timestamp"))
      val r = df.agg(agg).collect().head
      if (!r.isNullAt(0)) return Some(r.getTimestamp(0))
      taken += batch
      batch *= 2
    }
    None
  }

  def scanAvailableMinutes(spark: SparkSession, symbol: String,
                           start: Option[Instant] = None,
                           end: Option[Instant] = None): DataFrame = {
    var df = scanSymbol(spark, symbol).select("timestamp")
    start.foreach(s => df = df.where(col("timestamp") >= java.sql.Timestamp.from(s)))
    end.foreach(e => df = df.where(col("timestamp") <= java.sql.Timestamp.from(e)))
    df.distinct()
  }

  /** Windowed read with latest-wins dedup (S3, reference
    * `source_reader.py:44-59`): one row per timestamp, the one with the
    * greatest (arrival_time, event_time, transact_time, update_id_end)
    * nulls-last tuple. */
  def readWindow(spark: SparkSession, symbol: String, start: Instant, end: Instant): DataFrame = {
    val base =
      if (isWide(spark)) {
        // read the touched day dirs EXPLICITLY — scanSymbol drops the
        // partition columns, and even a partition predicate on a
        // root-read lists every file in the lake before pruning, so a
        // 3-hour request paid O(depth) listing + footer reads (request
        // latency ×5.7 from 30 to 365 days, WideDepthProbe). The
        // directory walk is O(depth) metadata; the read is O(window)
        val days = dayDirsInRange(spark, start, end)
        val b =
          if (days.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              CanonicalSchema.structType)
          else spark.read.option("basePath", lakeDir).parquet(days: _*)
            .where(col("symbol") === symbol.toUpperCase)
            .drop("year", "month", "day", "symbol")
        overlayDeltas(spark, b,
          deltaDaysFor(spark, Some(start), Some(end)), Some(symbol))
      } else scanSymbol(spark, symbol)
    val df = base
      .where(col("timestamp").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end)))
    Ops.dedupKeepLast(df, Seq("timestamp"),
      Seq(col("arrival_time"), col("event_time"), col("transact_time"), col("update_id_end")))
  }

  /** Partition-directory snapshot for change detection (S5, reference
    * `source_reader.py:61-69`). */
  def partitionDirectories(spark: SparkSession, symbol: String): Set[String] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    if (isWide(spark)) {
      // day-wide has no per-symbol subtree: the change-detection
      // snapshot is the set of day directories holding data files —
      // symbol-agnostic, so a change anywhere re-triggers the symbol's
      // backfill (conservative and correct; backfill is idempotent)
      val it = fs.listFiles(new HPath(lakeDir), true)
      val dirs = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          dirs += f.getPath.getParent.toString.stripPrefix(lakeDir).stripPrefix("/")
      }
      return dirs.toSet
    }
    val symbolRoot = new HPath(s"$lakeDir/symbol=${symbol.toUpperCase}")
    if (!fs.exists(symbolRoot)) Set.empty
    else if (mustResolve)
      // manifest deployment: the committed-content dirs ARE the change
      // snapshot — a publish swaps the version name, so any repair is
      // detected; superseded/orphan versions never enter the set
      ResolvedScan.resolvedLeaves(fs, symbolRoot.toString, committer)
        .map(_.stripPrefix(symbolRoot.toString).stripPrefix("/")).toSet
    else {
      val it = fs.listFiles(symbolRoot, true)
      val dirs = scala.collection.mutable.Set[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          dirs += f.getPath.getParent.toString.stripPrefix(symbolRoot.toString).stripPrefix("/")
      }
      dirs.toSet
    }
  }
}

object MinuteLakeReader {

  private val HourKeyRe =
    """.*/year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)(?:/[^/]+)?$""".r

  /** `yyyyMMddHH` key parsed from a leaf partition path (resolved
    * version dirs keep their `key=value` ancestry, so one optional
    * trailing non-kv segment is allowed); None when the path carries
    * no hour ancestry — callers must treat that as in-window. */
  private[graft] def hourKeyOf(path: String): Option[String] = path match {
    case HourKeyRe(y, m, d, h) =>
      Some(f"${y.toInt}%04d${m.toInt}%02d${d.toInt}%02d${h.toInt}%02d")
    case _ => None
  }
}
