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
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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

  /** The (year, month, day) of a day dir or a path inside one (its
    * `_delta` dir, a file) — parsed from the last three `key=value`
    * names, so int- and zero-padded partition values both match. */
  def ymdOf(p: String): (Int, Int, Int) = {
    val a = p.split('/').filter(_.contains('=')).takeRight(3).map { s =>
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

  /** The most day dirs a single-symbol window read runs as ONE task
    * ([[singleTaskIfBounded]]). */
  val SingleTaskMaxDays = 8

  /** `df`, a single-symbol window over `dayCount` day dirs, coalesced
    * to ONE partition (no shuffle) when `dayCount` ≤ [[SingleTaskMaxDays]],
    * else unchanged. One partition satisfies every distribution the
    * window's dedup and a served request's operators require, so such a
    * request plans no exchange. A longer window keeps the parallel scan
    * and its dedup's shuffle, because one task opens every file of every
    * day serially. On a 4-files-a-day lake and 4 cores, an 8-day window
    * in one task measured within run-to-run noise of the parallel plan
    * on HTF reads and faster on candle reads; HTF reads over 24 days or
    * more were slower in wall time, over 199 days about 2× slower
    * (candle reads about 1.2×). */
  def singleTaskIfBounded(df: DataFrame, dayCount: Int): DataFrame =
    if (dayCount <= SingleTaskMaxDays) df.coalesce(1) else df

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
  * through the same column. Reads name the window's day dirs under
  * `timeframe=T/` ([[DayDirs]]) and filter `symbol` as a data column. */
class HtfLakeReader(root: String) {

  /** One symbol's buckets in [start, end]. A window over at most
    * [[DayDirs.SingleTaskMaxDays]] day dirs is ONE partition: it is
    * coalesced (no shuffle) below the latest-wins dedup, so the scan,
    * the dedup and whatever the caller plans on top (windows,
    * aggregates, top-k tails) run in one task with no exchange. The
    * bound is the day-dir count the read already walks, so a longer
    * window keeps its parallel scan ([[DayDirs.singleTaskIfBounded]]).
    * The read names the bar files' schema, so building it runs no job. */
  def readWindow(spark: SparkSession, timeframe: String, symbol: String,
                 start: Instant, end: Instant,
                 completeOnly: Boolean = true): Option[DataFrame] = {
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // the window's day dirs are read EXPLICITLY (bucket_start derives
    // the day partition) — a tfDir root-read listed the whole HTF tree
    // per request. An in-range-empty window reads ONE day dir so the
    // result keeps the real schema.
    val tfDir = s"$root/timeframe=$timeframe"
    val days = DayDirs.inRange(fs, tfDir, start, end)
    val paths = if (days.nonEmpty) days else DayDirs.deepest(fs, tfDir, 1)
    if (paths.isEmpty) return None
    var df = spark.read.schema(HtfLakeReader.fileSchema(spark, timeframe))
      .option("basePath", tfDir).parquet(paths: _*)
      .where(col("symbol") === symbol.toUpperCase)
      .where(col("bucket_start").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end)))
    if (completeOnly) df = df.where(col("bucket_complete"))
    // duplicate bucket rows should not exist, but if a repair ever
    // leaves one, prefer the complete / most-observed row deterministically.
    // `symbol` is dropped too: it is pinned to one value by the filter.
    Some(Ops.dedupKeepLast(DayDirs.singleTaskIfBounded(df, paths.size), Seq("bucket_start"),
        Seq(col("bucket_complete"), col("observed_minutes_in_bucket")))
      .drop("year", "month", "day", "symbol")
      .withColumnRenamed("bucket_start", "timestamp"))
  }
}

object HtfLakeReader {
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** A `timeframe` bar file's columns, nullable as a file source reads
    * them: the analyzed output of the aggregator that writes the files
    * over an empty minute frame (no Spark job), cached per timeframe. */
  private[graft] def fileSchema(spark: SparkSession, timeframe: String): StructType =
    schemas.getOrElseUpdate(timeframe, StructType(graft.operators.HtfAggregator
      .aggregateMinutes(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        MinuteLakeReader.FileSchema), graft.schema.Timeframes.parse(timeframe), symbol = "",
        byCols = Seq("symbol"))
      .schema.fields.map(_.copy(nullable = true))))
}

/** Minute-lake reader (reference `aggregator/source_reader.py:13-78`,
  * `live_data_api_service/repository.py:22-52`) over the day-wide lake
  * ([[LakeLayout]]).
  *
  * One directory per day: a day dir holds its base files and, in its
  * `_delta/` child (which Spark's listing skips), its late-repair delta
  * files; every read overlays the deltas of the days it reads (see
  * `overlayDeltas`).
  *
  * Bounded reads name the window's day dirs ([[DayDirs]]) instead of
  * reading the lake root under partition predicates, because a root
  * read LISTS every file in the lake before pruning; they filter
  * `symbol` as a data column (files are symbol-sorted, so parquet
  * min/max stats skip row groups). Unbounded scans read the root, since
  * they need every file.
  *
  * An empty or absent lake reads as empty: an empty frame with the
  * read's schema, `None`, `Map.empty` or `(None, None)`. A lake root
  * holding the reference's hourly `symbol=` tree fails every verb with
  * an `IllegalStateException` — migrate it with
  * [[LakeMigrate.hourlyToDayWide]] first — and so does a top-level
  * `_delta/` tree (deltas from before they moved into their days).
  */
class MinuteLakeReader(root: String) {

  private def lakeDir = s"$root/futures/um/minute"

  private def fsOf(spark: SparkSession): FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** Whether the lake holds any day yet: one listing of the lake root,
    * cached once a day is found (an empty lake re-checks, so data that
    * lands later is seen). Every verb goes through it, so a
    * reference-layout root or a top-level delta tree fails loudly. */
  @volatile private var sawDays = false
  private def hasDays(spark: SparkSession): Boolean = sawDays || {
    val fs = fsOf(spark)
    val p = new HPath(lakeDir)
    val names =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    if (names.exists(_.startsWith("symbol=")))
      throw new IllegalStateException(
        s"$lakeDir holds a reference-layout symbol=/year=/month=/day=/hour= " +
          "tree; migrate it with LakeMigrate.hourlyToDayWide before reading")
    if (names.contains(MinuteLakeWriter.DeltaSubdir))
      throw new IllegalStateException(
        s"$lakeDir holds a top-level _delta/ tree; move each day's delta " +
          "files into its year=/month=/day=/_delta/ dir before reading")
    sawDays = names.exists(_.startsWith("year="))
    sawDays
  }

  private def emptyFrame(spark: SparkSession, withSymbol: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      if (withSymbol) MinuteLakeReader.FileSchema else CanonicalSchema.structType)

  // ------------------------------------------------ delta overlay
  // Late point repairs land as small files in their day's `_delta/` dir
  // (MinuteLakeWriter.writeDeltaPatch) — O(patch) writes instead of a
  // day × all-symbols rewrite. Every read overlays them through the ONE
  // policy the writers publish too (MinuteLakeReader.overlay), so a
  // patch is visible immediately and compaction never changes what a
  // reader sees.

  /** The delta files of the day dirs `days` that the skipping rule of
    * [[overlayDeltas]] keeps for `symbol`.
    * `probeDays` (behind `inspectRange`/`latestMinute`) selects through
    * it too, so every single-symbol overlay shares one rule. Costs one
    * LIST per day and one footer read per delta file (compaction keeps
    * both few); an unreadable footer fails the read, as it would fail
    * the scan. */
  private def deltaFilesHolding(spark: SparkSession, days: Seq[String],
                                symbol: String): Seq[String] = {
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
    MinuteLakeReader.deltaFiles(fsOf(spark), days).filter(mayHold).map(_.getPath.toString)
  }

  /** Overlay the deltas of the day dirs `days` onto a base read of them.
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
    * every delta file of `days` is overlaid ([[MinuteLakeReader.overlay]]). */
  private def overlayDeltas(spark: SparkSession, base: DataFrame,
                            days: Seq[String],
                            symbol: Option[String]): DataFrame =
    symbol match {
      case Some(sym) =>
        val files = deltaFilesHolding(spark, days, sym)
        if (files.isEmpty) base
        else MinuteLakeWriter.mergeKeyed(base,
          MinuteLakeReader.collapsedDeltas(spark, files)
            .where(col("symbol") === sym.toUpperCase).drop("symbol"),
          Seq("timestamp"))
      case None =>
        MinuteLakeReader.overlay(spark, base,
          MinuteLakeReader.deltaFiles(fsOf(spark), days).map(_.getPath.toString))
    }

  /** Single-symbol scan over the whole lake: `symbol` is a DATA column
    * and files are sorted+range-bucketed by it, so the predicate prunes
    * via parquet min/max file stats, and the whole-lake file listing is
    * O(days × filesPerDay) regardless of width. The root read skips
    * every day's `_delta` (underscore dir); deltas overlay explicitly. */
  def scanSymbol(spark: SparkSession, symbol: String): DataFrame =
    if (!hasDays(spark)) emptyFrame(spark, withSymbol = false)
    else overlayDeltas(spark,
      spark.read.parquet(lakeDir)
        .where(col("symbol") === symbol.toUpperCase)
        .drop("year", "month", "day", "symbol"),
      dayDirsAscending(spark), Some(symbol))

  /** Whole-lake scan keeping the `symbol` column — the input to
    * all-symbols-in-one-job processing (1000-symbol plans never loop
    * the driver over symbols). */
  def scanAllSymbols(spark: SparkSession): Option[DataFrame] =
    if (!hasDays(spark)) None
    else Some(overlayDeltas(spark,
      spark.read.parquet(lakeDir).drop("year", "month", "day"),
      dayDirsAscending(spark), None))

  /** Whole-lake windowed read with per-(symbol, minute) latest-wins
    * dedup — the multi-symbol form of [[readWindow]]. The pruning floor
    * is a DAY (the layout's documented trade; INT96 timestamps carry no
    * row-group stats to skip within it). The touched day dirs are read
    * EXPLICITLY — `spark.read(root)` + a partition predicate still LISTS
    * every file in the lake before pruning, so bounded windows paid
    * O(depth) listing (SURVEY §8.16); the directory walk is
    * metadata-only. */
  def readWindowAllSymbols(spark: SparkSession, start: Instant,
                           end: Instant): Option[DataFrame] = {
    if (!hasDays(spark)) return None
    val days = dayDirsInRange(spark, start, end)
    val base =
      if (days.isEmpty) emptyFrame(spark, withSymbol = true)
      else spark.read.option("basePath", lakeDir).parquet(days: _*)
        .drop("year", "month", "day")
    val df = overlayDeltas(spark, base, days, None)
    Some(Ops.dedupKeepLast(
      df.where(col("timestamp").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end))),
      Seq("symbol", "timestamp"),
      Seq(col("arrival_time"), col("event_time"), col("transact_time"),
        col("update_id_end"))))
  }

  /** Per-symbol latest minute for EVERY symbol. The deepest TWO day
    * partitions cover every symbol that wrote within the last day
    * (day-boundary stragglers included) — one job over
    * ≤2 × filesPerDay files regardless of width or depth; the
    * steady-state incremental tick needs this every cadence, so it must
    * not read the lake's history. A symbol idle LONGER than that
    * (delisted/halted while others keep writing) is absent from this
    * scan, so callers pass the symbols they track (watermark store /
    * ledger) and each missing one is reconciled through the per-symbol
    * end-probe — O(log depth) jobs per IDLE symbol only, zero in the
    * steady state (ADVICE r13: without this, the fleet tick silently
    * never finalizes an idle symbol's trailing buckets). */
  def latestMinuteAllSymbols(spark: SparkSession,
                             knownSymbols: Set[String] = Set.empty): Map[String, Instant] = {
    if (!hasDays(spark)) return Map.empty
    val fs = fsOf(spark)
    val days = DayDirs.deepest(fs, lakeDir, 2)
    if (days.isEmpty) return Map.empty
    var scan = spark.read.option("basePath", lakeDir).parquet(days: _*)
      .select("symbol", "timestamp")
    // deltas in those same days can carry a later minute for a symbol
    // (a correction is usually older, but the API doesn't forbid it)
    val deltas = MinuteLakeReader.deltaFiles(fs, days).map(_.getPath.toString)
    if (deltas.nonEmpty)
      scan = scan.unionByName(spark.read.schema(MinuteLakeReader.DeltaFileSchema)
        .parquet(deltas: _*).select("symbol", "timestamp"))
    val recent = scan
      .groupBy("symbol").agg(max("timestamp").as("latest"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toInstant).toMap
    val idle = knownSymbols.map(_.toUpperCase) -- recent.keySet
    if (idle.isEmpty) return recent
    val allDaysDesc = dayDirsAscending(spark).reverse
    recent ++ idle.toSeq.flatMap { sym =>
      probeDays(spark, allDaysDesc, sym, max(col("timestamp")))
        .map(ts => sym -> ts.toInstant)
    }
  }

  /** min/max timestamp of one symbol. A whole-lake footer scan costs
    * O(depth × filesPerDay) listings+footers (measured 4.8 s at 365
    * days, SURVEY §8.16), and [[latestMinute]] sits on the per-symbol
    * incremental tick — so this probes day partitions from each END of
    * the date-sorted directory list in exponentially growing batches
    * instead: a symbol present at the lake edges (the steady state)
    * resolves in one ≤filesPerDay-file job per bound, independent of
    * depth. Day partitions derive from `timestamp`, so the first
    * day-batch containing the symbol bounds the global min (resp. max). */
  def inspectRange(spark: SparkSession, symbol: String): (Option[Instant], Option[Instant]) = {
    // registry short-circuit: an ABSENT symbol's expanding probe
    // otherwise walks the whole lake backward (~10 s at 2,000 days,
    // measured r15). The registry is a writer-maintained SUPERSET;
    // when it is missing/torn the probe just walks as before.
    if (!hasDays(spark) || absentPerRegistry(spark, symbol)) return (None, None)
    val days = dayDirsAscending(spark)
    val mn = probeDays(spark, days, symbol, min(col("timestamp")))
    val mx = if (mn.isEmpty) None
             else probeDays(spark, days.reverse, symbol, max(col("timestamp")))
    (mn.map(_.toInstant), mx.map(_.toInstant))
  }

  def latestMinute(spark: SparkSession, symbol: String): Option[Instant] =
    if (!hasDays(spark) || absentPerRegistry(spark, symbol)) None
    else probeDays(spark, dayDirsAscending(spark).reverse, symbol,
      max(col("timestamp"))).map(_.toInstant)

  /** True only when the lake HAS a symbol registry and `symbol`
    * is not in it (see [[MinuteLakeWriter.SymbolsRegistry]]). */
  private def absentPerRegistry(spark: SparkSession, symbol: String): Boolean =
    MinuteLakeWriter.readSymbolRegistry(fsOf(spark), lakeDir)
      .exists(!_.contains(symbol.toUpperCase))

  /** Every `year=/month=/day=` directory of the lake in ascending
    * (year, month, day) numeric order — an O(depth) metadata walk. */
  private def dayDirsAscending(spark: SparkSession): Seq[String] =
    DayDirs.ascending(fsOf(spark), lakeDir)

  private def dayDirsInRange(spark: SparkSession, start: Instant,
                             end: Instant): Seq[String] =
    DayDirs.inRange(fsOf(spark), lakeDir, start, end)

  /** First non-null `agg` over `symbol`'s rows, probing `order`ed day
    * dirs in batches of 1, 2, 4, … — at most O(log depth) jobs, and the
    * total files read across ALL probes is ≤ 2× the files before the
    * terminating batch. Each slice also reads those of its days' delta
    * files that can hold `symbol` ([[deltaFilesHolding]]) so a patched
    * minute bounds the range exactly like a base one. */
  private def probeDays(spark: SparkSession, order: Seq[String], symbol: String,
                        agg: Column): Option[java.sql.Timestamp] = {
    var taken = 0
    var batch = 1
    while (taken < order.length) {
      val slice = order.slice(taken, taken + batch)
      var df = spark.read.option("basePath", lakeDir).parquet(slice: _*)
        .where(col("symbol") === symbol.toUpperCase)
        .select("timestamp")
      val extra = deltaFilesHolding(spark, slice, symbol)
      if (extra.nonEmpty)
        df = df.unionByName(
          spark.read.schema(MinuteLakeReader.DeltaFileSchema).parquet(extra: _*)
            .where(col("symbol") === symbol.toUpperCase)
            .select("timestamp"))
      val r = df.agg(agg).collect().head
      if (!r.isNullAt(0)) return Some(r.getTimestamp(0))
      taken += batch
      batch *= 2
    }
    None
  }

  /** Windowed read with latest-wins dedup (S3, reference
    * `source_reader.py:44-59`): one row per timestamp, the one with the
    * greatest (arrival_time, event_time, transact_time, update_id_end)
    * nulls-last tuple. The touched day dirs are read EXPLICITLY — a
    * partition predicate on a root-read lists every file in the lake
    * before pruning, so a 3-hour request paid O(depth) listing + footer
    * reads (request latency ×5.7 from 30 to 365 days, SURVEY §8.16).
    * The directory walk is O(depth) metadata; the read is O(window).
    *
    * A window over at most [[DayDirs.SingleTaskMaxDays]] day dirs is
    * ONE partition: the window (after any delta overlay) is coalesced
    * without a shuffle below the dedup, so the scan, the dedup and the
    * caller's windows, bucket aggregate and tail run in one task with
    * no exchange — a single partition satisfies every distribution they
    * require. A longer window, [[readWindowAllSymbols]], the scans and
    * the writers keep their parallelism ([[DayDirs.singleTaskIfBounded]]).
    *
    * The base and delta reads are given the lake's file schemas
    * ([[MinuteLakeReader.FileSchema]]; parquet resolves its columns by
    * name, in whatever order a writer wrote them), so building the frame
    * reads no footer: the request's first Spark job is its own action. */
  def readWindow(spark: SparkSession, symbol: String, start: Instant, end: Instant): DataFrame = {
    val days = if (hasDays(spark)) dayDirsInRange(spark, start, end) else Seq.empty
    val b =
      if (days.isEmpty) emptyFrame(spark, withSymbol = false)
      else MinuteLakeReader.readDays(spark, lakeDir, days)
        .where(col("symbol") === symbol.toUpperCase)
        .drop("symbol")
    val df = overlayDeltas(spark, b, days, Some(symbol))
      .where(col("timestamp").between(
        java.sql.Timestamp.from(start), java.sql.Timestamp.from(end)))
    Ops.dedupKeepLast(DayDirs.singleTaskIfBounded(df, days.size), Seq("timestamp"),
      Seq(col("arrival_time"), col("event_time"), col("transact_time"), col("update_id_end")))
  }
}

object MinuteLakeReader {
  /** A minute day file's columns: `symbol`, then the canonical schema. */
  private[graft] val FileSchema: StructType =
    StructType(StructField("symbol", StringType) +: CanonicalSchema.structType.fields)

  /** A delta file's columns: [[FileSchema]], then `__delta_seq`. */
  private[graft] val DeltaFileSchema: StructType =
    FileSchema.add(StructField("__delta_seq", LongType))

  /** The base rows of the day dirs `days` under `lakeDir`, read with
    * [[FileSchema]] (no footer job). */
  private[graft] def readDays(spark: SparkSession, lakeDir: String,
                              days: Seq[String]): DataFrame =
    spark.read.schema(FileSchema).option("basePath", lakeDir).parquet(days: _*)
      .drop("year", "month", "day")

  /** The delta files of the day dirs `days`: one LIST per day. */
  private[graft] def deltaFiles(fs: FileSystem, days: Seq[String]): Seq[FileStatus] =
    days.flatMap { d =>
      try DayDirs.dataFiles(fs, MinuteLakeWriter.deltaDirOf(d))
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    }

  /** The delta rows of `files`, collapsed last-wins per (symbol,
    * timestamp) by `__delta_seq`. The read names its schema (no job). */
  private[graft] def collapsedDeltas(spark: SparkSession, files: Seq[String]): DataFrame =
    Ops.dedupKeepLast(spark.read.schema(DeltaFileSchema).parquet(files: _*),
      Seq("symbol", "timestamp"), Seq(col("__delta_seq")))
      .drop("__delta_seq")

  /** base ⊕ deltas, keyed by (symbol, timestamp): the one view readers
    * serve and writers merge over. The deltas collapse by `__delta_seq`
    * and merge over `base` through [[MinuteLakeWriter.mergeKeyed]]. */
  private[graft] def overlay(spark: SparkSession, base: DataFrame,
                             deltaFiles: Seq[String]): DataFrame =
    if (deltaFiles.isEmpty) base
    else MinuteLakeWriter.mergeKeyed(base, collapsedDeltas(spark, deltaFiles),
      Seq("symbol", "timestamp"))
}
