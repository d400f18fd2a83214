package graft.sources

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Retention cleanup (ST8 — reference `websocket.py:798-899`,
  * `cli/app.py:180-222`): raw live events older than N hours and
  * heartbeats older than N days are dropped. On a partitioned lake this
  * is a partition-DROP job — directory removals keyed by the partition
  * value, never a row-level delete scan. */
object Retention {

  final case class Compaction(partition: String, filesBefore: Int,
                              filesAfter: Int, rows: Long)

  /** Small-file compaction for the events table — the partitioned-lake
    * analogue of the reference's post-cleanup `VACUUM` pass
    * (`cli/app.py:180-222`: delete old rows, then reclaim storage). A
    * streaming sink accretes one file per micro-batch, so an old day
    * partition can hold hundreds of KB-sized parquet files whose
    * per-file open/footer cost dominates any later scan; compaction
    * rewrites such a partition into `targetFiles` files.
    *
    * A partition is rewritten only when it has more than `targetFiles`
    * parquet files AND every file is below `smallFileBytes` — a
    * partition with even one healthy-sized file is left alone (it is
    * either already compacted or still hot). The rewrite is
    * tmp-dir-then-rename-aside-swap with a row-count check before any
    * move: write `.compact_tmp/<name>`, verify, rename the original
    * aside to `.compact_old/<name>`, rename tmp into place, delete the
    * old dir. At no instant does the partition dir hold a MIX of old
    * and new files (directory renames are atomic on HDFS-like
    * filesystems), and at no instant is the only copy of the data in a
    * scratch dir: a crash in any window leaves either the original in
    * place, or the original under `.compact_old` (restored by
    * [[recoverCompaction]] on the next run), or the verified new files
    * already live. Row CONTENT is untouched — files are read and
    * rewritten column-for-column; only the file layout changes.
    *
    * Scale shape: each partition is an independent bounded job (one
    * day of one table); a 100 TB lake compacts day-by-day behind the
    * retention watermark, never as one global rewrite.
    *
    * OBJECT-STORE SEAM (§4.1 seam 4): the tmp/aside/swap choreography
    * above is correct ONLY where directory rename is atomic — under
    * copy+delete rename, a crash mid-aside-delete can leave the live
    * dir a SUBSET while `recoverCompaction` (seeing the live dir exist)
    * drops the complete aside copy. */
  def compactDayPartitions(spark: SparkSession, root: String,
                           partitionCol: String,
                           smallFileBytes: Long = 32L * 1024 * 1024,
                           targetFiles: Int = 1): Seq[Compaction] = {
    require(targetFiles >= 1, "targetFiles must be at least 1")
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val rootPath = new HPath(root)
    if (!fs.exists(rootPath)) return Seq.empty
    recoverCompaction(fs, rootPath)
    val out = Vector.newBuilder[Compaction]
    for (status <- fs.listStatus(rootPath) if status.isDirectory) {
      val name = status.getPath.getName
      if (name.startsWith(s"$partitionCol=")) {
        val parquets = fs.listStatus(status.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (parquets.length > targetFiles && parquets.forall(_.getLen < smallFileBytes)) {
          val df = spark.read.parquet(status.getPath.toString)
          val before = df.count()
          val tmp = new HPath(rootPath, s".compact_tmp/$name")
          fs.delete(tmp, true)
          df.coalesce(targetFiles).write.mode("overwrite").parquet(tmp.toString)
          val after = spark.read.parquet(tmp.toString).count()
          require(after == before,
            s"compaction row-count mismatch for $name: $before -> $after; original kept")
          // Swap: original aside -> tmp in -> drop aside. The original
          // is never deleted before the new files are live; see
          // recoverCompaction for every crash window.
          val old = new HPath(rootPath, s".compact_old/$name")
          fs.delete(old, true)
          fs.mkdirs(old.getParent)
          require(fs.rename(status.getPath, old),
            s"compaction: failed to move $name aside; original kept in place")
          require(fs.rename(tmp, status.getPath),
            s"compaction: failed to promote new files for $name; " +
              "original preserved under .compact_old, recovered on next run")
          fs.delete(old, true)
          val filesAfter = fs.listStatus(status.getPath)
            .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          out += Compaction(name.stripPrefix(s"$partitionCol="),
            parquets.length, filesAfter, before)
        }
      }
    }
    fs.delete(new HPath(rootPath, ".compact_tmp"), true)
    fs.delete(new HPath(rootPath, ".compact_old"), true)
    out.result()
  }

  /** Repair any partition left mid-swap by a crashed compaction run.
    * Crash windows and their recovery:
    *   - tmp written, original still in place (crash before the swap):
    *     original is live; the stale tmp is dropped.
    *   - original moved to `.compact_old/<name>`, tmp not yet promoted:
    *     partition dir is missing — restore the original from
    *     `.compact_old` (the verified tmp is then redundant, dropped).
    *   - tmp promoted, `.compact_old/<name>` not yet deleted: partition
    *     dir exists with the new files — drop the old copy.
    * Data loss is impossible: every window leaves at least one complete
    * copy, and nothing under a scratch dir is deleted until a live
    * partition dir covers it. */
  private[sources] def recoverCompaction(fs: FileSystem, rootPath: HPath): Unit = {
    val oldRoot = new HPath(rootPath, ".compact_old")
    if (fs.exists(oldRoot)) {
      for (s <- fs.listStatus(oldRoot) if s.isDirectory) {
        val live = new HPath(rootPath, s.getPath.getName)
        if (!fs.exists(live)) require(fs.rename(s.getPath, live),
          s"compaction recovery: failed to restore ${s.getPath.getName}")
      }
      fs.delete(oldRoot, true)
    }
    val tmpRoot = new HPath(rootPath, ".compact_tmp")
    if (fs.exists(tmpRoot)) {
      for (s <- fs.listStatus(tmpRoot) if s.isDirectory) {
        val live = new HPath(rootPath, s.getPath.getName)
        // Only reachable if both the partition dir and .compact_old are
        // gone — the verified tmp is then the sole complete copy.
        if (!fs.exists(live)) require(fs.rename(s.getPath, live),
          s"compaction recovery: failed to promote ${s.getPath.getName}")
      }
      fs.delete(tmpRoot, true)
    }
  }

  /** Drop MINUTE-LAKE day partitions strictly older than `cutoff` — the
    * lifecycle verb that bounds a decade lake: O(days) directory
    * deletes at ANY width (retention on a 100k-symbol lake is the same
    * handful of metadata ops as on a 100-symbol one). A day's deltas
    * live in its dir and go with it. Emptied month/year parents are
    * removed. Ledger rows for dropped days (base and delta) are
    * re-upserted with status DROPPED (the append-only log is preserved
    * and `auditPartitions` only audits COMMITTED rows, so retention
    * does not manufacture missing_partition noise). Drop the HTF tree
    * with [[dropHtfDaysBefore]] at the SAME cutoff: the aggregator
    * derives missing buckets from available minutes, so matching
    * cutoffs keep backfill a no-op over the retired range. */
  def dropLakeDaysBefore(spark: SparkSession, root: String, cutoff: Instant,
                         ledger: Option[PartitionLedger] = None): Seq[String] = {
    val lakeDir = s"$root/futures/um/minute"
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(lakeDir))) return Seq.empty
    val cutoffDay = cutoff.atZone(ZoneOffset.UTC).toLocalDate
    val dropped = dropYmdTree(fs, lakeDir, cutoffDay)
    ledger.foreach { l =>
      l.all().filter(e => e.status != "DROPPED" &&
          scala.util.Try(LocalDate.parse(e.day)).toOption.exists(_.isBefore(cutoffDay)))
        .foreach(e => l.upsert(e.copy(status = "DROPPED")))
    }
    dropped
  }

  /** [[dropLakeDaysBefore]] for one HTF timeframe tree
    * (`timeframe=T/year=/month=/day=`). */
  def dropHtfDaysBefore(spark: SparkSession, htfRoot: String, timeframe: String,
                        cutoff: Instant): Seq[String] = {
    val tfDir = s"$htfRoot/timeframe=$timeframe"
    val fs = FileSystem.get(new java.net.URI(htfRoot),
      spark.sparkContext.hadoopConfiguration)
    dropYmdTree(fs, tfDir, cutoff.atZone(ZoneOffset.UTC).toLocalDate)
  }

  /** Delete every `year=/month=/day=` dir under `base` whose date is
    * before `cutoffDay`; prune parents emptied by the deletes. Returns
    * the dropped day-dir paths. */
  private def dropYmdTree(fs: FileSystem, base: String,
                          cutoffDay: LocalDate): Seq[String] = {
    val dropped = DayDirs.ascending(fs, base).filter { p =>
      val (y, m, d) = DayDirs.ymdOf(p)
      scala.util.Try(LocalDate.of(y, m, d)).toOption.exists(_.isBefore(cutoffDay))
    }
    dropped.foreach(p => fs.delete(new HPath(p), true))
    // prune emptied month=/year= parents (two levels is the tree depth)
    var parents = dropped.map(p => new HPath(p).getParent).distinct
    (0 until 2).foreach { _ =>
      val next = parents.filter(p => fs.exists(p) && fs.listStatus(p).isEmpty)
      next.foreach(p => fs.delete(p, false))
      parents = next.map(_.getParent).distinct
    }
    dropped
  }

  /** Drop `day=YYYY-MM-DD`-style partitions older than `cutoff` under
    * `root/<partitionCol>=...`. Returns dropped partition values. */
  def dropDayPartitionsBefore(spark: SparkSession, root: String,
                              partitionCol: String, cutoff: Instant): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    val rootPath = new HPath(root)
    if (!fs.exists(rootPath)) return Seq.empty
    val cutoffDay = cutoff.atZone(ZoneOffset.UTC).toLocalDate
    val dropped = Vector.newBuilder[String]
    for (status <- fs.listStatus(rootPath) if status.isDirectory) {
      val name = status.getPath.getName
      if (name.startsWith(s"$partitionCol=")) {
        val value = name.stripPrefix(s"$partitionCol=")
        val dayOpt = scala.util.Try(LocalDate.parse(value)).toOption
        if (dayOpt.exists(_.isBefore(cutoffDay))) {
          fs.delete(status.getPath, true)
          dropped += value
        }
      }
    }
    dropped.result()
  }
}
