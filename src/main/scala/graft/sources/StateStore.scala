package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Watermark + partition-ledger state (reference `state/store.py:46-151`
  * keeps these in SQLite; a Spark-native lake keeps them as small JSON
  * checkpoint files — atomic tmp+rename writes, no external DB. At
  * cluster scale these live on the shared FS next to the lake and are
  * only touched by the (single) coordinator, so a file is the right
  * durability primitive; the data plane never reads them per-task. */
/** One committed partition's bookkeeping row. `minTs`/`maxTs` bound the
  * partition's CONTENT (audit surface); `patchMinTs`/`patchMaxTs` bound
  * what the committing WRITE itself touched — for a merge into an
  * existing day the content bounds span the whole day while the patch
  * bounds span only the increment, and the incremental tick's
  * data-driven repair window needs the latter (a day-grain content
  * bound re-aggregates day-to-date × width per poll as the day fills).
  * Empty patch bounds (pre-r16 rows, per-symbol-hour rows) fall back to the
  * content bounds — wider, never wrong. */
final case class PartitionLedgerEntry(
    symbol: String, day: String, hour: Int, path: String, rowCount: Long,
    minTs: String, maxTs: String, schemaHash: String, status: String,
    committedAtUtc: String, contentHash: String = "",
    patchMinTs: String = "", patchMaxTs: String = "")

/** Ledger timestamp-bound rendering and parsing, shared by every
  * writer that records bounds and every consumer that windows on them.
  *
  * Bounds are load-bearing for the incremental tick's data-driven
  * repair window, so they must be session-timezone-INDEPENDENT
  * (ADVICE r16 #1: `cast("string")` renders in the Spark session TZ —
  * in a session east of UTC the parsed window floor shifts later and
  * silently misses late writes). Writers therefore aggregate
  * `unix_micros(ts)` (an absolute instant, no rendering) and format
  * driver-side via [[iso]]; [[parse]] accepts both the ISO form and
  * the legacy space-separated session-TZ-was-UTC form that pre-r17
  * ledgers carry. */
object LedgerBounds {
  /** Epoch-micros → ISO-8601 UTC instant string (`2026-01-10T16:40:00Z`). */
  def iso(micros: Long): String =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L).toString

  /** Parse either bound shape: ISO instants (r17+ bounds,
    * `committed_at_utc`) or legacy Spark `cast("string")` timestamps
    * (`2026-01-05 00:59:00`, written under the enforced-UTC sessions
    * all in-repo entry points configure). Unparseable (empty,
    * tombstone) → None. */
  def parse(s: String): Option[java.time.Instant] =
    if (s == null || s.isEmpty) None
    else scala.util.Try {
      val t = if (s.contains("T")) s else s.replace(" ", "T")
      java.time.Instant.parse(
        if (t.endsWith("Z") || t.contains("+")) t else t + "Z")
    }.toOption
}

class PartitionLedger(dir: String, committer: CommitProtocol = RenameCommit) {
  private val file = Paths.get(dir, "partition_ledger.jsonl")
  Files.createDirectories(Paths.get(dir))

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def toJson(e: PartitionLedgerEntry): String =
    s"""{"symbol":"${esc(e.symbol)}","day":"${e.day}","hour":${e.hour},""" +
      s""""path":"${esc(e.path)}","row_count":${e.rowCount},"min_ts":"${e.minTs}",""" +
      s""""max_ts":"${e.maxTs}","schema_hash":"${e.schemaHash}",""" +
      s""""content_hash":"${e.contentHash}",""" +
      s""""patch_min_ts":"${e.patchMinTs}","patch_max_ts":"${e.patchMaxTs}",""" +
      s""""status":"${e.status}","committed_at_utc":"${e.committedAtUtc}"}"""

  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(json)
      .orElse(("\"" + key + "\":(-?[0-9]+)").r.findFirstMatchIn(json))
    m.map(_.group(1)).getOrElse("")
  }

  private def fromJson(json: String): PartitionLedgerEntry =
    PartitionLedgerEntry(field(json, "symbol"), field(json, "day"),
      field(json, "hour").toInt, field(json, "path"),
      field(json, "row_count").toLong, field(json, "min_ts"),
      field(json, "max_ts"), field(json, "schema_hash"),
      field(json, "status"), field(json, "committed_at_utc"),
      field(json, "content_hash"),
      field(json, "patch_min_ts"), field(json, "patch_max_ts"))

  def all(): Seq[PartitionLedgerEntry] =
    // last-wins upsert semantics per (symbol, day, hour)
    allVersions().groupBy(e => (e.symbol, e.day, e.hour)).values.map(_.last).toSeq

  /** EVERY committed line, superseded versions included — the change
    * LOG view (r16). The incremental tick's data-driven repair window
    * derives per-write touched ranges from here: the deduped [[all]]
    * view keeps only each key's last write, so two commits to the same
    * day between two polls would leave only the second one's
    * `patchMinTs`, silently dropping the first write's repair range.
    * Superseded lines live until [[compact]]; a tick whose high-water
    * predates a compaction learns that from [[droppedThrough]] and
    * falls back to the blind lookback instead of trusting a log with
    * holes. */
  def allVersions(): Seq[PartitionLedgerEntry] =
    if (!Files.exists(file)) Seq.empty
    else Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(fromJson)

  def upsert(entry: PartitionLedgerEntry): Unit = synchronized {
    // append-only log; readers dedup last-wins
    Files.writeString(file, toJson(entry) + "\n",
      StandardCharsets.UTF_8,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Rewrite the append-only log as its last-wins snapshot — the
    * bounded-state companion of [[upsert]]. Every reader ([[all]], and
    * through it the audit, retention, and delta-compaction verbs)
    * parses the WHOLE log; without compaction that is O(total upserts
    * ever) driver work per tick — at width 1000 the hour verb
    * appends ~24k rows/day, a multi-GB parse after a year. The
    * snapshot is O(live partitions) (DROPPED tombstones kept: one row
    * per retired day, bounded by lake lifetime). Atomic whole-object
    * replace through the [[CommitProtocol]] state-plane seam; readers
    * see the full old or full new log, and [[all]] is identical either
    * side by construction (it already dedups last-wins).
    *
    * @return number of live rows in the snapshot */
  def compact(): Int = synchronized {
    val versions = allVersions()
    val entries = versions.groupBy(e => (e.symbol, e.day, e.hour))
      .values.map(_.last).toSeq.sortBy(e => (e.symbol, e.day, e.hour))
    // record the newest stamp among DROPPED superseded lines: change
    // detection reads the version log, and a reader whose high-water
    // predates this mark would otherwise see a log with holes and
    // derive a too-narrow repair window (r16). PENDING lines are not
    // changes (change detection skips them), so dropping one leaves no hole.
    val kept = entries.toSet
    val droppedMax = versions.filterNot(e => kept.contains(e) || e.status == "PENDING")
      .flatMap(e => scala.util.Try(java.time.Instant.parse(e.committedAtUtc)).toOption)
      .maxOption(Ordering.by[java.time.Instant, (Long, Int)](i =>
        (i.getEpochSecond, i.getNano)))
    droppedMax.foreach { d =>
      val prior = droppedThrough()
      if (prior.forall(_.isBefore(d)))
        committer.putState(metaFile,
          s"""{"dropped_through": "$d"}""".getBytes(StandardCharsets.UTF_8))
    }
    val body = entries.map(toJson).map(_ + "\n").mkString
    committer.putState(file, body.getBytes(StandardCharsets.UTF_8))
    entries.size
  }

  private val metaFile = Paths.get(dir, "partition_ledger_meta.json")

  /** Newest committed-at stamp among superseded lines a [[compact]]
    * has ever dropped from the version log; None if nothing was ever
    * dropped. Change detection treats a high-water older than this as
    * "history has holes" and falls back to the blind lookback. */
  def droppedThrough(): Option[java.time.Instant] =
    if (!Files.exists(metaFile)) None
    else """"dropped_through"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(Files.readString(metaFile, StandardCharsets.UTF_8))
      .flatMap(m => scala.util.Try(java.time.Instant.parse(m.group(1))).toOption)

  /** [[compact]] when the log has outgrown `maxBytes` — the tick-owned
    * trigger (cheap size stat per call; the rewrite only when the
    * append history has meaningfully outrun the live set). */
  def compactIfLarge(maxBytes: Long = 16L * 1024 * 1024): Boolean = synchronized {
    val due = Files.exists(file) && Files.size(file) > maxBytes
    if (due) compact()
    due
  }

  /** Latest committed partition by (day desc, hour desc) — reference
    * `state/store.py:138-151`. */
  def latestPartition(symbol: String): Option[PartitionLedgerEntry] =
    all().filter(e => e.symbol == symbol.toUpperCase && e.status == "COMMITTED")
      .sortBy(e => (e.day, e.hour)).lastOption
}

/** Per-symbol watermark: last fully-ingested minute (reference
  * `state/store.py:46-75`). Atomic replace on every update; the
  * replace itself goes through the [[CommitProtocol]] state-plane seam
  * (§4.1 seam 3) — `ATOMIC_MOVE` by default, a whole-object PUT under
  * an object-store deployment. */
class WatermarkStore(dir: String, committer: CommitProtocol = RenameCommit) {
  private val file = Paths.get(dir, "watermarks.json")
  Files.createDirectories(Paths.get(dir))

  def read(): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else {
      val txt = Files.readString(file, StandardCharsets.UTF_8)
      """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2)).toMap
    }

  def get(symbol: String): Option[java.time.Instant] =
    read().get(symbol.toUpperCase).map(java.time.Instant.parse)

  def set(symbol: String, lastCompleteMinute: java.time.Instant): Unit =
    setAll(Map(symbol -> lastCompleteMinute))

  /** Batch upsert: ONE read + ONE atomic rewrite for any number of
    * keys. The per-key [[set]] is read-parse-rewrite per call — at lake
    * width 10,000 a per-symbol driver loop over it is O(width²) bytes
    * plus 2 file ops per symbol (measured: the width-10k probe burned
    * ~50 CPU-minutes single-core in exactly that loop, r13). Every
    * O(symbols) watermark advance must come through here. */
  def setAll(entries: Map[String, java.time.Instant]): Unit = synchronized {
    if (entries.isEmpty) return
    val updated = read() ++
      entries.map { case (k, v) => k.toUpperCase -> v.toString }
    val json = updated.toSeq.sorted
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    committer.putState(file, json.getBytes(StandardCharsets.UTF_8))
  }
}
