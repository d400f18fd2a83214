package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => NPath, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The object-store commit seam (SURVEY §4.1, VERDICT r14 #1).
  *
  * Every write-atomicity decision in the engine funnels through the
  * four seams §4.1 names; this trait makes the two that are CODE here
  * (the partition publish and the small-state replace) swappable
  * implementations instead of documentation:
  *
  *  - [[RenameCommit]] — the default: directory-rename publish
  *    (tmp → aside → swap) and `ATOMIC_MOVE` state replace. Correct on
  *    POSIX/HDFS-class filesystems where rename is atomic. Readers
  *    scan the destination directory itself ([[CommitProtocol.resolve]]
  *    is the identity), so this implementation changes NOTHING about
  *    current local behavior.
  *  - [[ManifestCommit]] — the object-store shape: the new partition
  *    version is materialized under a UNIQUE hidden prefix
  *    (`<dest>/.v_<uuid>/`, invisible to any reader until named), and
  *    the commit is ONE small `_MANIFEST` object naming the live
  *    prefix — the single-object PUT that IS atomic on S3-class
  *    stores where directory rename is copy+delete. Readers resolve
  *    the manifest to the live prefix; a crash at ANY point before the
  *    manifest PUT leaves the previous manifest (and therefore the
  *    previous complete version) in force, and a crash after it leaves
  *    the new complete version in force — there is no torn window by
  *    construction. Superseded versions are garbage, GC'd on a later
  *    publish once they have been superseded for longer than the
  *    GRACE WINDOW (r15 verdict #2: keep-exactly-one grace loses a
  *    reader still scanning version N while N+1 and N+2 publish; the
  *    window is time-based, sized to the longest expected scan).
  *
  * The remaining two §4.1 seams sit outside this trait: the day-wide
  * trees write each batch once into `.tmp` (through Hadoop's output
  * committer, swappable to the S3A magic/manifest committer via conf)
  * and publish every touched day by a rename-aside directory swap
  * ([[WideDayPublish]]: day-granular, copy-then-delete on an object
  * store), and [[MinuteLakeWriter.writeDeltaPatch]] is already
  * append-only-new-objects (object-store-native as written).
  *
  * Pinned by CommitSeamSpec: a write+crash+read matrix over an
  * injected filesystem whose DIRECTORY rename is copy-then-delete with
  * a crash hook ([[graft.sources.NonAtomicRenameFs]] in test scope) —
  * the rename commit is shown torn under it (the motivating witness)
  * and the manifest commit is shown to serve a complete old or new
  * version at every crash point, including a crash DURING the manifest
  * write itself (the PUT stages through a sibling temp file and lands
  * by single-FILE rename, so the live pointer can never be observed
  * half-written or zero-length).
  */
trait CommitProtocol {

  /** Publish the freshly-written `tmpDir` as the live content of the
    * partition directory `destDir`, replacing any previous version.
    * `tmpDir` is consumed (moved or renamed away) on success. */
  def publish(fs: FileSystem, tmpDir: String, destDir: String): Unit

  /** The path a reader should scan for `destDir`'s live content;
    * `None` if nothing has been published. [[RenameCommit]] resolves
    * to `destDir` itself, so existing readers need no change;
    * [[ManifestCommit]] resolves through the manifest. */
  def resolve(fs: FileSystem, destDir: String): Option[String]

  /** Whether READERS must route each leaf partition directory through
    * [[resolve]] before scanning (r15 verdict #1): under a manifest
    * deployment the live bytes sit in a dot-prefixed version dir that
    * Spark's hidden-path filter skips, so a plain subtree read sees
    * EMPTY partitions. Identity committers return false and readers
    * keep their plain single-listing subtree scans — zero change to
    * the local/HDFS hot path. */
  def readThroughResolve: Boolean = false

  /** Atomically replace the contents of a small local state object
    * (watermarks, aggregator checkpoints) — the §4.1 state-plane seam.
    * On an object store this is a conditional PUT of one small object;
    * the stores are single-coordinator so lost-update is not in play,
    * only torn reads, which a whole-object replace precludes (pinned
    * by CommitSeamSpec's concurrent-read matrix for both committers). */
  def putState(path: NPath, bytes: Array[Byte]): Unit
}

/** Directory-rename commit — the local/HDFS default; see
  * [[CommitProtocol]]. `publish` is the aside-swap choreography the
  * writer has always used (reference `atomic.py:38-44`): rename the
  * previous partition aside, rename tmp into place, drop the aside.
  * Readers see old or new except during the instant between the two
  * renames; a crash in that window leaves the old data recoverable
  * under the aside path rather than lost. Valid ONLY where rename is
  * atomic — on an object store, deploy [[ManifestCommit]] instead. */
object RenameCommit extends CommitProtocol {

  def publish(fs: FileSystem, tmpDir: String, destDir: String): Unit = {
    val finalPath = new HPath(destDir)
    val aside = new HPath(tmpDir + ".aside")
    fs.mkdirs(finalPath.getParent)
    val hadOld = fs.exists(finalPath)
    if (hadOld && !fs.rename(finalPath, aside))
      throw new RuntimeException(s"aside rename failed for $destDir")
    if (!fs.rename(new HPath(tmpDir), finalPath)) {
      if (hadOld) fs.rename(aside, finalPath) // restore the old partition
      throw new RuntimeException(s"atomic rename failed for $destDir")
    }
    if (hadOld) fs.delete(aside, true)
  }

  def resolve(fs: FileSystem, destDir: String): Option[String] =
    if (fs.exists(new HPath(destDir))) Some(destDir) else None

  def putState(path: NPath, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(
      s".${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Manifest-pointer commit — the object-store shape; see
  * [[CommitProtocol]] for the protocol and its crash analysis.
  *
  * `graceMs` is the reader-safety window (r15 verdict #2): a
  * superseded version dir is deleted only once it has been superseded
  * for longer than `graceMs`, so a reader that resolved the manifest
  * and is still scanning survives ANY number of later publishes, as
  * long as its scan finishes inside the window. Supersession times
  * ride INSIDE the manifest object itself (one line per superseded
  * version), so the protocol stays one-PUT-per-commit — no extra
  * tombstone objects, and a version's GC clock starts when it stopped
  * being live, not when it was created (a version live for hours must
  * not be swept the instant it is replaced). Size `graceMs` to the
  * longest expected scan; the default is one hour.
  *
  * CONSTRAINT (VERDICT r16 #5): exactly ONE publisher per lake.
  * Supersession stamps are the publisher's wall clock; concurrent
  * publishers with skewed clocks could expire each other's grace
  * entries early. `publish` checks for evidence of a second,
  * ahead-of-us publisher (history stamps / manifest mtimes in our
  * future) and warns loudly; new stamps are clamped monotone vs the
  * recorded history (never backward) but capped at
  * now + [[ManifestCommit.ClockSkewToleranceMs]] so one forged
  * far-future stamp cannot defer GC for every later version. Readers
  * that outlive the window re-resolve on miss ([[ResolvedScan
  * .retryOnVanishedVersion]]). */
class ManifestCommit(val graceMs: Long) extends CommitProtocol {
  import ManifestCommit._

  override def readThroughResolve: Boolean = true

  /** Loud-warning hook (overridable in tests). */
  protected def warn(msg: String): Unit = System.err.println(msg)

  def publish(fs: FileSystem, tmpDir: String, destDir: String): Unit = {
    val dest = new HPath(destDir)
    fs.mkdirs(dest)
    val previous = readState(fs, destDir)
    val versionName = VersionPrefix +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // Materialize the new version under its unique prefix. The rename
    // may be copy+delete (non-atomic) on the deployment FS — harmless:
    // nothing reads a version no manifest names. On a real object
    // store this step is simply "the writer wrote its files under the
    // unique prefix in the first place".
    if (!fs.rename(new HPath(tmpDir), new HPath(dest, versionName)))
      throw new RuntimeException(s"version materialization failed for $destDir")
    // ONE post-materialization listing serves sequence derivation,
    // version GC, and the manifest-file sweep below (r17, forced by
    // ManifestCostProbe: LISTs are billable on object stores and this
    // method paid four per commit — two were re-listings of state only
    // our own just-written objects could have changed)
    val destEntries = fs.listStatus(dest)
    // next sequence counts EVERY manifest-named file, valid or torn —
    // a crash artifact at seq N must never collide with the retry
    val manifestFiles = destEntries
      .filter(st => st.isFile && (st.getPath.getName == ManifestName ||
        st.getPath.getName.startsWith(ManifestPrefix)))
    val nextSeq = 1L +
      (manifestFiles.map(st => seqOfName(st.getPath.getName)).filter(_ >= 0L) :+ 0L).max
    // Single-coordinator clock CHECK (VERDICT r16 #5): supersession
    // stamps are THIS publisher's wall clock, and the protocol assumes
    // exactly one publisher per lake — two publishers with skewed
    // clocks could prematurely expire each other's grace entries.
    // Evidence of a publisher ahead of us (a history stamp or a
    // manifest file mtime in our future) is that deployment error in
    // progress: warn loudly. The new supersession stamp is clamped to
    // stay monotone vs the recorded history so grace clocks never run
    // backward; sweep decisions keep using OUR clock (future-stamped
    // entries trivially survive the sweep — conservative).
    val now = System.currentTimeMillis()
    val histStamps = previous match {
      case ManifestState.Live(_, _, hist) => hist.map(_._2)
      case _                              => Seq.empty[Long]
    }
    val newestSeenMs =
      (histStamps ++ manifestFiles.map(_.getModificationTime) :+ 0L).max
    if (newestSeenMs > now + ClockSkewToleranceMs)
      warn(s"[graft][ManifestCommit] CLOCK SKEW at $destDir: existing " +
        s"manifest state is ${newestSeenMs - now} ms in this publisher's " +
        "future. The manifest protocol requires a SINGLE coordinator per " +
        "lake; a second publisher with a skewed clock can prematurely " +
        "expire grace entries and break readers mid-scan.")
    // Monotone vs recorded history so grace clocks never run backward
    // under benign mtime jitter — but CAPPED at now + tolerance (r17
    // advice): a single forged/erroneous far-future stamp must not
    // propagate into every subsequent superseded entry, or version GC
    // defers fleet-wide until wall clock passes the skewed stamp.
    // With the cap, only the skewed entry itself lingers (sweep stays
    // conservative on recorded stamps) and GC recovers after one
    // grace window for everything published after it.
    val stampNow = math.min(
      math.max(now, histStamps.maxOption.getOrElse(0L)),
      now + ClockSkewToleranceMs)
    // superseded history: previous live joins it now; entries older
    // than the grace window leave it (their dirs are GC'd below)
    val superseded = previous match {
      case ManifestState.Absent     => Seq.empty[(String, Long)]
      case ManifestState.Corrupt(_) => Seq.empty[(String, Long)]
      case ManifestState.Live(_, live, hist) =>
        (hist :+ (live -> stampNow)).filter { case (_, atMs) => atMs + graceMs > now }
    }
    // THE commit: one small object PUT of a NEW manifest name,
    // `_MANIFEST.<seq+1>` — never an overwrite of the live pointer.
    // Hadoop-class filesystems refuse rename-over-existing and an
    // in-place create(overwrite) TRUNCATES the live pointer first (a
    // crash between truncate and close would zero the lake — r15
    // advice); a fresh name has neither failure mode. Readers resolve
    // the highest-sequence manifest whose body carries the trailing
    // completeness sentinel, so a half-written manifest (possible only
    // on filesystems without atomic single-object visibility — object
    // stores PUT atomically) reads as invalid and the previous
    // sequence stays in force.
    val body = ((versionName +: superseded.map { case (n, a) => s"$n\t$a" })
      :+ Sentinel).mkString("\n").getBytes(StandardCharsets.UTF_8)
    val out = fs.create(new HPath(dest, manifestName(nextSeq)), false)
    try out.write(body)
    finally out.close()
    // GC: delete version dirs named by NOBODY — not live, not inside
    // the grace window — and manifest files superseded longer than the
    // grace window. A corrupt newest manifest with NO valid fallback
    // skips version GC entirely: versions the publisher can no longer
    // account for must not be swept on guesswork (recovery is a manual
    // repoint, not data loss). Failure here is retried by next publish.
    val canAccount = previous match {
      case ManifestState.Corrupt(_) => false
      case _                        => true
    }
    if (canAccount) {
      val keep = Set(versionName) ++ superseded.map(_._1)
      // destEntries predates only our own manifest PUT — the version
      // dir population is exactly what a fresh LIST would return
      destEntries.iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(VersionPrefix))
        .filterNot(s => keep.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    }
    // superseded manifest files: tiny, kept one grace window past the
    // moment they stopped being newest (their successor's mtime), so a
    // reader between list and read never loses its pick. The
    // just-written newest is absent from destEntries — equivalently
    // kept: the previous newest's successor (it) has mtime ≈ now, so
    // that pair never sweeps either.
    val manifests = manifestFiles
      .filter(s => s.getPath.getName.startsWith(ManifestPrefix))
      .sortBy(s => seqOf(s.getPath.getName))
    manifests.dropRight(1).zip(manifests.drop(1)).foreach {
      case (older, successor) =>
        if (successor.getModificationTime + graceMs < now)
          fs.delete(older.getPath, false)
    }
  }

  def resolve(fs: FileSystem, destDir: String): Option[String] =
    readState(fs, destDir) match {
      case ManifestState.Live(_, live, _) =>
        Some(s"$destDir/$live").filter(p => fs.exists(new HPath(p)))
      case _ => None
    }

  def putState(path: NPath, bytes: Array[Byte]): Unit =
    // modeled single-object PUT: whole-object replace through a
    // sibling temp (REPLACE_EXISTING move — the local stand-in for a
    // conditional PUT; the coordinator is the only writer by design)
    RenameCommit.putState(path, bytes)
}

/** Default-grace instance (one hour — covers any sane scan): the value
  * callers name when they don't size the window themselves. */
object ManifestCommit extends ManifestCommit(3600000L) {

  private[sources] val ManifestName = "_MANIFEST"
  private[sources] val ManifestPrefix = "_MANIFEST."
  private[sources] val VersionPrefix = ".v_"
  private[sources] val Sentinel = "__COMPLETE__"

  /** How far ahead of this publisher's clock existing manifest state
    * may sit before [[ManifestCommit.publish]] warns that the
    * single-coordinator constraint looks violated (small allowance for
    * FS mtime rounding on the publisher's own files). */
  private[sources] val ClockSkewToleranceMs = 5000L

  private[sources] def manifestName(seq: Long) = s"$ManifestPrefix$seq"

  private[sources] def seqOfName(name: String): Long = seqOf(name)

  /** Sequence of a manifest file name; the bare r15-era `_MANIFEST`
    * reads as sequence 0 (format compatibility). */
  private def seqOf(name: String): Long =
    if (name == ManifestName) 0L
    else name.stripPrefix(ManifestPrefix).toLongOption.getOrElse(-1L)

  /** Parsed manifest state: the highest-sequence manifest file whose
    * body is COMPLETE wins; half-written or zeroed newer files fall
    * back to the previous sequence. `Corrupt(seq)` = manifest files
    * exist but none is valid — readers treat it as nothing-published;
    * publishers must NOT treat it as license to GC. */
  private[sources] sealed trait ManifestState
  private[sources] object ManifestState {
    case object Absent extends ManifestState
    final case class Corrupt(maxSeq: Long) extends ManifestState
    final case class Live(seq: Long, live: String,
                          superseded: Seq[(String, Long)]) extends ManifestState
  }

  private[sources] def readFullyOf(fs: FileSystem, p: HPath): Option[String] =
    readFully(fs, p)

  private def readFully(fs: FileSystem, p: HPath): Option[String] =
    try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](256)
        var n = in.read(b)
        while (n >= 0) { if (n > 0) buf.write(b, 0, n); n = in.read(b) }
        Some(buf.toString(StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Parse one manifest body; None when torn/invalid. The r15-era bare
    * `_MANIFEST` format (single version-name line, no sentinel) is
    * accepted when `requireSentinel` is false. */
  private def parseBody(txt: String, requireSentinel: Boolean,
                        seq: Long): Option[ManifestState.Live] = {
    val lines = txt.split('\n').map(_.trim).filter(_.nonEmpty)
    if (requireSentinel && !lines.lastOption.contains(Sentinel)) return None
    lines.headOption.filter(_.startsWith(VersionPrefix)).map { live =>
      val hist = lines.drop(1).takeWhile(_ != Sentinel).toSeq.flatMap { l =>
        l.split('\t') match {
          case Array(n, at) if n.startsWith(VersionPrefix) =>
            at.toLongOption.map(n -> _)
          case _ => None
        }
      }
      ManifestState.Live(seq, live, hist)
    }
  }

  private[sources] def readState(fs: FileSystem, destDir: String): ManifestState = {
    val dest = new HPath(destDir)
    if (!fs.exists(dest)) return ManifestState.Absent
    val names =
      try fs.listStatus(dest)
        .filter(s => s.isFile && (s.getPath.getName == ManifestName ||
          s.getPath.getName.startsWith(ManifestPrefix)))
        .map(_.getPath.getName).filter(seqOf(_) >= 0)
        .sortBy(seqOf).reverse.toSeq
      catch { case _: java.io.FileNotFoundException => return ManifestState.Absent }
    if (names.isEmpty) return ManifestState.Absent
    // highest valid sequence wins; a deleted-between-list-and-read file
    // (GC racing this reader) just falls through to the next candidate
    names.iterator
      .flatMap { n =>
        readFully(fs, new HPath(dest, n)).flatMap(
          parseBody(_, requireSentinel = n != ManifestName, seqOf(n)))
      }
      .nextOption()
      .getOrElse(ManifestState.Corrupt(seqOf(names.head)))
  }
}

/** Day-batched manifest commit (VERDICT r17 #5) — the hourly-layout
  * answer to ManifestCommit's measured per-leaf publish price (12.8 ms
  * and one pointer PUT per leaf; 24k leaves = 307 s and 24k billable
  * PUTs on the r17 ManifestCostProbe run).
  *
  * ONE manifest object per DAY directory names the live version of
  * EVERY hour leaf under it:
  *
  * {{{
  *   .../day=01/_MANIFEST.7        hour=00\t.v_ab12           (live)
  *                                 hour=00\t.v_9f03\t<atMs>   (grace)
  *                                 hour=01\t.v_c4d5
  *                                 __COMPLETE__
  *   .../day=01/hour=00/.v_ab12/part-*.parquet
  * }}}
  *
  * [[publishBatch]] commits any number of hour leaves under one day
  * with a SINGLE pointer PUT — a bulk hourly ingest of K leaves pays
  * K version materializations + 1 PUT instead of K of each, cutting
  * pointer PUTs (and their LIST fan-out) by the batch factor (~24× on
  * day-grain ingest). The crash analysis is unchanged from
  * [[ManifestCommit]]: every version materializes under a hidden
  * unique prefix invisible until named, and the commit is one
  * single-object PUT of a NEW sequence name — a crash before it leaves
  * the previous day manifest (all leaves' previous versions) in force;
  * after it, the new one. There is no torn window, per-leaf or
  * cross-leaf: the batch lands atomically as a unit.
  *
  * Grace/GC semantics, sequence naming, sentinel-gated parsing, the
  * single-coordinator constraint, clock-skew warning and the
  * now+tolerance stamp cap all mirror [[ManifestCommit]] (same
  * helpers). A corrupt newest-manifest day (no valid fallback) reads
  * as nothing-published for EVERY leaf; a subsequent publish starts a
  * fresh manifest naming only its own leaves and SKIPS version GC —
  * unaccountable versions are never swept on guesswork (recovery is a
  * manual repoint), exactly the per-leaf contract. */
class DayManifestCommit(val graceMs: Long) extends CommitProtocol {
  import ManifestCommit.{ManifestName, ManifestPrefix, VersionPrefix,
    Sentinel, ClockSkewToleranceMs, manifestName, seqOfName, readFullyOf}

  override def readThroughResolve: Boolean = true

  /** Loud-warning hook (overridable in tests). */
  protected def warn(msg: String): Unit = System.err.println(msg)

  def publish(fs: FileSystem, tmpDir: String, destDir: String): Unit =
    publishBatch(fs, Seq(tmpDir -> destDir))

  /** Commit every (tmpDir → leafDir) pair, ONE pointer PUT per
    * distinct parent day directory.
    *
    * Distinct day dirs are INDEPENDENT commit units (each has its own
    * manifest and its own version dirs), so a multi-day batch publishes
    * them on a bounded pool (r20, VERDICT r19 #4: the first-publish leg
    * of ManifestCostProbe was metadata-latency-bound — 24k sequential
    * renames + listings at 4.67 ms/leaf; parallel metadata ops are the
    * standard object-store committer answer, and the single-coordinator
    * constraint is about separate publisher PROCESSES, not threads of
    * one publish). Atomicity is per DAY exactly as before — the
    * sequential loop never offered cross-day atomicity either; a crash
    * mid-batch leaves some days published and some not, in arbitrary
    * rather than lexicographic order. Failures propagate with their
    * original cause after every in-flight day settles. */
  def publishBatch(fs: FileSystem, entries: Seq[(String, String)]): Unit = {
    val groups = entries
      .groupBy { case (_, dest) => new HPath(dest).getParent.toString }
      .toSeq.sortBy(_._1)
    if (groups.sizeIs <= 1)
      groups.foreach { case (dayDir, group) => publishDay(fs, dayDir, group) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(DayManifestCommit.PublishParallelism, groups.size))
      try {
        val futures = groups.map { case (dayDir, group) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = publishDay(fs, dayDir, group)
          })
        }
        var firstFailure: Throwable = null
        futures.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null) firstFailure = e.getCause
          }
        }
        if (firstFailure != null) throw firstFailure
      } finally pool.shutdown()
    }
  }

  private final case class DayState(
      seq: Long, live: Map[String, String],
      superseded: Seq[(String, String, Long)], corrupt: Boolean)

  private def parseDayBody(txt: String, seq: Long,
                           requireSentinel: Boolean): Option[DayState] = {
    val lines = txt.split('\n').map(_.trim).filter(_.nonEmpty)
    if (requireSentinel && !lines.lastOption.contains(Sentinel)) return None
    val rows = lines.takeWhile(_ != Sentinel)
    val live = scala.collection.mutable.LinkedHashMap[String, String]()
    val hist = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    rows.foreach { l =>
      l.split('\t') match {
        case Array(leaf, v) if v.startsWith(VersionPrefix) =>
          live(leaf) = v
        case Array(leaf, v, at) if v.startsWith(VersionPrefix) =>
          at.toLongOption.foreach(a => hist += ((leaf, v, a)))
        case _ => return None // any unparseable row = torn body
      }
    }
    Some(DayState(seq, live.toMap, hist.toSeq, corrupt = false))
  }

  private def manifestFilesOf(
      entries: Array[org.apache.hadoop.fs.FileStatus]) =
    entries.filter(st => st.isFile && (st.getPath.getName == ManifestName ||
      st.getPath.getName.startsWith(ManifestPrefix)))
      .filter(st => seqOfName(st.getPath.getName) >= 0)

  private def readDayState(
      fs: FileSystem, dayDir: HPath,
      listed: Option[Array[org.apache.hadoop.fs.FileStatus]] = None): DayState = {
    val entries = listed.getOrElse(
      try fs.listStatus(dayDir)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] })
    val manifests = manifestFilesOf(entries)
      .sortBy(st => seqOfName(st.getPath.getName)).reverse
    if (manifests.isEmpty)
      return DayState(0L, Map.empty, Seq.empty, corrupt = false)
    manifests.iterator
      .flatMap { st =>
        val n = st.getPath.getName
        readFullyOf(fs, st.getPath).flatMap(
          parseDayBody(_, seqOfName(n), requireSentinel = true))
      }
      .nextOption()
      .getOrElse(DayState(seqOfName(manifests.head.getPath.getName),
        Map.empty, Seq.empty, corrupt = true))
  }

  private def publishDay(fs: FileSystem, dayDir: String,
                         group: Seq[(String, String)]): Unit = {
    val day = new HPath(dayDir)
    fs.mkdirs(day)
    val dayEntries = fs.listStatus(day)
    val prev = readDayState(fs, day, Some(dayEntries))
    val manifestFiles = manifestFilesOf(dayEntries)
    val nextSeq = 1L +
      (manifestFiles.map(st => seqOfName(st.getPath.getName)) :+ prev.seq :+ 0L).max
    // materialize every leaf's new version under its hidden prefix —
    // nothing reads a version no manifest names, so a crash anywhere
    // in this loop is invisible
    val newVers = group.map { case (tmp, dest) =>
      val destP = new HPath(dest)
      fs.mkdirs(destP)
      val vname = VersionPrefix +
        java.util.UUID.randomUUID().toString.replace("-", "")
      if (!fs.rename(new HPath(tmp), new HPath(destP, vname)))
        throw new RuntimeException(s"version materialization failed for $dest")
      destP.getName -> vname
    }.toMap
    // single-coordinator clock check + capped monotone stamp — same
    // contract as ManifestCommit.publish
    val now = System.currentTimeMillis()
    val histStamps = prev.superseded.map(_._3)
    val newestSeenMs =
      (histStamps ++ manifestFiles.map(_.getModificationTime) :+ 0L).max
    if (newestSeenMs > now + ClockSkewToleranceMs)
      warn(s"[graft][DayManifestCommit] CLOCK SKEW at $dayDir: existing " +
        s"manifest state is ${newestSeenMs - now} ms in this publisher's " +
        "future. The manifest protocol requires a SINGLE coordinator per " +
        "lake; a second publisher with a skewed clock can prematurely " +
        "expire grace entries and break readers mid-scan.")
    val stampNow = math.min(
      math.max(now, histStamps.maxOption.getOrElse(0L)),
      now + ClockSkewToleranceMs)
    val supersededAll = prev.superseded ++
      newVers.keysIterator.flatMap(leaf =>
        prev.live.get(leaf).map(v => (leaf, v, stampNow)))
    val superseded =
      supersededAll.filter { case (_, _, atMs) => atMs + graceMs > now }
    // leaves whose grace entries just expired OUT of the manifest: their
    // old version dirs become unnamed by this publish, so they must be
    // GC'd NOW even if the leaf itself wasn't touched — otherwise a
    // leaf never republished leaks its superseded .v_ dir indefinitely
    // (r18 advice)
    val expiredLeaves = supersededAll.collect {
      case (leaf, _, atMs) if atMs + graceMs <= now => leaf }.toSet
    val live = prev.live ++ newVers
    // THE commit: one pointer PUT for the whole batch
    val body = ((live.toSeq.sortBy(_._1).map { case (l, v) => s"$l\t$v" } ++
      superseded.map { case (l, v, a) => s"$l\t$v\t$a" })
      :+ Sentinel).mkString("\n").getBytes(StandardCharsets.UTF_8)
    val out = fs.create(new HPath(day, manifestName(nextSeq)), false)
    try out.write(body)
    finally out.close()
    // GC — only when the previous state was accountable, over the
    // TOUCHED leaves plus any leaf whose superseded entry expired out
    // of the manifest in this publish (untouched leaves otherwise
    // cannot have gained garbage): delete version dirs named by nobody.
    // FIRST publish (no manifest file existed) skips the sweep outright
    // (r20, VERDICT r19 #4): nothing a manifest ever named can be
    // garbage, so the per-leaf listings would only be hunting version
    // dirs orphaned by a CRASHED earlier first publish — rare, invisible
    // to every reader (unnamed), and swept by the leaf's next successful
    // republish; paying one listing per leaf on every bulk ingest to
    // find them was the single largest first-publish cost.
    if (!prev.corrupt && manifestFiles.nonEmpty) {
      (newVers.keySet ++ expiredLeaves).iterator.foreach { leaf =>
        val keep = live.get(leaf).toSet ++
          superseded.collect { case (`leaf`, v, _) => v }
        val leafP = new HPath(day, leaf)
        try fs.listStatus(leafP).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(VersionPrefix))
          .filterNot(s => keep.contains(s.getPath.getName))
          .foreach(s => fs.delete(s.getPath, true))
        catch { case _: java.io.FileNotFoundException => () }
      }
    }
    // superseded manifest files: kept one grace window past the moment
    // they stopped being newest (same rule as ManifestCommit)
    val sortedManifests = manifestFiles
      .filter(s => s.getPath.getName.startsWith(ManifestPrefix))
      .sortBy(s => seqOfName(s.getPath.getName))
    sortedManifests.dropRight(1).zip(sortedManifests.drop(1)).foreach {
      case (older, successor) =>
        if (successor.getModificationTime + graceMs < now)
          fs.delete(older.getPath, false)
    }
  }

  def resolve(fs: FileSystem, destDir: String): Option[String] = {
    val dest = new HPath(destDir)
    readDayState(fs, dest.getParent).live.get(dest.getName)
      .map(v => s"$destDir/$v").filter(p => fs.exists(new HPath(p)))
  }

  /** One day dir's live leaf → version map, read ONCE — the batch
    * resolution primitive behind [[ResolvedScan.resolveLeaves]]:
    * per-leaf [[resolve]] re-reads the shared day manifest for every
    * hour leaf (the r18 ManifestCostProbe priced that at 1.50× the
    * per-leaf committer's windowed read); a windowed reader resolving
    * a day's 24 leaves needs one manifest GET, not 24. */
  private[graft] def liveVersions(fs: FileSystem,
                                  dayDir: String): Map[String, String] =
    readDayState(fs, new HPath(dayDir)).live

  def putState(path: NPath, bytes: Array[Byte]): Unit =
    RenameCommit.putState(path, bytes)
}

/** Default-grace instance (one hour), mirroring [[ManifestCommit]]. */
object DayManifestCommit extends DayManifestCommit(3600000L) {

  /** Pool width for multi-day [[DayManifestCommit.publishBatch]] —
    * bounds concurrent per-day metadata ops (renames, listings, the
    * pointer PUT). Sized for driver-side metadata latency hiding, not
    * CPU. */
  private[sources] val PublishParallelism = 16
}

/** Reader-side manifest resolution (r15 verdict #1): the walk that
  * turns a Hive-layout subtree into the list of COMMITTED content
  * directories a reader should hand to `spark.read.parquet`.
  *
  * Under [[ManifestCommit]] the live bytes of each leaf partition sit
  * in a dot-prefixed `.v_*` version dir that Spark's hidden-path
  * filter skips, so a plain subtree read sees empty partitions; the
  * writers already resolve (`LakeWriter.scala` read-merge legs) — this
  * gives the READ paths the same resolution. Identity committers never
  * come through here ([[CommitProtocol.readThroughResolve]] is false),
  * so the local/HDFS hot path keeps its plain single-listing scans.
  *
  * Cost: O(subtree) directory LISTs — the same listing volume Spark's
  * own file index pays for the plain subtree read it replaces, just
  * driver-side; bounded callers (windowed reads) resolve only their
  * already-pruned leaf lists via [[resolveLeaf]].
  *
  * Partition-column inference survives the extra `.v_*` path level:
  * Spark parses `key=value` chunks upward from each file and skips
  * non-matching chunks until the first parsed column, so
  * `.../hour=10/.v_abc/part-0.parquet` still yields
  * (symbol, year, month, day, hour) under the subtree basePath —
  * pinned by CommitSeamSpec's round-trip rows. */
private[graft] object ResolvedScan {

  /** The committed content dir of ONE leaf partition dir: the
    * manifest-resolved version when the committer names one, else the
    * leaf itself when it holds visible data files (bulk-written plain
    * partitions inside a manifest deployment), else None (nothing
    * committed — e.g. only a crash-orphaned version dir). */
  def resolveLeaf(fs: FileSystem, leaf: String,
                  committer: CommitProtocol): Option[String] =
    committer.resolve(fs, leaf).orElse {
      val p = new HPath(leaf)
      if (fs.exists(p) && DayDirs.dataFiles(fs, leaf).nonEmpty) Some(leaf)
      else None
    }

  /** Re-resolve-on-miss (VERDICT r16 #6): a scan that outlives the
    * grace window can lose its resolved `.v_*` dir mid-read — GC'd by
    * a later publish — surfacing as a FileNotFound buried in a Spark
    * task failure (or a plan-time path-does-not-exist if the loss won
    * the race to the listing). `body` must perform its OWN resolution
    * on every attempt (each reader path resolves fresh per call, so
    * "re-run the read" IS "re-resolve"); this combinator re-runs it so
    * the restarted read resolves the CURRENT live version and
    * completes correctly instead of dying on a raw FileNotFound.
    * Reads are side-effect-free, so the retry is safe by construction.
    * Never wrap non-idempotent writes in it; the aggregator's
    * tick/backfill verbs ARE wrapped whole because they are re-run-safe
    * by the engine's own repair contract (atomic per-partition
    * publishes of recomputed content, fingerprint write-skip, monotone
    * watermark advance — the identical guarantee every scheduled
    * re-poll of those verbs already relies on). A short linear backoff
    * separates
    * attempts so a retry racing the same in-flight publish cannot
    * burn every attempt in milliseconds (r17 advice). */
  def retryOnVanishedVersion[T](attempts: Int = 3)(body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if tries + 1 < attempts && versionVanished(e) =>
          tries += 1
          Thread.sleep(RetryBackoffMs * tries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[sources] val RetryBackoffMs = 50L

  /** A vanished-VERSION failure anywhere in the cause chain: a
    * missing-path signal (typed FileNotFoundException when Spark
    * preserves it, else the stable message shapes task failures and
    * plan-time listing races surface it as) whose message NAMES a
    * `.v_*` version path. Requiring the version marker keeps
    * genuinely-missing paths (wrong root, never-written symbol/day)
    * and unrelated analysis errors out of the retry loop (r17
    * advice) — only manifest-resolved paths can vanish benignly. */
  private def versionVanished(t: Throwable): Boolean =
    t != null && ({
      val m = t.getMessage
      val missingPath = t.isInstanceOf[java.io.FileNotFoundException] ||
        (m != null && (m.contains("FileNotFoundException") ||
          m.contains("Path does not exist") ||
          m.contains("does not exist")))
      missingPath && m != null && m.contains(ManifestCommit.VersionPrefix)
    } || versionVanished(t.getCause))

  /** Pool width for the walk's parallel LISTs, the batch resolution's
    * parallel day-state GETs, and the per-leaf existence probes —
    * driver-side metadata latency hiding, same sizing rationale as
    * [[DayManifestCommit.PublishParallelism]]. */
  private[sources] val WalkParallelism = 16

  /** Ordered parallel map on a bounded pool; rethrows the first
    * failure's original cause. Single-element input stays inline. */
  private def parMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(WalkParallelism, items.size))
      try {
        val fs = items.map(i => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(i) }))
        fs.map { fu =>
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Resolve MANY already-pruned leaf dirs — the windowed readers'
    * shape. Under [[DayManifestCommit]] the leaves share day-level
    * manifests, so the batch reads each touched day's state ONCE and
    * resolves its leaves from the map (per-leaf [[resolveLeaf]] would
    * re-GET the same manifest per hour leaf — 1.50× on the r18 probe's
    * windowed-read leg); the plain-file fallback per leaf is
    * preserved. Day-state GETs and the per-leaf existence/fallback
    * probes run on the bounded [[WalkParallelism]] pool (r20, VERDICT
    * r19 #3 — at 240k leaves the sequential probes dominated the
    * windowed read). Every other committer keeps the per-leaf loop.
    * Output order follows the input. */
  def resolveLeaves(fs: FileSystem, leaves: Seq[String],
                    committer: CommitProtocol): Seq[String] =
    committer match {
      case d: DayManifestCommit =>
        val days = leaves.map(l => new HPath(l).getParent.toString).distinct
        val liveByDay = parMap(days)(day => day -> d.liveVersions(fs, day))
          .toMap
        parMap(leaves) { leaf =>
          val p = new HPath(leaf)
          liveByDay(p.getParent.toString).get(p.getName)
            .map(v => s"$leaf/$v").filter(x => fs.exists(new HPath(x)))
            .orElse {
              // same bulk-written-plain fallback as resolveLeaf
              if (fs.exists(p) && DayDirs.dataFiles(fs, leaf).nonEmpty) Some(leaf)
              else None
            }
        }.flatten
      case c => leaves.flatMap(l => resolveLeaf(fs, l, c))
    }

  /** Every committed content dir under `base`: descend `key=value`
    * partition dirs; a dir with no such children is a leaf. Leaves are
    * resolved in ONE batch through [[resolveLeaves]] — under
    * [[DayManifestCommit]] that is one day-state read per touched
    * parent instead of one per LEAF (the r19 probe measured the
    * per-leaf shape at ~11 s over a 24k-leaf windowed read: every hour
    * leaf re-read its day's 24-line manifest). `leafFilter` prunes
    * candidate leaf paths BEFORE resolution, so a windowed caller
    * never pays day-state reads for out-of-window days.
    *
    * The descent STOPS at manifest-bearing dirs (r20, VERDICT r19 #3):
    * under [[DayManifestCommit]] the day manifest IS a leaf index —
    * its entries name direct child dirs as the commit units, and every
    * writer in this repo commits at exactly that grain — so the
    * partition-dir children of a dir holding a `_MANIFEST[.seq]` file
    * are leaf candidates as listed, without one LIST per child to
    * re-discover leaf-ness (at width 10k × 24 h that re-discovery was
    * 240k of the walk's 280k LISTs; bulk-written PLAIN leaves under
    * the same day are still direct children, so the day listing
    * captures them and the resolution fallback admits them). Listings
    * fan out level-by-level on the bounded [[WalkParallelism]] pool.
    * Output is lexicographically sorted (the legacy recursion's
    * DFS-over-sorted-listings order, now restored explicitly after the
    * parallel fan-out). */
  def resolvedLeaves(fs: FileSystem, base: String,
                     committer: CommitProtocol,
                     leafFilter: String => Boolean = _ => true): Seq[String] = {
    if (!fs.exists(new HPath(base))) return Seq.empty
    val dayIndexed = committer.isInstanceOf[DayManifestCommit]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var frontier: Seq[HPath] = Seq(new HPath(base))
    while (frontier.nonEmpty)
      frontier = parMap(frontier) { p =>
        val children = fs.listStatus(p)
        val partDirs = children.filter(s =>
          s.isDirectory && s.getPath.getName.contains("="))
        val manifested = dayIndexed && children.exists(s => s.isFile && {
          val n = s.getPath.getName
          n == ManifestCommit.ManifestName ||
            n.startsWith(ManifestCommit.ManifestPrefix)
        })
        if (manifested && partDirs.nonEmpty) {
          partDirs.foreach { s =>
            val leaf = s.getPath.toString
            if (leafFilter(leaf)) out.add(leaf)
          }
          Seq.empty[HPath]
        } else if (partDirs.nonEmpty) partDirs.map(_.getPath).toSeq
        else {
          if (leafFilter(p.toString)) out.add(p.toString)
          Seq.empty[HPath]
        }
      }.flatten
    val leaves = {
      val arr = new java.util.ArrayList(out)
      java.util.Collections.sort(arr)
      scala.jdk.CollectionConverters.ListHasAsScala(arr).asScala.toSeq
    }
    resolveLeaves(fs, leaves, committer)
  }
}
