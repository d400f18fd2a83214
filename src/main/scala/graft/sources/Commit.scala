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
  * The lake's data plane sits outside this trait: the minute and HTF
  * trees write each batch once into `.tmp` (through Hadoop's output
  * committer, swappable to the S3A magic/manifest committer via conf)
  * and publish every touched day by a rename-aside directory swap
  * ([[WideDayPublish]]: day-granular, copy-then-delete on an object
  * store), and [[MinuteLakeWriter.writeDeltaPatch]] is already
  * append-only-new-objects (object-store-native as written). So the
  * writers take no committer: [[publish]]/[[resolve]] have no
  * data-plane caller (CommitSeamSpec pins their protocol), and
  * [[putState]] serves the state stores.
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
  * far-future stamp cannot defer GC for every later version. */
class ManifestCommit(val graceMs: Long) extends CommitProtocol {
  import ManifestCommit._

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
      (manifestFiles.map(st => seqOf(st.getPath.getName)).filter(_ >= 0L) :+ 0L).max
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
