package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** THE version commit of the snapshot warehouse: every path that
  * creates a `v=<n>` version (full writes, appends, row-level rewrites,
  * deletion vectors, metadata-only commits, index and optimize
  * commits) prepares a staging dir and hands it to [[Commit.apply]],
  * which runs the same named steps in order — the minimal
  * Delta/Iceberg-style multi-writer protocol: MULTIPLE writers may
  * prepare concurrently, exactly one wins each version, the loser
  * fails with a retry-able [[Warehouse.SnapshotConflictException]],
  * and no lost update is possible.
  *
  *  1. '''Claim''' `_commit-v<n>` — the COMMIT POINT, one atomic
  *     exclusive create (the compare-and-swap). On a `file://` path it
  *     goes through NIO `Files.createFile` (O_EXCL — Hadoop's
  *     RawLocalFileSystem implements `create(overwrite = false)` as a
  *     non-atomic exists-then-create); on HDFS `FileSystem.create
  *     (overwrite = false)` is namenode-atomic; on S3 substitute a
  *     conditional PUT. A writer that loses the claim deletes its
  *     staging and throws the conflict. A marker older than
  *     `orphanGraceMs` whose data dir never appeared is a crashed
  *     writer's: its lease is broken and the version re-claimed (a
  *     lease by modification time; a LIVE writer stalled past the grace
  *     loses its claim and fails its promote, retrying like any
  *     conflict loser). Within the grace the version stays reserved.
  *  1. '''Backoff''' if `v=<n>` already exists — the lease-break race:
  *     a stalled original writer may have promoted while we broke its
  *     "orphan" lease (Hadoop's local-FS rename fallback would nest a
  *     rename into the existing dir).
  *  1. '''Promote''' staging → `v=<n>` by one rename. Data always lands
  *     in a UNIQUE staging dir first, so concurrent writers never touch
  *     the same files, and a failed write leaves only a staging dir
  *     (which [[Warehouse.vacuum]] reaps past the grace).
  *  1. '''ChangeFiles''': staged change-feed rows move to `_cdf/v=<n>`.
  *  1. '''Manifest''', under a [[ManifestPolicy]] value:
  *     [[LoadBearing]] for a file-sharing version (the manifest is its
  *     commit record: a failed publish unwinds the version), or
  *     [[BestEffort]] for a self-contained one (its data is durable
  *     already: a failed publish logs, and reads fall back to listing).
  *  1. '''Advance''' `_latest` to the new version, FORWARD ONLY
  *     ([[advancePointer]]).
  *
  * Readers keep snapshot isolation throughout: an unpinned reader
  * resolves `_latest`, which names a complete version before and after
  * the commit, and a crash between any two steps leaves `_latest`
  * where it was (`CommitCrashSpec`).
  */
private[store] object Commit {

  /** The named steps, in commit order; [[afterStep]] fires after each. */
  sealed abstract class Step
  object Step {
    case object Claim extends Step
    case object Backoff extends Step
    case object Promote extends Step
    case object ChangeFiles extends Step
    case object Manifest extends Step
    case object Advance extends Step
    val all: Seq[Step] = Seq(Claim, Backoff, Promote, ChangeFiles, Manifest, Advance)
  }

  sealed abstract class ManifestPolicy
  case object LoadBearing extends ManifestPolicy
  case object BestEffort extends ManifestPolicy

  /** Fault seam for the crash-window specs: called with (table path,
    * step) after each step completes. A no-op outside tests. */
  @volatile private[store] var afterStep: (String, Step) => Unit = (_, _) => ()

  /** Commit `staging` (complete: data, sidecars and the `_partial`
    * marker when file-sharing) as version `next` of table `path`.
    * `manifest` receives the promoted dir's fresh data file names and
    * publishes the version's manifest. Returns those names.
    */
  def apply(fs: FileSystem, path: String, staging: Path, next: Long, op: String,
            orphanGraceMs: Long, policy: ManifestPolicy,
            cdfStaging: Option[Path] = None)
           (manifest: Seq[String] => Unit): Seq[String] = {
    def step(s: Step): Unit = afterStep(path, s)
    def conflict(): Nothing = {
      fs.delete(staging, true)
      cdfStaging.foreach(fs.delete(_, true))
      throw new Warehouse.SnapshotConflictException(path, next)
    }
    if (!claimVersion(fs, path, next, orphanGraceMs)) conflict()
    step(Step.Claim)
    val dest = new Path(s"$path/v=$next")
    if (fs.exists(dest)) conflict()
    step(Step.Backoff)
    promoteStaging(fs, staging, dest, path, next)
    step(Step.Promote)
    cdfStaging.foreach(publishChangeFiles(fs, path, next, _))
    step(Step.ChangeFiles)
    val fresh =
      try {
        val f = fs.listStatus(dest).toSeq
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(_.getPath.getName)
        manifest(f); f
      } catch {
        case e: Throwable if policy == LoadBearing =>
          unwindVersion(fs, path, next)
          throw new java.io.IOException(
            s"$op($path): manifest publish failed for v=$next; version unwound", e)
        case e @ (_: java.io.IOException | _: IllegalArgumentException) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"manifest publish failed for v=$next under $path (reads fall back to listing)", e)
          Seq.empty
      }
    step(Step.Manifest)
    advancePointer(fs, path, next)
    step(Step.Advance)
    fresh
  }

  /** Remove a promoted version `_latest` never pointed at: manifest
    * first (a reader then gets the no-such-version error, never a scan
    * of a dead file list), then its dir and change files, then the
    * claim marker.
    */
  private def unwindVersion(fs: FileSystem, path: String, v: Long): Unit = {
    fs.delete(new Path(s"$path/_manifest-v$v"), false)
    fs.delete(new Path(s"$path/v=$v"), true)
    fs.delete(new Path(s"$path/_cdf/v=$v"), true)
    fs.delete(new Path(s"$path/_commit-v$v"), false)
  }

  private def claimVersion(fs: FileSystem, path: String,
                           next: Long, orphanGraceMs: Long): Boolean = {
    val marker = new Path(s"$path/_commit-v$next")
    def atomicClaim(): Boolean =
      if (marker.toUri.getScheme == null || marker.toUri.getScheme == "file")
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(marker.toUri.getPath)); true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else
        try { fs.create(marker, false).close(); true }
        catch { case _: java.io.IOException => false }
    var claimed = atomicClaim()
    if (!claimed && !fs.exists(new Path(s"$path/v=$next"))) {
      val st = try Some(fs.getFileStatus(marker)) catch {
        case _: java.io.FileNotFoundException => None
      }
      val abandoned = st.forall(s =>
        System.currentTimeMillis() - s.getModificationTime > orphanGraceMs)
      if (abandoned) {
        fs.delete(marker, false)
        claimed = atomicClaim()
      }
    }
    claimed
  }

  /** Staging → `v=<n>`. A failed rename AFTER a successful claim is the
    * lease-loss case, not a programming error: a writer stalled past
    * the grace has had its staging vacuumed and/or its marker lease
    * broken, so it throws the RETRYABLE conflict (rename on a vacuumed
    * staging throws on the local FS rather than returning false — the
    * same outcome). The marker stays: it may no longer be ours, and if
    * it is and orphaned, the grace reclaims it.
    */
  def promoteStaging(fs: FileSystem, staging: Path, dest: Path,
                     path: String, next: Long): Unit = {
    val ok =
      try fs.rename(staging, dest)
      catch { case _: java.io.IOException => false }
    if (!ok) {
      try fs.delete(staging, true) catch { case _: java.io.IOException => () }
      throw new Warehouse.SnapshotConflictException(path, next)
    }
  }

  private def publishChangeFiles(fs: FileSystem, path: String, v: Long,
                                 staged: Path): Unit = {
    fs.mkdirs(new Path(s"$path/_cdf"))
    val dest = new Path(s"$path/_cdf/v=$v")
    fs.delete(dest, true) // claim exclusivity makes live contention impossible; clear debris
    require(fs.rename(staged, dest), s"cannot publish change files for v=$v under $path")
  }

  /** A one-number pointer file (`_latest`); None when absent. */
  def readPointerFile(fs: FileSystem, p: Path): Option[Long] =
    try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      Some(s.toLong)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Advance `_latest` to `next`, FORWARD ONLY: a slower v=n winner
    * must not clobber a faster v=n+1 writer's already-swapped pointer.
    * The read-then-swap window is benign — the pointer is a cache of
    * max(v=*), monotone except for that window, and self-heals on the
    * next commit; readers needing exactness can pin a version. The
    * swap goes through a tagged temp and an overwriting rename, so
    * readers never see the pointer absent.
    */
  def advancePointer(fs: FileSystem, path: String, next: Long): Unit = {
    val ptr = new Path(s"$path/_latest")
    if (next > readPointerFile(fs, ptr).getOrElse(0L)) {
      val tmp = new Path(s"$path/_latest.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      out.write(next.toString.getBytes("UTF-8")); out.close()
      Warehouse.overwriteRename(fs, tmp, ptr, s"cannot swap pointer for $path")
    }
  }
}
