package graft.etl

/** The storage seam of the versioned log's claim-then-commit publish:
  * everything [[StarBuilder.commitSnapshot]] needs from the filesystem
  * is these two CONDITIONAL-CREATE primitives. POSIX supplies them as
  * atomic rename-no-replace and O_EXCL file creation
  * ([[RenameCommitProtocol]]); an object store supplies them as
  * conditional PUTs (`If-None-Match: *` — S3/GCS/ABFS all have it),
  * which [[ConditionalPutCommitProtocol]] models so the SAME protocol
  * logic is exercised against both shapes by the concurrency specs.
  * The protocol logic above this seam (claim-next-free loops, exact-
  * successor refusal, orphan recovery, crash-window reasoning) is
  * storage-agnostic and lives in [[StarBuilder.commitSnapshot]].
  */
trait CommitProtocol {
  /** Atomically claim the snapshot directory name `v=<v>` for the
    * fully-staged `txn` dir: true iff THIS caller won the name and the
    * staged content now lives at `v=<v>`; false iff the name was
    * already taken (lost race / pre-existing claim) and `txn` is left
    * untouched. Any other failure throws. */
  def claimVersion(warehouse: String, txn: java.io.File, v: Long): Boolean

  /** Atomically publish the commit record `_log/<v>.commit` with
    * `payload` as its body: true iff this caller created it, false iff
    * it already existed. */
  def putCommitMarker(warehouse: String, v: Long, payload: Array[Byte]): Boolean
}

/** The POSIX implementation — rename(2) without replace is the atomic
  * claim (two movers into one target: exactly one wins), O_EXCL
  * creation the atomic marker. This is the single-filesystem default;
  * no mutex needed because the kernel IS the arbiter. */
object RenameCommitProtocol extends CommitProtocol {
  override def claimVersion(warehouse: String, txn: java.io.File, v: Long): Boolean = {
    val target = new java.io.File(warehouse, s"v=$v")
    try {
      java.nio.file.Files.move(txn.toPath, target.toPath)
      true
    } catch {
      // a lost claim surfaces as FileAlreadyExists from the pre-check,
      // OR as the raw rename(2) ENOTEMPTY — on Linux a generic
      // FileSystemException, not the DirectoryNotEmptyException
      // subclass. Classify by the target: if v=<n> now exists, a
      // concurrent writer won the race; anything else is a real error.
      case e: java.nio.file.FileSystemException =>
        if (target.exists()) false else throw e
    }
  }

  override def putCommitMarker(warehouse: String, v: Long,
      payload: Array[Byte]): Boolean = {
    val log = new java.io.File(s"$warehouse/_log")
    log.mkdirs()
    PosixAtomic.createWithContent(
      new java.io.File(log, s"$v.commit").toPath, payload)
  }
}

/** CONTENT-atomic create-if-absent on POSIX: a plain O_EXCL
  * `Files.write` is name-atomic but not content-atomic — a reader
  * racing the commit could observe a partially written numeric body
  * ("17" of "1723…"), which parses as a near-1970 commit instant and
  * transiently corrupts TIMESTAMP-AS-OF resolution. Writing the
  * full payload to a temp name and `link(2)`-ing it into place keeps
  * BOTH properties: link fails EEXIST atomically when the target is
  * already claimed, and a target that exists always has its complete
  * body (the inode is fully written before it gains the visible name). */
private[etl] object PosixAtomic {
  /** Per-directory link(2) support: a transient I/O error (EIO, quota,
    * EPERM-of-the-moment) on a link-capable filesystem must SURFACE,
    * not silently downgrade the content-atomicity guarantee — only a
    * directory whose own probe link fails is treated as link-less.
    * Only the POSITIVE verdict is cached: a probe that fails during the
    * same transient condition that tripped the caller must not pin
    * "link-less" for the JVM's lifetime — the next call re-probes, so
    * the degraded path persists only while the failure does. */
  private val linkSupport =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def linksSupported(dir: java.nio.file.Path): Boolean = {
    if (linkSupport.containsKey(dir.toString)) return true
    val ok =
      try {
        val probe = java.nio.file.Files.createTempFile(dir, ".linkprobe", ".tmp")
        val lnk = probe.resolveSibling(probe.getFileName.toString + ".lnk")
        try { java.nio.file.Files.createLink(lnk, probe); true }
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException => false
        } finally {
          java.nio.file.Files.deleteIfExists(lnk)
          java.nio.file.Files.deleteIfExists(probe)
        }
      } catch { case _: java.io.IOException => false }
    if (ok) linkSupport.put(dir.toString, java.lang.Boolean.TRUE)
    ok
  }

  def createWithContent(target: java.nio.file.Path, payload: Array[Byte]): Boolean = {
    // link-less filesystem (FUSE object-store mount, VFAT): degrade to
    // a plain O_EXCL write — name-atomic but not content-atomic;
    // history()'s epoch range check covers the partial-body window as
    // defense in depth
    def degraded(): Boolean =
      try {
        java.nio.file.Files.write(target, payload,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    try {
      // the staging write sits INSIDE the cleanup scope: a disk-full /
      // crash mid-write must not leave an orphaned tmp per retry
      java.nio.file.Files.write(tmp, payload)
      try {
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException => degraded()
        case e: java.nio.file.FileSystemException =>
          // only degrade when the DIRECTORY is link-less; a transient
          // error on a link-capable filesystem propagates
          if (!linksSupported(target.getParent)) degraded() else throw e
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

/** The object-store shape: each primitive is a conditional PUT — probe
  * the name, create it only if absent, with the probe+put made atomic
  * PER KEY. On S3/GCS/ABFS that atomicity is server-side
  * (`If-None-Match: *` / x-ms-if-none-match); here it is modeled by a
  * per-key mutex so the protocol logic runs against the exact
  * conditional-PUT contract: no rename anywhere, deletes (orphan
  * recovery, vacuum) free the name again because the STORE stays the
  * ground truth — there is no side-channel state to reconcile.
  * Instantiate one per test/deployment; the key space is scoped to the
  * instance. */
final class ConditionalPutCommitProtocol extends CommitProtocol {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def locked[T](key: String)(body: => T): T =
    locks.computeIfAbsent(key, _ => new Object).synchronized(body)

  override def claimVersion(warehouse: String, txn: java.io.File, v: Long): Boolean =
    locked(s"$warehouse#v=$v") {
      val target = new java.io.File(warehouse, s"v=$v")
      if (target.exists()) false
      else {
        // the winner's materialization is uncontended by construction
        // (it holds the name): an object store would now copy the
        // staged objects under the claimed prefix / write the manifest
        java.nio.file.Files.move(txn.toPath, target.toPath)
        true
      }
    }

  override def putCommitMarker(warehouse: String, v: Long,
      payload: Array[Byte]): Boolean =
    locked(s"$warehouse#commit=$v") {
      val log = new java.io.File(s"$warehouse/_log")
      log.mkdirs()
      val marker = new java.io.File(log, s"$v.commit")
      if (marker.exists()) false
      else {
        // a conditional PUT is content-atomic server-side; model that
        // for the lock-free READERS too — stage the body and move it
        // into the visible name in one step. The finally-cleanup keeps
        // a failure between write and move from leaving an orphaned
        // .tmp in _log for the next writer to trip over.
        val tmp = new java.io.File(log, s".$v.commit.tmp").toPath
        try {
          java.nio.file.Files.write(tmp, payload)
          java.nio.file.Files.move(tmp, marker.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally java.nio.file.Files.deleteIfExists(tmp)
        true
      }
    }
}
