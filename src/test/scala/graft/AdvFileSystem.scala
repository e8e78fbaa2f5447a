package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Adversarial object-store model for the durability drills (round-15
  * verdict #1): a local-disk `FileSystem` registered under the
  * `advfs://` scheme that honors the OBJECT-STORE contract and
  * nothing stronger:
  *
  *  - **Renames are non-atomic, overwriting copy+delete.** Both the
  *    `FileSystem.rename` and the `FileContext`/`AbstractFileSystem`
  *    route ([[AdvAbstractFs]]) copy byte-by-byte with deliberate
  *    yields — an existing destination is silently REPLACED, so any
  *    code still trusting `Rename.NONE` as a single-winner commit
  *    corrupts visibly under the drills.
  *  - **Conditional create is honored.** `create(path,
  *    overwrite = false)` is genuinely atomic-exclusive
  *    (`O_EXCL` via `Files.createFile`), modeling S3 conditional
  *    writes (`If-None-Match:*`), GCS `ifGenerationMatch=0`, ABFS
  *    ETag creates — the one primitive the cas commit strategy
  *    declares it relies on. (Stock `RawLocalFileSystem` implements
  *    the `overwrite = false` check as check-then-act, which is
  *    STRONGER-looking but racy — the opposite of what this model
  *    needs on both counts.)
  *
  * Storage is the local path component, so specs can assert on the
  * underlying files with plain java.nio against
  * `path.stripPrefix("advfs://")`.
  *
  * Registered via META-INF/services (FileSystem) and the test
  * `core-site.xml` (`fs.AbstractFileSystem.advfs.impl`, for the
  * FileContext route) — both on the test classpath, so spawned drill
  * JVMs resolve the scheme with no per-call wiring.
  */
class AdvFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "advfs"

  // companion-held constant: getUri is called from the super
  // constructor, before this class's own vals initialize.
  override def getUri: URI = AdvFileSystem.AdvUri

  /** Atomic-exclusive name claim for `overwrite = false` creates —
    * the conditional-PUT model. Parent dirs auto-created (object
    * stores have no real directories to be missing). Covers BOTH
    * public create variants: RawLocalFileSystem routes the
    * non-permission overload directly, not through the permission one.
    */
  private def claimExclusive(f: Path): Unit = {
    val local = pathToFile(f).toPath
    if (local.getParent != null)
      java.nio.file.Files.createDirectories(local.getParent)
    try java.nio.file.Files.createFile(local)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"advfs conditional create: $f already exists")
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite) {
      claimExclusive(f) // the name is claimed atomically; stream into it
      super.create(f, permission, true, bufferSize, replication, blockSize,
        progress)
    } else
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite) {
      claimExclusive(f)
      super.create(f, true, bufferSize, replication, blockSize, progress)
    } else
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)

  /** Object-store rename: copy-then-delete, non-atomic, silently
    * overwriting an existing destination. Returns false only when the
    * source is missing (matching FileSystem.rename's contract shape).
    */
  override def rename(src: Path, dst: Path): Boolean = {
    val s = pathToFile(src)
    if (!s.exists()) return false
    val d = pathToFile(dst)
    AdvFileSystem.copyThenDelete(s, d)
    true
  }

  /** LIST-after-write visibility lag (round-16 verdict #5): when
    * `GRAFT_ADVFS_LAG_MS` (env or `graft.advfs.lag.ms` sysprop) is
    * positive, a listing is served AS OF `lag` ms ago — objects PUT
    * inside the window are hidden, objects DELETED inside it still
    * appear (both directions of a stale LIST on an eventually-
    * consistent store). Point reads (`getFileStatus`/`open`) stay
    * strongly consistent, matching real stores' read-after-write on
    * known keys — a protocol may resolve by KEY, never by LIST
    * freshness.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val all = super.listStatus(f).map(AdvFileSystem.plain)
    val lag = AdvFileSystem.lagMs
    // `_temporary` is the Hadoop committer's staging namespace —
    // lagging ITS listings models the data-plane committer, not the
    // engine: the default FileOutputCommitter discovers task files by
    // LIST and silently commits an EMPTY dir under lag (observed:
    // `_SUCCESS` and no parquet — the precise loss mode that made
    // S3A grow its magic committer, which tracks uploads directly
    // instead of listing). The drills assume a store-safe data-plane
    // committer and point the adversary at what the ENGINE lists.
    if (lag <= 0L || f.toString.contains("_temporary")) all
    else {
      val cutoff = System.currentTimeMillis() - lag
      val visible = all.filter(_.getModificationTime <= cutoff)
      val names = visible.map(_.getPath.getName).toSet
      val phantoms = AdvFileSystem
        .phantomsFor(pathToFile(f).getAbsolutePath, cutoff)
        .filterNot(st => names.contains(st.getPath.getName))
      visible ++ phantoms
    }
  }

  /** Record a pre-delete snapshot so a lagged LIST can keep serving
    * the entry (the stale-listing delete direction).
    */
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (AdvFileSystem.lagMs > 0L) {
      try {
        val st = super.getFileStatus(f)
        AdvFileSystem.recordDelete(
          pathToFile(f).getParentFile.getAbsolutePath, st)
      } catch { case _: java.io.FileNotFoundException => () }
    }
    super.delete(f, recursive)
  }

  /** Negative-result caching (round-16 verdict #5): when
    * `GRAFT_ADVFS_NEG_MS` is positive, a HEAD that 404s poisons that
    * key for the window — a later `getFileStatus` of the SAME key
    * keeps 404ing even after the object lands (the classic S3
    * GET-before-PUT read-after-write loss). Conditional create is
    * NOT consulted (the store's write path is authoritative), so a
    * protocol holding a successful conditional PUT must trust it —
    * or retry its read-back past the cache window.
    */
  override def getFileStatus(f: Path): FileStatus = {
    val neg = AdvFileSystem.negMs
    if (neg <= 0L) return super.getFileStatus(f)
    val key = pathToFile(f).getAbsolutePath
    val until = AdvFileSystem.negCache.get(key)
    if (until != null) {
      if (System.currentTimeMillis() < until)
        throw new java.io.FileNotFoundException(
          s"advfs negative-cached 404: $f")
      AdvFileSystem.negCache.remove(key, until)
    }
    try super.getFileStatus(f)
    catch {
      case e: java.io.FileNotFoundException =>
        AdvFileSystem.negCache.put(key, System.currentTimeMillis() + neg)
        throw e
    }
  }
}

object AdvFileSystem {

  /** `st` without its lazily-loaded permissions. The local file
    * system's own statuses load permission, owner and group on first
    * access through a `java.io.File` of the path, which rejects an
    * `advfs:` URI; building a `LocatedFileStatus` reads all three, so
    * `listFiles(path, recursive = true)` failed on this scheme. An
    * object store has no POSIX permissions to report anyway.
    */
  private[graft] def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)

  private[graft] val AdvUri = URI.create("advfs:///")

  /** Adversary knobs, read per call (env for spawned drill JVMs,
    * sysprop for in-JVM toggling). Zero = mode off (the round-16
    * behavior, unchanged).
    */
  private[graft] def lagMs: Long =
    sys.props.get("graft.advfs.lag.ms")
      .orElse(sys.env.get("GRAFT_ADVFS_LAG_MS")).map(_.toLong).getOrElse(0L)
  private[graft] def negMs: Long =
    sys.props.get("graft.advfs.neg.ms")
      .orElse(sys.env.get("GRAFT_ADVFS_NEG_MS")).map(_.toLong).getOrElse(0L)

  /** key -> poisoned-until epoch ms. */
  private[graft] val negCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** parent abs path -> recent pre-delete snapshots (status, delete
    * time). Bounded by expiry sweep on record.
    */
  private val recentDeletes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[(FileStatus, Long)]]()

  private[graft] def recordDelete(parentAbs: String, st: FileStatus): Unit = {
    val q = recentDeletes.computeIfAbsent(parentAbs,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[(FileStatus, Long)]())
    q.add((st, System.currentTimeMillis()))
    // sweep long-expired entries so the map stays bounded
    val floor = System.currentTimeMillis() - 10 * math.max(1000L, lagMs)
    val it = q.iterator()
    while (it.hasNext) if (it.next()._2 < floor) it.remove()
  }

  /** Entries deleted AFTER `cutoff` (still visible to a lagged LIST). */
  private[graft] def phantomsFor(parentAbs: String, cutoff: Long): Array[FileStatus] = {
    val q = recentDeletes.get(parentAbs)
    if (q == null) Array.empty
    else {
      val b = Array.newBuilder[FileStatus]
      val it = q.iterator()
      while (it.hasNext) {
        val (st, t) = it.next()
        if (t > cutoff) b += st
      }
      b.result()
    }
  }

  /** Non-atomic copy+delete with deliberate scheduling yields between
    * chunks — wide enough windows that a protocol reading mid-"rename"
    * observes partial state, as it would on a real store's multipart
    * copy.
    */
  private[graft] def copyThenDelete(s: java.io.File, d: java.io.File): Unit = {
    if (s.isDirectory) {
      d.mkdirs()
      val kids = Option(s.listFiles()).toSeq.flatten.sortBy(_.getName)
      kids.foreach { k => copyThenDelete(k, new java.io.File(d, k.getName)) }
      s.delete()
    } else {
      if (d.exists()) d.delete() // overwrite: the object-store PUT-wins model
      Option(d.getParentFile).foreach(_.mkdirs())
      val in = new java.io.FileInputStream(s)
      val out = new java.io.FileOutputStream(d)
      try {
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n)
          Thread.`yield`() // widen the visible-partial-state window
          n = in.read(buf)
        }
      } finally { in.close(); out.close() }
      s.delete()
    }
  }
}

/** The `FileContext` route to [[AdvFileSystem]]. The default
  * `AbstractFileSystem.rename(…, Rename.NONE)` performs a
  * check-then-act existence probe and then delegates here — exactly an
  * object store's behavior; this delegate additionally makes the
  * underlying move a non-atomic overwriting copy+delete, so NO rename
  * through FileContext retains any commit-worthy guarantee.
  */
class AdvAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new AdvFileSystem, conf, "advfs", false) {

  override def renameInternal(src: Path, dst: Path): Unit = {
    val raw = fsImpl.asInstanceOf[AdvFileSystem]
    raw.rename(src, dst)
  }

  /** Ignore the overwrite flag entirely — `Rename.NONE` has no
    * enforceable meaning on an object store's copy+delete.
    */
  override def renameInternal(src: Path, dst: Path,
      overwrite: Boolean): Unit =
    renameInternal(src, dst)
}
