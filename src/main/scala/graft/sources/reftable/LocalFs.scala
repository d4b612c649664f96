package graft.sources.reftable

import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileUtil, Path}

/** The syscall path for METADATA operations: java.nio on the `file:`
  * scheme, the Hadoop connector everywhere else. This object is the one
  * place that tests a path's scheme for that choice; callers either use its
  * dispatching helpers (`createWrite`, `renameNoReplace`, `linkOrCopy`) or
  * branch on [[isLocal]] themselves.
  *
  * Hadoop's local connector (Checksum/RawLocalFileSystem and the
  * FileContext stack above it) shells out to subprocesses (`readlink`,
  * permission commands via `org.apache.hadoop.util.Shell`) whenever
  * libhadoop's native bindings are absent, as on plain-JRE hosts. Measured
  * with a JVM microbench (no Spark) on such a host:
  * `FileContext.rename(OVERWRITE)` ≈ 28 ms and `fs.create+close` ≈ 8 ms
  * per call versus ~0.02 ms for the underlying syscalls. The publish
  * protocol performs a handful of these per commit, so every publish paid
  * ~80 ms of pure fork overhead — driver-side commit latency that a real
  * cluster's HDFS/S3 connectors do not have (they never fork).
  *
  * The NIO-only helpers (`write`, `overwriteAtomic`, `moveNoReplace`,
  * `moveReplace`, `claim`) are for local paths only; callers keep the
  * Hadoop-connector path for any non-local scheme.
  *
  * Checksum sidecars: NIO writes never create ChecksumFileSystem `.crc`
  * sidecars. A stale sidecar left by a previous checksummed writer of the
  * SAME path would make a later checksummed read fail, so the write/move
  * helpers drop any `.name.crc` sibling of the destination.
  */
private[graft] object LocalFs {

  def isLocal(p: Path): Boolean = {
    val s = p.toUri.getScheme
    s == null || s == "file"
  }

  def nio(p: Path): java.nio.file.Path =
    Paths.get(Option(p.toUri.getPath).getOrElse(p.toString))

  private def crcOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling("." + p.getFileName.toString + ".crc")

  private def dropCrc(p: java.nio.file.Path): Unit =
    try { Files.deleteIfExists(crcOf(p)); () }
    catch { case _: java.io.IOException => () }

  /** `fs.create` creates missing parent directories implicitly; the NIO
    * write paths must do the same.
    */
  def ensureParent(p: java.nio.file.Path): Unit = {
    val parent = p.getParent
    if (parent != null && !Files.exists(parent)) { Files.createDirectories(parent); () }
  }

  /** Plain create-or-truncate write (not atomic — for fresh staging paths
    * no reader can see yet, e.g. manifests inside an unpublished version
    * directory).
    */
  def write(dst: Path, content: Array[Byte]): Unit = {
    val d = nio(dst)
    ensureParent(d)
    Files.write(d, content,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    dropCrc(d)
  }

  /** Atomic replace-or-create of `dst` with `content`: tmp sibling +
    * rename(2). Stronger than the Hadoop local path it replaces (whose
    * ChecksumFs OVERWRITE rename is delete-then-rename with a
    * missing-file window).
    */
  def overwriteAtomic(dst: Path, content: Array[Byte]): Unit = {
    val d = nio(dst)
    ensureParent(d)
    val tmp = d.resolveSibling("." + d.getFileName.toString + ".tmp" + System.nanoTime())
    Files.write(tmp, content,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    replace(tmp, d)
  }

  /** Create-or-truncate `dst` with `content`, NIO on the local scheme,
    * `fs.create` elsewhere — the drop-in for the small metadata-file
    * writes (manifests, markers) the publish path does per commit.
    */
  def createWrite(
      fs: org.apache.hadoop.fs.FileSystem, dst: Path, content: Array[Byte]): Unit =
    if (isLocal(dst)) write(dst, content)
    else {
      val out = fs.create(dst, true)
      try out.write(content) finally out.close()
    }

  /** rename(2) of a file or directory into a non-existing destination.
    * Fails with Hadoop's `FileAlreadyExistsException` if `dst` exists
    * (checked, like the Hadoop local rename it replaces — local FileContext
    * rename(NONE) is equally check-then-act).
    */
  def moveNoReplace(src: Path, dst: Path): Unit = {
    val s = nio(src)
    val d = nio(dst)
    if (Files.exists(d))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(dst.toString)
    Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    dropCrc(d)
  }

  /** rename(2) of `src` over `dst`: an atomic replace, no missing-file
    * window (unlike the local FileContext OVERWRITE rename, which deletes
    * then renames).
    */
  def moveReplace(src: Path, dst: Path): Unit = replace(nio(src), nio(dst))

  private def replace(s: java.nio.file.Path, d: java.nio.file.Path): Unit = {
    Files.move(s, d, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    dropCrc(d)
  }

  /** Create `dst` with exactly `content` iff it does not exist; true iff
    * THIS caller created it. Tmp sibling + link(2), which is atomic and
    * fails EEXIST — the local FileContext rename(NONE) and
    * create(overwrite=false) are both check-then-act and can silently
    * replace a concurrent winner. The tmp sibling is deleted either way.
    */
  def claim(dst: Path, content: Array[Byte]): Boolean = {
    val d = nio(dst)
    ensureParent(d)
    val tmp = d.resolveSibling(s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    Files.write(tmp, content, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try { Files.createLink(d, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Rename into a fresh name: rename(2) on the local scheme, FileContext
    * rename(NONE) elsewhere. Either way an existing `dst` fails the call.
    */
  def renameNoReplace(src: Path, dst: Path, conf: Configuration): Unit =
    if (isLocal(src)) moveNoReplace(src, dst)
    else FileContext.getFileContext(conf).rename(src, dst)

  /** Give `dst` the bytes of `src`: a hard link when both are local (zero
    * bytes copied, and the bytes outlive either name), else a copy through
    * the Hadoop connectors. A local link that link(2) refuses — across
    * devices (EXDEV), on a filesystem without hard links, under a security
    * manager — falls back to the copy too.
    */
  def linkOrCopy(src: Path, dst: Path, conf: Configuration): Unit = {
    val linked = isLocal(src) && isLocal(dst) && {
      try { Files.createLink(nio(dst), nio(src)); true }
      catch {
        case _: UnsupportedOperationException | _: SecurityException |
            _: FileSystemException => false
      }
    }
    if (!linked)
      FileUtil.copy(src.getFileSystem(conf), src, dst.getFileSystem(conf), dst, false, conf)
  }
}
