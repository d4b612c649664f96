package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The two atomic metadata operations the versioned-table commit protocol
  * actually needs, abstracted over what the storage can do — the same
  * factoring Delta Lake's LogStore uses: DATA files are the committer's
  * problem (object-store-safe committers exist independently); what the
  * TABLE protocol must own is (a) claiming a commit-log sequence exactly
  * once across concurrent writers and (b) refreshing small pointer/cache
  * files without a half-written read window.
  *
  * Two implementations:
  *
  *  - [[RenameCommit]] — POSIX/HDFS-class stores: claim by hard link
  *    (local, link(2) fails EEXIST) or rename-no-overwrite (HDFS
  *    namespace), overwrite by tmp + OVERWRITE rename. The historical
  *    behavior, and still the default for `file`/`hdfs` schemes.
  *  - [[ConditionalCommit]] — S3-class object stores, which have NEITHER
  *    atomic rename NOR hard links but DO have conditional writes
  *    (`If-None-Match: *` PUT — standard on S3, GCS and Azure): claim by
  *    conditional create of the final object, overwrite by plain PUT
  *    (whole-object visibility is the store's contract). No staging
  *    directory rename exists, so [[VersionedTable.publishVia]] stages
  *    IN PLACE under the final version-directory name — safe because
  *    visibility is governed by the commit-log claim, never by directory
  *    existence: an uncommitted version dir is exactly the same orphan
  *    state as a rename-mode publish that crashed between its staging
  *    rename and its claim, which the resolve/retention/vacuum paths
  *    already ignore.
  *
  * Selection ([[CommitPrimitive.forPath]]) is by the root's scheme alone:
  * `file:` (and scheme-less) paths always take [[RenameCommit]]; the
  * object-store schemes (`s3a`, `gs`, `abfs`, ...) plus any listed in
  * `graft.reftable.commit.conditional.schemes` take [[ConditionalCommit]];
  * every other scheme (`hdfs`, ...) takes [[RenameCommit]]. Callers never
  * pick rename vs conditional themselves.
  *
  * Out of scope, by design: one-time quiesced migrations
  * ([[VersionedTable.adopt]]) and catalog RENAME TABLE still require a
  * rename-capable store, and the sharded-stats splice falls back to a
  * rename swap — all post-publish maintenance, never the commit path.
  */
sealed trait CommitPrimitive {
  /** Atomically create `dst` with exactly `content` iff `dst` does not
    * exist. True iff THIS caller created it — the primitive the commit
    * log's sequence claim (and CREATE TABLE's descriptor claim) rests on.
    */
  def putIfAbsent(dst: Path, content: Array[Byte], conf: Configuration): Boolean

  /** Replace (or create) `dst` with `content`, never observable
    * half-written by readers. Best-effort callers (pointer cache) swallow
    * failures themselves.
    */
  def overwrite(dst: Path, content: Array[Byte], conf: Configuration): Unit

  /** Whether the store renames a populated directory atomically into its
    * final name. False routes [[VersionedTable.publishVia]] to in-place
    * staging.
    */
  def atomicDirRename: Boolean
}

/** Rename/link-based primitive for POSIX and HDFS-class namespaces. */
object RenameCommit extends CommitPrimitive {
  val atomicDirRename = true

  private def fc(conf: Configuration): FileContext = FileContext.getFileContext(conf)

  /** Hard link on local POSIX ([[LocalFs.claim]]), rename-no-overwrite
    * elsewhere (atomic in the HDFS-class namespace).
    * The tmp sibling is consumed or deleted either way.
    */
  def putIfAbsent(dst: Path, content: Array[Byte], conf: Configuration): Boolean =
    if (LocalFs.isLocal(dst)) LocalFs.claim(dst, content)
    else {
      val fs = dst.getFileSystem(conf)
      val tmp = new Path(dst.getParent,
        s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      try { fc(conf).rename(tmp, dst); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          fs.delete(tmp, false); false
      }
    }

  /** Local scheme: NIO tmp + rename(2) — atomic replace, no forks (and no
    * delete-then-rename missing-file window, which the retry loop below
    * exists to paper over). Elsewhere: tmp + OVERWRITE rename, retried
    * briefly, then surfaced (best-effort callers catch).
    */
  def overwrite(dst: Path, content: Array[Byte], conf: Configuration): Unit = {
    if (LocalFs.isLocal(dst)) return LocalFs.overwriteAtomic(dst, content)
    val fs = dst.getFileSystem(conf)
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(content) finally out.close()
    var attempts = 0
    while (true) {
      try {
        fc(conf).rename(tmp, dst, Options.Rename.OVERWRITE)
        return
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (attempts >= 10) { fs.delete(tmp, false); throw e }
          Thread.sleep(5L * attempts)
      }
    }
  }
}

/** Conditional-write primitive for stores without rename or links.
  *
  * The store contract is a conditional create: an attempt to create an
  * object that already exists must FAIL ATOMICALLY (S3 `If-None-Match: *`,
  * GCS `ifGenerationMatch=0`, Azure `If-None-Match`). Every call goes
  * through `FileSystem.create(dst, overwrite = ...)`, which the store's
  * Hadoop connector maps to its conditional write or whole-object PUT; a
  * connector whose non-overwrite create is check-then-act does NOT satisfy
  * the contract (use [[RenameCommit]] there if the namespace renames
  * atomically). [[CommitPrimitive.forPath]] never selects this primitive
  * for a `file:` path, whose local create is check-then-act.
  */
object ConditionalCommit extends CommitPrimitive {
  val atomicDirRename = false

  def putIfAbsent(dst: Path, content: Array[Byte], conf: Configuration): Boolean = {
    // a lost conditional write can surface at create OR at close (object
    // stores report the precondition failure at PUT completion — S3's
    // 412 arrives when the upload finishes)
    val fs = dst.getFileSystem(conf)
    try {
      val out = fs.create(dst, false)
      try out.write(content) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException if fs.exists(dst) => false
    }
  }

  /** Plain whole-object PUT: atomic on object stores (their visibility
    * contract), which is the store class this primitive exists for.
    */
  def overwrite(dst: Path, content: Array[Byte], conf: Configuration): Unit = {
    val fs = dst.getFileSystem(conf)
    val out = fs.create(dst, true)
    try out.write(content) finally out.close()
  }
}

object CommitPrimitive {
  /** Comma-separated extra schemes to treat as conditional-write stores
    * (e.g. a vendor connector, or a test filesystem modeling one).
    */
  val ExtraSchemesKey = "graft.reftable.commit.conditional.schemes"

  /** Schemes whose stores have no atomic rename but do have conditional
    * writes — they select [[ConditionalCommit]] without configuration.
    */
  private val ConditionalSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "oss", "cos", "wasb", "wasbs")

  /** The primitive for `p`'s store, chosen by scheme (see the
    * [[CommitPrimitive]] "Selection" paragraph).
    */
  def forPath(p: Path, conf: Configuration): CommitPrimitive =
    if (LocalFs.isLocal(p)) RenameCommit
    else {
      val scheme = p.toUri.getScheme
      val extra = conf.get(ExtraSchemesKey, "")
        .split(',').map(_.trim).filter(_.nonEmpty).toSet
      if (ConditionalSchemes(scheme) || extra(scheme)) ConditionalCommit
      else RenameCommit
    }
}
