package graft.streaming

import java.nio.file.{Files, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.sources.reftable.LocalFs

/** Spark's default streaming [[CheckpointFileManager]] drives every
  * checkpoint file — offset log, commit log, and EVERY state-store delta/
  * snapshot of every stateful partition of every micro-batch — through the
  * Hadoop FileContext stack. On the `file:` scheme without native libhadoop
  * that stack shells out to subprocesses (`readlink`/permission commands)
  * per operation: measured on this host, ~28 ms per rename and ~8 ms per
  * create/getFileStatus, versus microseconds for the syscalls underneath
  * (see `graft.sources.reftable.LocalFs`). A single tiny stateful
  * micro-batch at 32 shuffle partitions pays 32 concurrent
  * create+rename pairs for its state deltas plus the offset/commit log
  * writes — most of a small stream's wall time is Hadoop forking.
  *
  * This manager keeps the FileContext implementation for any non-local
  * scheme (a real cluster's HDFS/S3 connectors never fork) and routes the
  * local scheme through NIO:
  *
  *  - `createTempFile`/`renameTempFile` (the atomic-write primitive used
  *    by `createAtomic`): NIO stream + rename(2). `ATOMIC_MOVE` is a real
  *    atomic replace — stronger than the local FileContext OVERWRITE
  *    rename it replaces (ChecksumFs deletes then renames). The
  *    no-overwrite variant throws Hadoop's `FileAlreadyExistsException`
  *    exactly like `fc.rename(..., NONE)`, which `HDFSMetadataLog` relies
  *    on to detect a concurrent batch writer.
  *  - `exists`/`delete`/`mkdirs`/`list`: direct NIO equivalents (the
  *    FileContext versions load link/permission status via subprocess).
  *
  * Results are unaffected: checkpoint file CONTENT and layout are
  * byte-identical, only the syscall path changes. Selected via
  * `spark.sql.streaming.checkpointFileManagerClass` (see
  * [[StreamDefaults.ensure]]); an explicit user setting wins.
  */
class LocalAtomicCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {

  private val local: Boolean = LocalFs.isLocal(path)

  override def createTempFile(tmp: Path): FSDataOutputStream = {
    if (!local) return super.createTempFile(tmp)
    val t = LocalFs.nio(tmp)
    LocalFs.ensureParent(t)
    new FSDataOutputStream(
      Files.newOutputStream(t, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE), null)
  }

  /** `moveNoReplace` surfaces a loss as Hadoop's
    * `FileAlreadyExistsException`, exactly like `fc.rename(NONE)` — the
    * type Spark's checkpoint streams catch to detect a concurrent batch
    * writer without clobbering it.
    */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else if (overwriteIfPossible) LocalFs.moveReplace(src, dst)
    else LocalFs.moveNoReplace(src, dst)

  override def exists(p: Path): Boolean =
    if (!local) super.exists(p) else Files.exists(LocalFs.nio(p))

  override def mkdirs(p: Path): Unit =
    if (!local) super.mkdirs(p) else { Files.createDirectories(LocalFs.nio(p)); () }

  override def delete(p: Path): Unit =
    if (!local) super.delete(p)
    else {
      val root = LocalFs.nio(p)
      if (Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        val all = Files.walk(root)
        try all.iterator().asScala.toSeq.reverseIterator
          .foreach(f => Files.deleteIfExists(f))
        finally all.close()
      }
    }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    if (!local) return super.list(p, filter)
    val dir = LocalFs.nio(p)
    if (!Files.isDirectory(dir)) {
      // single file, or missing: match the FileContext behavior (a missing
      // path surfaces as FileNotFoundException from listStatus)
      return super.list(p, filter)
    }
    val stream = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.flatMap { f =>
        val hp = new Path(p, f.getFileName.toString)
        if (!filter.accept(hp)) None
        else {
          val attrs = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
          Some(new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
            attrs.lastModifiedTime().toMillis, hp))
        }
      }.toArray
    } finally stream.close()
  }
}

/** Session default: route streaming checkpoints through
  * [[LocalAtomicCheckpointFileManager]] unless the user configured a
  * manager explicitly. The manager self-guards per checkpoint path — any
  * non-`file:` scheme takes the stock FileContext implementation — so the
  * session-wide default is deployment-safe.
  */
object StreamDefaults {
  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  def ensure(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty)
      spark.conf.set(Key, classOf[LocalAtomicCheckpointFileManager].getName)
}
