package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.reftable.{LocalFs, RenameCommit}
import graft.streaming.LocalAtomicCheckpointFileManager

/** The `file:`-scheme NIO fast paths (LocalFs, RenameCommit's local
  * branches, LocalAtomicCheckpointFileManager) replace Hadoop local-
  * connector calls that fork subprocesses per operation. These specs pin
  * the SEMANTICS the replaced calls provided: atomic replace, parent
  * creation, claim-exactly-once, the no-overwrite rename failure mode the
  * streaming metadata logs rely on, and stale-`.crc` hygiene.
  */
class LocalFsFastPathSpec extends AnyFunSuite {

  private def tmpDir(): java.nio.file.Path =
    Files.createTempDirectory("graft_localfs_spec_")

  test("overwriteAtomic replaces content and drops a stale checksum sidecar") {
    val d = tmpDir()
    val dst = new Path(d.resolve("ptr").toString)
    // simulate a previous ChecksumFileSystem writer: content + .crc sidecar
    Files.write(d.resolve("ptr"), "old".getBytes)
    Files.write(d.resolve(".ptr.crc"), Array[Byte](1, 2, 3))
    LocalFs.overwriteAtomic(dst, "new".getBytes)
    assert(new String(Files.readAllBytes(d.resolve("ptr"))) == "new")
    assert(!Files.exists(d.resolve(".ptr.crc")),
      "stale .crc must be dropped or a checksummed reader would mismatch")
    // and a checksummed Hadoop read agrees (no stale-crc failure)
    val fs = dst.getFileSystem(new Configuration())
    val in = fs.open(dst)
    val buf = new Array[Byte](3)
    try in.readFully(buf) finally in.close()
    assert(new String(buf) == "new")
  }

  test("createWrite creates missing parent directories like fs.create did") {
    val d = tmpDir()
    val dst = new Path(d.resolve("a/b/c/manifest.json").toString)
    val fs = dst.getFileSystem(new Configuration())
    LocalFs.createWrite(fs, dst, "{}".getBytes)
    assert(new String(Files.readAllBytes(d.resolve("a/b/c/manifest.json"))) == "{}")
  }

  test("moveNoReplace renames dirs and refuses an existing destination") {
    val d = tmpDir()
    Files.createDirectories(d.resolve("staging"))
    Files.write(d.resolve("staging/x"), "x".getBytes)
    LocalFs.moveNoReplace(new Path(d.resolve("staging").toString),
      new Path(d.resolve("v1").toString))
    assert(Files.exists(d.resolve("v1/x")) && !Files.exists(d.resolve("staging")))
    Files.createDirectories(d.resolve("staging2"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      LocalFs.moveNoReplace(new Path(d.resolve("staging2").toString),
        new Path(d.resolve("v1").toString))
    }
  }

  test("putIfAbsent claims exactly once under contention (local NIO branch)") {
    val d = tmpDir()
    val dst = new Path(d.resolve("00001").toString)
    val conf = new Configuration()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val futures = (1 to 16).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean =
          RenameCommit.putIfAbsent(dst, s"writer$i".getBytes, conf)
      })
    }
    val wins = futures.count(_.get())
    pool.shutdown()
    assert(wins == 1, s"exactly one concurrent claimant must win, got $wins")
    // no tmp litter
    import scala.jdk.CollectionConverters._
    val leftover = Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(leftover == Seq("00001"), s"tmp siblings must be consumed, got $leftover")
  }

  test("checkpoint manager: atomic write, no-overwrite failure mode, list/exists/delete") {
    val d = tmpDir()
    val conf = new Configuration()
    val mgr = new LocalAtomicCheckpointFileManager(new Path(d.toString), conf)
    // createAtomic + close lands the final file (the RenameBased stream
    // drives createTempFile + renameTempFile)
    val out = mgr.createAtomic(new Path(d.resolve("offsets/0").toString), false)
    out.write("v1".getBytes); out.close()
    assert(new String(Files.readAllBytes(d.resolve("offsets/0"))) == "v1")
    // renameTempFile with overwrite=false must fail on an existing dst
    // with Hadoop's FileAlreadyExistsException — the type Spark's
    // RenameBasedFSDataOutputStream.close catches (it treats the loss as
    // "another writer committed this batch" and must NOT clobber)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      val t = d.resolve(".0.tmp")
      Files.write(t, "v2".getBytes)
      mgr.renameTempFile(new Path(t.toString),
        new Path(d.resolve("offsets/0").toString), false)
    }
    // and the full createAtomic(overwrite=false) round-trip of a losing
    // writer behaves EXACTLY like the stock FileContext manager: close
    // surfaces FileAlreadyExistsException and the winner's content stays
    val stock = new org.apache.spark.sql.execution.streaming.checkpointing
      .FileContextBasedCheckpointFileManager(new Path(d.toString), conf)
    Seq(mgr, stock).foreach { m =>
      val o = m.createAtomic(new Path(d.resolve("offsets/0").toString), false)
      o.write("v2".getBytes)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { o.close() }
      assert(new String(Files.readAllBytes(d.resolve("offsets/0"))) == "v1")
    }
    // overwrite=true replaces
    val out3 = mgr.createAtomic(new Path(d.resolve("offsets/0").toString), true)
    out3.write("v3".getBytes); out3.close()
    assert(new String(Files.readAllBytes(d.resolve("offsets/0"))) == "v3")
    assert(mgr.exists(new Path(d.resolve("offsets/0").toString)))
    // filter like HDFSMetadataLog's batchFilesFilter: losing writers'
    // orphaned tmp siblings (dot-prefixed, stock-equivalent litter) hide
    val listed = mgr.list(new Path(d.resolve("offsets").toString),
      new org.apache.hadoop.fs.PathFilter {
        def accept(p: Path) = !p.getName.startsWith(".")
      })
    assert(listed.map(_.getPath.getName).toSeq == Seq("0"))
    assert(listed.head.getLen == 2)
    mgr.delete(new Path(d.resolve("offsets").toString))
    assert(!mgr.exists(new Path(d.resolve("offsets").toString)))
  }

  test("linkOrCopy hard-links on one device and copies across devices") {
    val d = tmpDir()
    val conf = new Configuration()
    Files.write(d.resolve("src"), "bytes".getBytes)
    LocalFs.linkOrCopy(new Path(d.resolve("src").toString),
      new Path(d.resolve("same").toString), conf)
    assert(Files.isSameFile(d.resolve("src"), d.resolve("same")))
    val shm = Paths.get("/dev/shm")
    assume(Files.isDirectory(shm) && Files.isWritable(shm) &&
      Files.getFileStore(shm) != Files.getFileStore(d),
      "needs a writable /dev/shm on a different filesystem than the temp dir")
    val other = Files.createTempDirectory(shm, "graft_localfs_xdev_")
    try {
      LocalFs.linkOrCopy(new Path(d.resolve("src").toString),
        new Path(other.resolve("copy").toString), conf)
      assert(new String(Files.readAllBytes(other.resolve("copy"))) == "bytes")
      assert(!Files.isSameFile(d.resolve("src"), other.resolve("copy")))
    } finally {
      Files.list(other).forEach(f => Files.delete(f))
      Files.delete(other)
    }
  }
}
