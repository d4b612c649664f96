package graft

import java.nio.file.Files

import graft.sources.reftable.{Layout, RefTableMutations, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** Lost-update protection for read-modify-write publishes: the commit
  * log's atomic sequence claim as a compare-and-swap, lineage recorded in
  * commit records, and the optimistic retry that serializes concurrent
  * appends and mutations.
  */
class RefTableConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()
  private val ddl = "id BIGINT, name STRING"

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_conc_$name")
    Files.delete(d)
    d.toString
  }

  private def readIds(root: String): Seq[Long] = spark.read.format("reftable")
    .option("path", root).option("schema", ddl).load()
    .orderBy("id").collect().map(_.getLong(0)).toSeq

  private def append(root: String, rows: Seq[(Long, String)], keep: Int = 3): Unit = {
    import spark.implicits._
    rows.toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("keepVersions", keep.toString).mode("append").save()
  }

  test("commits record lineage: append's parent is the base it derived from") {
    import spark.implicits._
    val root = tmpDir("lineage")
    Seq((1L, "a")).toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl).mode("overwrite").save()
    val log1 = VersionedTable.commitLog(root, conf)
    assert(log1.size == 1 && log1.head.parent.isEmpty,
      "an overwrite derives from nothing — no parent recorded")
    val v1 = log1.head.version

    append(root, Seq((2L, "b")))
    val log2 = VersionedTable.commitLog(root, conf)
    assert(log2.map(_.seq) == Seq(1L, 2L), "sequences are dense and ordered")
    assert(log2.last.parent.contains(v1), "the append's commit names its base")
    assert(VersionedTable.parentOf(root, log2.last.version, conf).contains(v1))
    assert(VersionedTable.resolve(root, conf).exists(_.endsWith(log2.last.version)))
  }

  test("the commit CAS rejects a derived publish whose base is stale") {
    import spark.implicits._
    val root = tmpDir("cas")
    val base = VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), root)
    // a concurrent writer advances the table past our base
    VersionedTable.publish(Seq((2L, "b")).toDF("id", "name"), root, parent = Some(base))
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.publish(Seq((3L, "c")).toDF("id", "name"), root,
        parent = Some(base), requireBase = true)
    }
    // nothing of the losing publish was committed, and no orphan dir remains
    assert(VersionedTable.commitLog(root, conf).size == 2)
    assert(VersionedTable.versionDirs(root, conf).size == 2)
  }

  test("withConflictRetry re-derives after a lost CAS and then succeeds") {
    import spark.implicits._
    val root = tmpDir("retry")
    VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), root)
    var attempts = 0
    val won = VersionedTable.withConflictRetry(root) { () =>
      attempts += 1
      val cur = VersionedTable.resolve(root, conf).map(p =>
        new org.apache.hadoop.fs.Path(p).getName)
      if (attempts == 1) {
        // a concurrent writer commits between our read and our publish:
        // the CAS must reject us, and the retry re-reads the new current
        VersionedTable.publish(Seq((9L, "z")).toDF("id", "name"), root)
      }
      VersionedTable.publish(Seq((2L, "b")).toDF("id", "name"), root,
        parent = cur, requireBase = true)
    }
    assert(attempts == 2, "first attempt lost the CAS; the retry must re-run")
    assert(VersionedTable.resolve(root, conf).exists(_.endsWith(won)))
  }

  test("withConflictRetry gives up loudly under unbounded contention") {
    import spark.implicits._
    val root = tmpDir("giveup")
    VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), root)
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.withConflictRetry(root, maxAttempts = 2) { () =>
        val cur = VersionedTable.resolve(root, conf).map(p =>
          new org.apache.hadoop.fs.Path(p).getName)
        // someone always beats us to the next sequence
        VersionedTable.publish(Seq((9L, "z")).toDF("id", "name"), root)
        VersionedTable.publish(Seq((2L, "b")).toDF("id", "name"), root,
          parent = cur, requireBase = true)
      }
    }
  }

  test("concurrent appends all land: no INSERT INTO lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpDir("appends")
    Seq((0L, "base")).toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("keepVersions", "16").mode("overwrite").save()
    val writers = (1 to 6).map { i =>
      Future(append(root, Seq((i.toLong, s"w$i")), keep = 16))
    }
    Await.result(Future.sequence(writers), 180.seconds)
    assert(readIds(root) == (0L to 6L),
      "every concurrent append's rows must be in the surviving version")
    val log = VersionedTable.commitLog(root, conf)
    assert(log.map(_.seq) == (1L to 7L), "seven dense commits, totally ordered")
  }

  test("concurrent appends under TIGHT retention: a pruned base re-derives, not an opaque error") {
    // with keepVersions at the minimum, a concurrent committer's
    // publish-time retention can delete the version dir an in-flight
    // append pinned as its base — the union's scan then dies with
    // FileNotFoundException, which is NOT a CommitConflictException, so
    // before the reclassification the append failed with an opaque read
    // error instead of re-deriving. All writers must land regardless of
    // whether the race fires on a given run.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpDir("tightkeep")
    Seq((0L, "base")).toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("keepVersions", "2").mode("overwrite").save()
    val writers = (1 to 4).map { i =>
      Future(append(root, Seq((i.toLong, s"w$i")), keep = 2))
    }
    Await.result(Future.sequence(writers), 180.seconds)
    assert(readIds(root) == (0L to 4L),
      "every append's rows must survive even when retention prunes pinned bases")
  }

  test("causedByMissingFile walks wrapped cause chains, depth-bounded") {
    import graft.sources.reftable.RefTableWrites.causedByMissingFile
    val fnf = new java.io.FileNotFoundException("gone.parquet")
    assert(causedByMissingFile(fnf))
    assert(causedByMissingFile(new RuntimeException("job aborted",
      new RuntimeException("task failed", fnf))), "nested causes are walked")
    assert(!causedByMissingFile(new RuntimeException("unrelated")))
    val self = new RuntimeException("self-caused")
    self.initCause(new RuntimeException("inner")) // cycle-free but ends
    assert(!causedByMissingFile(self))
  }

  test("concurrent keyed upserts all land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpDir("upserts")
    VersionedTable.publish(
      (0L to 3L).map(i => (i, "old")).toDF("id", "name"), root, keepVersions = 16)
    val writers = (0 to 3).map { i =>
      Future(RefTableMutations.upsert(
        spark, root, Seq((i.toLong, s"new$i")).toDF("id", "name"), Seq("id"),
        keepVersions = 16))
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val got = {
      val c = VersionedTable.resolve(root, conf).get
      spark.read.parquet(graft.sources.reftable.SnapshotFiles.list(c).map(_.path): _*)
    }
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (0L to 3L).map(i => (i, s"new$i")),
      "every concurrent upsert's update must survive serialization")
  }

  test("concurrent dynamic partition overwrites of disjoint partitions both land") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpDir("dynovw")
    VersionedTable.publish(
      (0L until 90L).map(i => (i, (i % 3).toInt)).toDF("id", "bucket"),
      root, keepVersions = 16, layout = Layout.Partitioned(Seq("bucket")))
    val itype = Map[String, org.apache.spark.sql.types.DataType](
      "bucket" -> org.apache.spark.sql.types.IntegerType)
    // two writers replace DIFFERENT partitions concurrently; the CAS +
    // retry must serialize them so both replacements survive
    val writers = Seq(0, 1).map { b =>
      Future(RefTableMutations.overwritePartitions(
        spark, root, Seq((1000L + b, b)).toDF("id", "bucket"),
        Seq("bucket"), itype, keepVersions = 16))
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, bucket INT")
      .option("partitionColumns", "bucket").load()
      .collect().map(r => (r.getInt(1), r.getLong(0))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(got(0) == Seq(1000L), "writer 0's replacement survives")
    assert(got(1) == Seq(1001L), "writer 1's replacement survives")
    assert(got(2) == (2L until 90L by 3).toSeq, "untouched partition intact")
  }

  test("legacy pointer-only roots read and upgrade: first commit claims sequence 1") {
    import spark.implicits._
    val root = tmpDir("legacy")
    VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), root)
    // simulate a root that predates the commit log
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root, VersionedTable.CommitsDir), true)
    assert(VersionedTable.resolve(root, conf).nonEmpty, "legacy pointer still resolves")
    assert(VersionedTable.lastCommit(root, conf).exists(_.seq == 0L),
      "legacy state reads as the synthetic sequence-0 commit")

    append(root, Seq((2L, "b"))) // derives from the legacy state, CAS-armed
    val log = VersionedTable.commitLog(root, conf)
    assert(log.map(_.seq) == Seq(1L), "the upgrade commit claims sequence 1")
    assert(readIds(root) == Seq(1L, 2L))
  }
}
