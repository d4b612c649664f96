package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol on an object store: [[NoRenameFileSystem]]
  * (scheme `noren`) refuses atomic rename and never sees a hard link, the
  * way S3-class stores do — the ONLY atomic primitive it offers is a
  * conditional create. Everything the versioned layer promises on POSIX
  * must hold unchanged: serialized concurrent appends (no lost update),
  * serialized concurrent upserts, in-place staged publishes invisible
  * until claimed, and pointer/stats caches refreshed without a rename.
  */
class RefTableObjectStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()
  private val ddl = "id BIGINT, name STRING"

  private def tmpRoot(name: String): String = {
    val d = Files.createTempDirectory(s"graft_objstore_$name")
    Files.delete(d)
    s"noren://$d"
  }

  private def readIds(root: String): Seq[Long] = spark.read.format("reftable")
    .option("path", root).option("schema", ddl).load()
    .orderBy("id").collect().map(_.getLong(0)).toSeq

  private def append(root: String, rows: Seq[(Long, String)], keep: Int = 16): Unit = {
    import spark.implicits._
    rows.toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("keepVersions", keep.toString).mode("append").save()
  }

  test("the noren scheme selects the conditional primitive and refuses renames") {
    val root = tmpRoot("select")
    assert(CommitPrimitive.forPath(new Path(root), conf) == ConditionalCommit)
    assert(CommitPrimitive.forPath(new Path("/tmp/x"), conf) == RenameCommit)
    assert(CommitPrimitive.forPath(new Path("s3a://bucket/t"), conf) == ConditionalCommit)
    val fs = new Path(root).getFileSystem(conf)
    fs.mkdirs(new Path(root, "a"))
    intercept[java.io.IOException] {
      fs.rename(new Path(root, "a"), new Path(root, "b"))
    }
    // the conditional create is atomic and fails on the second claim
    val p = new Path(root, "claim")
    assert(ConditionalCommit.putIfAbsent(p, "x".getBytes, conf))
    assert(!ConditionalCommit.putIfAbsent(p, "y".getBytes, conf))
  }

  test("publish + read + history on a no-rename store: in-place staging, claim-gated visibility") {
    import spark.implicits._
    val root = tmpRoot("pub")
    val v1 = VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    assert(readIds(root) == Seq(1L, 2L))
    // the version dir was staged in place — no .staging- sibling exists
    val fs = new Path(root).getFileSystem(conf)
    val names = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    assert(!names.exists(_.startsWith(".staging-")), s"in-place staging expected: $names")
    assert(names.contains(v1))
    // a second publish supersedes; resolve walks the commit log
    VersionedTable.publish(Seq((3L, "c")).toDF("id", "name"), root)
    assert(readIds(root) == Seq(3L))
    assert(VersionedTable.commitLog(root, conf).map(_.seq) == Seq(1L, 2L))
  }

  test("6-way concurrent appends all land on a no-rename store") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpRoot("appends")
    Seq((0L, "base")).toDF("id", "name").write.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("keepVersions", "16").mode("overwrite").save()
    val writers = (1 to 6).map { i =>
      Future(append(root, Seq((i.toLong, s"w$i"))))
    }
    Await.result(Future.sequence(writers), 180.seconds)
    assert(readIds(root) == (0L to 6L),
      "every concurrent append's rows must be in the surviving version")
    val log = VersionedTable.commitLog(root, conf)
    assert(log.map(_.seq) == (1L to 7L), "seven dense commits, totally ordered")
  }

  test("4-way concurrent keyed upserts all land on a no-rename store") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val root = tmpRoot("upserts")
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
      spark.read.parquet(SnapshotFiles.list(c).map(_.path): _*)
    }
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (0L to 3L).map(i => (i, s"new$i")),
      "every concurrent upsert's update must survive serialization")
  }

  test("COW mutations and compaction work without rename") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpRoot("mut")
    VersionedTable.publish(
      (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "name"), root,
      layout = Layout.Clustered(Seq("id"))(files = 8))
    RefTableMutations.deleteWhere(spark, root, col("id") < 100L)
    assert(readIds(root) == (100L until 2000L))
    VersionedTable.compact(spark, root)
    assert(readIds(root) == (100L until 2000L))
  }

  test("a mid-populate in-place version dir is invisible: resolve stays on the old commit") {
    import spark.implicits._
    val root = tmpRoot("invis")
    val v1 = VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), root)
    // fabricate what a crashed (or still-running) in-place publish leaves:
    // a version-named dir with data but NO commit claim
    val fs = new Path(root).getFileSystem(conf)
    val orphan = "v9999999999999999999_deadbeef"
    fs.mkdirs(new Path(root, orphan))
    assert(VersionedTable.resolve(root, conf).exists(_.endsWith(v1)),
      "resolution must come from the commit log, not directory listing")
    assert(VersionedTable.resolveRobust(root, conf).exists(_.endsWith(v1)))
    assert(!VersionedTable.committedVersionDirs(root, conf).contains(orphan))
    // fresh root mid-first-publish: commit log dir exists, no claim yet —
    // readers must see "no table yet", not an error
    val fresh = tmpRoot("invis2")
    fs.mkdirs(new Path(fresh, VersionedTable.CommitsDir))
    fs.mkdirs(new Path(fresh, orphan))
    assert(VersionedTable.resolveRobust(fresh, conf).isEmpty,
      "an uncommitted in-place staging on a fresh root resolves to None")
  }

  test("DSv2 streaming append on a no-rename store: epochs, restart, forced replay") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpRoot("stream")
    val base = Files.createTempDirectory("graft_objstream_")
    val in = s"$base/in"
    val ck = s"$base/ck" // checkpoint stays on local fs (engine-side state)
    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
        .writeStream.format("reftable")
        .option("path", root).option("schema", ddl)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    }
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    Seq((2L, "b")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f1")
    drain()
    assert(readIds(root) == Seq(1L, 2L))
    // executors wrote epoch parquet straight to the store; the publish
    // copied (never renamed) into an in-place staged version, claim-gated
    Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f2")
    drain()
    assert(readIds(root) == Seq(1L, 2L, 3L))
    // forced replay: delete the checkpoint's last commit record — the
    // restarted engine re-runs that epoch, the txn marker lands nothing
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val logBefore = VersionedTable.commitLog(root, conf).size
    assert(commits.last.delete())
    new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc").delete()
    drain()
    assert(readIds(root) == Seq(1L, 2L, 3L), "replayed epoch must not duplicate")
    assert(VersionedTable.commitLog(root, conf).size == logBefore)
  }

  test("a file: path selects the rename primitive even if listed as conditional") {
    val c = new Configuration(conf)
    c.set(CommitPrimitive.ExtraSchemesKey, "noren,file")
    assert(CommitPrimitive.forPath(new Path("/tmp/x"), c) == RenameCommit)
    assert(CommitPrimitive.forPath(new Path("file:/tmp/x"), c) == RenameCommit)
    assert(CommitPrimitive.forPath(new Path("noren:///tmp/x"), c) == ConditionalCommit)
  }

  test("ALTER TABLE on a no-rename warehouse: ADD COLUMNS and SET TBLPROPERTIES") {
    val cat = "gcat_noren_alter"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpRoot("wh"))
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, name STRING) USING reftable")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a')")
    spark.sql(s"ALTER TABLE $cat.db.t ADD COLUMNS (score DOUBLE)")
    spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES ('option.keepVersions' = '7')")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (2, 'b', 0.5)")
    val rows = spark.table(s"$cat.db.t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", Some(0.5))))
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("option.keepVersions").contains("7"), s"props: $props")
  }

  test("a lost CAS with a RebaseSpec re-derives on a no-rename store (no rebase attempted)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tmpRoot("rederive")
    VersionedTable.publish((1L to 10L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(2, col("id")), root)
    val r0 = VersionedTable.rebasedCommits.get
    VersionedTable.onBeforeClaim = Some { _ =>
      VersionedTable.onBeforeClaim = None
      append(root, Seq((20L, "t")))
    }
    try RefTableMutations.deleteWhere(spark, root, col("id") === 5L)
    finally VersionedTable.onBeforeClaim = None
    assert(VersionedTable.rebasedCommits.get == r0)
    assert(readIds(root) == ((1L to 10L).filterNot(_ == 5L) :+ 20L))
    assert(VersionedTable.commitLog(root, conf).size == 3)
  }
}
