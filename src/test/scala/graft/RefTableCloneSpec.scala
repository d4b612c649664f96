package graft

import java.nio.file.{Files, Paths}

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zero-copy shallow clone ([[VersionedTable.cloneTo]]): the clone must
  * (a) read identically to the source snapshot, (b) share BYTES with it —
  * every clone data file is a hard link to a source file (same inode), so
  * the commit is O(files) metadata and 0 data bytes, (c) be fully
  * isolated — mutations on either side never show on the other, and
  * (d) survive the source's retention/vacuum deleting the cloned-from
  * version directory (links keep bytes alive until the last name drops —
  * the property Delta/Iceberg shallow clones famously do NOT have).
  */
class RefTableCloneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_clone_$name").toString

  private def readCurrent(root: String, partCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val files = SnapshotFiles.list(root, partCols, None)
    spark.read.parquet(files.map(_.path): _*)
  }

  private def inode(path: String): Long =
    Files.getAttribute(Paths.get(new java.net.URI(path).getPath match {
      case "" => path
      case p  => p
    }), "unix:ino").asInstanceOf[Long]

  private def inodesOf(root: String, partCols: Seq[String] = Nil): Set[Long] =
    SnapshotFiles.list(root, partCols, None).map(f => inode(f.path)).toSet

  test("clone reads identically and shares every data file's inode (0 bytes copied)") {
    import spark.implicits._
    val src = tmpDir("src")
    val dst = tmpDir("dst")
    val df = (0 until 5000).map(i => (i.toLong, i * 1.5, s"r$i")).toDF("id", "v", "tag")
    VersionedTable.publish(df, src, layout = Layout.Clustered(Seq("id"))(files = 8))
    VersionedTable.cloneTo(src, dst)

    val a = readCurrent(src).orderBy("id").collect()
    val b = readCurrent(dst).orderBy("id").collect()
    assert(a.sameElements(b))

    val srcInodes = inodesOf(src)
    val cloneInodes = inodesOf(dst)
    assert(cloneInodes.size == 8)
    assert(cloneInodes.subsetOf(srcInodes),
      "every clone file must be a hard link to a source file")
    // the clone is a first-class table: own commit log, manifest, stats
    assert(VersionedTable.resolve(dst, conf).isDefined)
    val cur = VersionedTable.resolve(dst, conf).get
    val verName = new org.apache.hadoop.fs.Path(cur).getName
    assert(RefTableFileManifest.exists(dst, verName, conf))
  }

  test("mutations on the clone never touch the source, and vice versa") {
    import spark.implicits._
    val src = tmpDir("iso_src")
    val dst = tmpDir("iso_dst")
    val df = (0 until 2000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    VersionedTable.publish(df, src, layout = Layout.Clustered(Seq("id"))(files = 4))
    VersionedTable.cloneTo(src, dst)

    RefTableMutations.deleteWhere(spark, dst, col("id") < 1000L)
    assert(readCurrent(dst).count() == 1000L)
    assert(readCurrent(src).count() == 2000L, "source must not see the clone's delete")

    RefTableMutations.deleteWhere(spark, src, col("id") >= 1500L)
    assert(readCurrent(src).count() == 1500L)
    assert(readCurrent(dst).count() == 1000L, "clone must not see the source's delete")
  }

  test("clone survives source retention deleting the cloned-from version") {
    import spark.implicits._
    val src = tmpDir("ret_src")
    val dst = tmpDir("ret_dst")
    val df = (0 until 1000).map(i => (i.toLong, s"x$i")).toDF("id", "s")
    VersionedTable.publish(df, src, keepVersions = 2)
    val clonedFrom = VersionedTable.resolve(src, conf).get
    VersionedTable.cloneTo(src, dst)

    // roll the source forward past retention: the cloned-from version's
    // commit expires and its directory is collected
    (1 to 3).foreach { g =>
      VersionedTable.publish(df.withColumn("s", concat(lit(s"g$g-"), col("s"))),
        src, keepVersions = 2)
    }
    VersionedTable.vacuum(src, keepVersions = 2)
    assert(!Files.exists(Paths.get(new java.net.URI(clonedFrom).getPath)) ||
      !VersionedTable.committedVersionDirs(src, conf)
        .contains(new org.apache.hadoop.fs.Path(clonedFrom).getName),
      "precondition: the cloned-from version should be gone (or at least uncommitted)")

    // the clone still reads the ORIGINAL snapshot — links kept the bytes
    val rows = readCurrent(dst).orderBy("id").collect()
    assert(rows.length == 1000)
    assert(rows.head.getString(1) == "x0", "clone content must be the pre-roll snapshot")
  }

  test("partitioned source clones with its Hive layout intact") {
    import spark.implicits._
    val src = tmpDir("part_src")
    val dst = tmpDir("part_dst")
    val df = (0 until 600).map(i => (i.toLong, s"p${i % 3}", i * 2.0)).toDF("id", "bucket", "v")
    VersionedTable.publish(df, src, layout = Layout.Partitioned(Seq("bucket")))
    VersionedTable.cloneTo(src, dst, partitionColumns = Seq("bucket"))

    val files = SnapshotFiles.list(dst, Seq("bucket"), None)
    assert(files.nonEmpty)
    assert(files.forall(_.partitionValues.keySet == Set("bucket")),
      "clone files must carry decoded partition values from col=value dirs")
    assert(files.map(_.partitionValues("bucket")).toSet == Set("p0", "p1", "p2"))
    assert(inodesOf(dst, Seq("bucket")).subsetOf(inodesOf(src, Seq("bucket"))))
    val a = readCurrent(src, Seq("bucket")).select("id", "v").orderBy("id").collect()
    val b = readCurrent(dst, Seq("bucket")).select("id", "v").orderBy("id").collect()
    assert(a.sameElements(b))
  }

  test("CALL system.clone creates the target table and isolates it from the source") {
    val cat = "gclone"
    val wh = Files.createTempDirectory("graft_clone_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.src (id BIGINT, s STRING) USING reftable")
    spark.sql(s"INSERT INTO $cat.db.src VALUES (1,'a'),(2,'b'),(3,'c')")

    val out = spark.sql(s"CALL $cat.system.clone(source => 'db.src', target => 'db.copy')")
      .collect()
    assert(out.length == 1 && out.head.getString(0).startsWith("v"))

    assert(spark.table(s"$cat.db.copy").count() == 3)
    // clone shares bytes with the source snapshot
    assert(inodesOf(s"$wh/db/copy").subsetOf(inodesOf(s"$wh/db/src")))
    // independent evolution: insert on source, delete on clone
    spark.sql(s"INSERT INTO $cat.db.src VALUES (4,'d')")
    spark.sql(s"DELETE FROM $cat.db.copy WHERE id = 1")
    assert(spark.table(s"$cat.db.src").count() == 4)
    assert(spark.table(s"$cat.db.copy").count() == 2)
    // cloning onto an existing table refuses
    val e = intercept[Exception](
      spark.sql(s"CALL $cat.system.clone(source => 'db.src', target => 'db.copy')").collect())
    assert(e.getMessage.toLowerCase.contains("exists") ||
      e.getCause != null && e.getCause.getMessage.toLowerCase.contains("exists"))
  }

  test("WAP: clone -> audit -> promote lands the staged state zero-copy under CAS") {
    import spark.implicits._
    val target = tmpDir("wap_target")
    val stagingRoot = tmpDir("wap_staging")
    VersionedTable.publish((1L to 100L).toDF("id").withColumn("v", col("id")), target)
    val fork = new java.io.File(
      VersionedTable.resolve(target).get).getName
    VersionedTable.cloneTo(target, stagingRoot)
    // pipeline writes on the staging clone: an upsert batch with one bad row
    RefTableMutations.upsert(spark, stagingRoot,
      Seq((200L, 5L), (201L, -1L)).toDF("id", "v"), Seq("id"))
    // audit: the expectation census sees exactly the bad row; drop it
    val census = graft.operators.Expectations.check(
      readCurrent(stagingRoot), Seq("v_nonneg" -> "v >= 0"))
    assert(census.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("v_nonneg", 1L)))
    RefTableMutations.deleteWhere(spark, stagingRoot, col("v") < 0)
    // publish: CAS against the fork version — target untouched, so it lands
    VersionedTable.promote(stagingRoot, target, expectedBase = Some(fork))
    val got = readCurrent(target).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ((1L to 100L).map(i => (i, i)) :+ (200L, 5L)))
    // zero-copy: the promoted files share inodes with the staging bytes
    assert(inodesOf(target).subsetOf(inodesOf(stagingRoot)))

    // a SECOND promote from the same fork must refuse — the target has
    // advanced past the declared base (the concurrent-write surface)
    val e = intercept[Exception](
      VersionedTable.promote(stagingRoot, target, expectedBase = Some(fork)))
    assert(e.getMessage.toLowerCase.contains("no longer the"))
  }

  test("CALL system.promote lands an audited staging through SQL") {
    val cat = "gwap"
    val wh = Files.createTempDirectory("graft_wap_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT) USING reftable")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2), (3)")
    spark.sql(s"CALL $cat.system.clone(source => 'db.t', target => 'db.stg')")
    spark.sql(s"INSERT INTO $cat.db.stg VALUES (4), (5)")
    val out = spark.sql(
      s"CALL $cat.system.promote(staging => 'db.stg', target => 'db.t')").collect()
    assert(out.length == 1 && out.head.getString(0).startsWith("v"))
    assert(spark.table(s"$cat.db.t").count() == 5)
  }

  test("CALL system.expect audits a table through SQL (one row per rule)") {
    val cat = "gexpect"
    val wh = Files.createTempDirectory("graft_expect_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING reftable")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 5), (2, -1), (3, NULL), (NULL, 7)")
    val out = spark.sql(
      s"CALL $cat.system.expect(table => 'db.t', " +
        "rules => 'v_nonneg:v >= 0; has_id:id IS NOT NULL')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // v >= 0 violated by -1 AND by NULL (unevaluable = violation); id NULL once
    assert(out.toSeq == Seq(("has_id", 1L, 4L), ("v_nonneg", 2L, 4L)))
  }

  test("promote lands a deletion-vector'd staging, sidecars re-keyed to the promoted version") {
    import spark.implicits._
    val target = tmpDir("wapdv_t")
    val stagingRoot = tmpDir("wapdv_s")
    VersionedTable.publish((1L to 10L).toDF("id"), target)
    VersionedTable.cloneTo(target, stagingRoot)
    RefTableMutations.deleteWhereMergeOnRead(spark, stagingRoot, col("id") === 1L)
    VersionedTable.promote(stagingRoot, target)
    // read through the source (readCurrent is a raw-parquet harness read
    // that deliberately bypasses DV subtraction)
    assert(spark.read.format("reftable").option("path", target)
      .option("schema", "id BIGINT").load()
      .as[Long].collect().sorted.toSeq == (2L to 10L))
    // and the promoted version's sidecars name ITS files, not staging's
    val cur = VersionedTable.resolve(target).get
    val vname = new org.apache.hadoop.fs.Path(cur).getName
    val keys = graft.sources.reftable.DeletionVectors.positionsByFile(cur).keySet
    assert(keys.nonEmpty && keys.forall(_.startsWith(vname + "/")), s"keys: $keys")
  }

  test("cloning a manifest-referenced (mutated) version captures the resolved listing") {
    import spark.implicits._
    val src = tmpDir("man_src")
    val dst = tmpDir("man_dst")
    val df = (0 until 4000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    VersionedTable.publish(df, src, layout = Layout.Clustered(Seq("id"))(files = 8))
    // mutate: the current source version now NAMES most files by reference
    RefTableMutations.deleteWhere(spark, src, col("id") >= 3500L)
    VersionedTable.cloneTo(src, dst)
    assert(readCurrent(dst).count() == 3500L)
    val a = readCurrent(src).orderBy("id").collect()
    val b = readCurrent(dst).orderBy("id").collect()
    assert(a.sameElements(b))
  }

  test("clone and promote across devices fall back to a copy and read back equal") {
    import spark.implicits._
    val shm = Paths.get("/dev/shm")
    val src = tmpDir("xdev_src")
    assume(Files.isDirectory(shm) && Files.isWritable(shm) &&
      Files.getFileStore(shm) != Files.getFileStore(Paths.get(src)),
      "needs a writable /dev/shm on a different filesystem than the temp dir")
    val dst = Files.createTempDirectory(shm, "graft_clone_xdev_dst").toString
    try {
      val df = (0 until 2000).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
      VersionedTable.publish(df, src, layout = Layout.Clustered(Seq("id"))(files = 4))
      VersionedTable.cloneTo(src, dst)
      assert(readCurrent(src).orderBy("id").collect()
        .sameElements(readCurrent(dst).orderBy("id").collect()))
      // the other direction: promote the audited clone back onto the source
      RefTableMutations.deleteWhere(spark, dst, col("id") >= 1500L)
      VersionedTable.promote(dst, src)
      assert(readCurrent(src).orderBy("id").collect()
        .sameElements(readCurrent(dst).orderBy("id").collect()))
      assert(readCurrent(src).count() == 1500L)
    } finally {
      import scala.jdk.CollectionConverters._
      val all = Files.walk(Paths.get(dst))
      try all.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally all.close()
    }
  }
}
