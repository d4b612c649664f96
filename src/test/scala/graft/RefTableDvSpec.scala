package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read DELETE via deletion vectors ([[DeletionVectors]],
  * [[RefTableMutations.deleteWhereMergeOnRead]]): a delete must commit
  * position sidecars only (zero rewritten data files), every read surface
  * must subtract them (DSv2 batch scan incl. pushed filters, streaming
  * snapshot, mutation rewrites, changefeeds), later commits must carry
  * them, compaction must materialize them, and the operations that cannot
  * honor them (clone, footer-stats aggregates) must refuse/decline rather
  * than resurrect rows.
  */
class RefTableDvSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_dv_$name").toString

  private def readRef(root: String, schema: String, extra: Map[String, String] = Map.empty) = {
    var r = spark.read.format("reftable").option("path", root).option("schema", schema)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("MoR delete stages only sidecars; DSv2 scan subtracts positions") {
    val root = tmpDir("basic")
    import spark.implicits._
    VersionedTable.publish((1L to 1000L).toDF("id").repartition(4), root)
    val v2 = RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 10 === 0)

    // the new version dir holds manifest + sidecars, ZERO data files
    val dir = new java.io.File(root, v2)
    val entries = Option(dir.listFiles()).toSeq.flatten.map(_.getName)
    assert(entries.contains(RefTableFileManifest.ManifestName))
    assert(entries.contains(DeletionVectors.DvDir))
    assert(!entries.exists(_.endsWith(".parquet")), s"data files staged: $entries")

    val got = readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq
    assert(got == (1L to 1000L).filterNot(_ % 10 == 0))
  }

  test("second MoR delete accumulates; pushed filters stay correct on DV'd files") {
    val root = tmpDir("accum")
    import spark.implicits._
    VersionedTable.publish((1L to 1000L).toDF("id").repartition(2), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 10 === 0)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 7 === 0)
    val expected = (1L to 1000L).filterNot(i => i % 10 == 0 || i % 7 == 0)
    assert(readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq == expected)
    // a pushed range filter on a DV'd file: parquet-mr filtering is
    // suppressed (row alignment), Spark's residual still applies — and
    // deleted rows inside the range must NOT come back
    val filtered = readRef(root, "id BIGINT").filter(col("id") <= 100)
      .as[Long].collect().sorted.toSeq
    assert(filtered == expected.filter(_ <= 100))
  }

  test("SQL NULL predicate semantics: NULL keeps the row") {
    val root = tmpDir("nulls")
    import spark.implicits._
    VersionedTable.publish(
      Seq((1L, Some(5)), (2L, None), (3L, Some(50))).toDF("id", "v"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("v") > 10)
    val got = readRef(root, "id BIGINT, v INT").select("id")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L), "NULL-predicate row must survive a SQL DELETE")
  }

  test("COW mutations on a DV'd table do not resurrect deleted rows") {
    val root = tmpDir("cow_after")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id").withColumn("v", col("id") * 10), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 20)
    // keyed upsert rewrites may-match files — the rewrite must read
    // DV-applied, and untouched files keep their carried sidecars
    RefTableMutations.upsert(spark, root,
      Seq((50L, -1L), (999L, -2L)).toDF("id", "v"), Seq("id"))
    val got = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = ((21L to 100L).map(i => (i, i * 10)) :+ (999L, -2L))
      .map { case (i, v) => if (i == 50L) (i, -1L) else (i, v) }.sortBy(_._1)
    assert(got == expected)
  }

  test("appends carry sidecars; compact materializes them") {
    val root = tmpDir("carry")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 10)
    // an append-shaped upsert of fresh keys inherits every parent file —
    // writeDelta must carry the sidecars into the new version
    RefTableMutations.upsert(spark, root, Seq(1001L, 1002L).toDF("id"), Seq("id"))
    val cur1 = VersionedTable.resolve(root).get
    assert(DeletionVectors.hasDv(cur1, conf), "sidecars not carried by the append")
    assert(readRef(root, "id BIGINT").count() == 92)

    val v = VersionedTable.compact(spark, root, targetFileBytes = 1L << 20)
    val cur2 = new org.apache.hadoop.fs.Path(root, v).toString
    assert(!DeletionVectors.hasDv(cur2, conf), "compact must materialize deletes")
    assert(readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq ==
      ((11L to 100L) ++ Seq(1001L, 1002L)))
  }

  test("stats narrowing bounds the position pass on a clustered layout") {
    val root = tmpDir("narrow")
    import spark.implicits._
    VersionedTable.publish(
      (1L to 10000L).toDF("id"), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 500)
    val cur = VersionedTable.resolve(root).get
    // only the files whose range overlaps [*, 500] may appear in sidecars
    val touched = DeletionVectors.positionsByFile(cur, conf).keySet
    assert(touched.size <= 2, s"sidecars name ${touched.size} files — narrowing failed: $touched")
    assert(readRef(root, "id BIGINT").count() == 9500)
  }

  test("DV'd large file byte-range splits like a clean one, positions attached to every split") {
    val f1 = SnapshotFile("/x/v0000000000000000001_00000000/a.parquet", 1L << 30, Map.empty, Seq(1L, 2L))
    val f2 = SnapshotFile("/x/v0000000000000000001_00000000/b.parquet", 1L << 30)
    val parts = RefTablePartitions.plan(Seq(f1, f2), 0L)
      .map(_.asInstanceOf[RefTableInputPartition])
    val (dvd, clean) = parts.partition(_.dvPositions.nonEmpty)
    assert(dvd.length > 1, "a MoR delete must not cost the file its splits")
    assert(dvd.forall(_.dvPositions == Seq(1L, 2L)))
    assert(clean.length > 1, "clean large file should byte-range split")
  }

  test("DV'd scan stays vectorized: ColumnarToRow plan with sidecars present") {
    val root = tmpDir("vec")
    import spark.implicits._
    VersionedTable.publish((1L to 1000L).toDF("id").repartition(2), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 3 === 0)
    assert(DeletionVectors.hasDv(VersionedTable.resolve(root).get, conf))
    val df = readRef(root, "id BIGINT")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"deletion vectors de-vectorized the scan:\n$plan")
    assert(df.as[Long].collect().sorted.toSeq == (1L to 1000L).filterNot(_ % 3 == 0))
  }

  test("byte-range splits of a multi-row-group DV'd file stay position-aligned") {
    val root = tmpDir("splits")
    import spark.implicits._
    // tiny row groups so the single data file has many, then tiny split
    // target so the scan byte-range-splits it — each split must re-derive
    // its starting row index (rowsBefore) or deletes land on wrong rows
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    val oldPage = hconf.get("parquet.page.size")
    hconf.setInt("parquet.block.size", 16 * 1024)
    hconf.setInt("parquet.page.size", 4 * 1024)
    try VersionedTable.publish((1L to 200000L).toDF("id").repartition(1), root)
    finally {
      if (oldBlock == null) hconf.unset("parquet.block.size") else hconf.set("parquet.block.size", oldBlock)
      if (oldPage == null) hconf.unset("parquet.page.size") else hconf.set("parquet.page.size", oldPage)
    }
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 97 === 0)
    val files = SnapshotFiles.list(root)
    assert(files.exists(_.dvPositions.nonEmpty))
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val parts = RefTablePartitions.plan(files, 0L).map(_.asInstanceOf[RefTableInputPartition])
      assert(parts.count(_.dvPositions.nonEmpty) > 4,
        s"expected many DV'd splits, got ${parts.length}")
      val df = readRef(root, "id BIGINT")
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(df.as[Long].collect().sorted.toSeq ==
        (1L to 200000L).filterNot(_ % 97 == 0))
      // a pushed filter on the split DV'd file: parquet-level skipping is
      // suppressed (row alignment), the residual still applies exactly
      assert(readRef(root, "id BIGINT").filter(col("id") <= 1000)
        .as[Long].collect().sorted.toSeq ==
        (1L to 1000L).filterNot(_ % 97 == 0))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
  }

  test("streaming snapshot subtracts deletion vectors") {
    val root = tmpDir("stream")
    import spark.implicits._
    VersionedTable.publish((1L to 200L).toDF("id"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 2 === 0)
    val stream = spark.readStream.format("reftable")
      .option("path", root).option("schema", "id BIGINT").load()
    val q = stream.writeStream.format("memory").queryName("dv_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dv_stream").as[Long].collect().sorted.toSeq
    assert(got == (1L to 200L).filter(_ % 2 == 1))
  }

  test("changefeed between versions sees MoR deletes as deletes") {
    val root = tmpDir("cf")
    import spark.implicits._
    val v1 = VersionedTable.publish((1L to 50L).toDF("id"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") > 45)
    val d = VersionedTable.changes(spark, root, Seq("id"), v1)
      .select("change_type", "id").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(d.toSeq == (46L to 50L).map(i => ("delete", i)))
  }

  test("footer-stats aggregate pushdown declines on a DV'd version (count stays exact)") {
    val root = tmpDir("aggguard")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id"), root)
    assert(readRef(root, "id BIGINT").count() == 100)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 30)
    val df = readRef(root, "id BIGINT")
    assert(df.count() == 70, "stats-served COUNT must not include deleted rows")
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregates: [COUNT"), s"pushdown not declined:\n$plan")
  }

  test("clone of a DV'd source re-keys sidecars; both sides stay isolated") {
    val root = tmpDir("clonesrc")
    val dst = tmpDir("clonedst")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id"), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 10)
    VersionedTable.cloneTo(root, dst)
    // the clone reads exactly what the source reads, deletes subtracted
    val expected = (11L to 100L)
    assert(readRef(dst, "id BIGINT").as[Long].collect().sorted.toSeq == expected)
    // the clone's sidecars are its OWN, keyed by its own version-relative
    // names — deleting more on either side never leaks to the other
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") === 50L)
    assert(readRef(dst, "id BIGINT").as[Long].collect().sorted.toSeq == expected)
    RefTableMutations.deleteWhereMergeOnRead(spark, dst, col("id") === 60L)
    assert(readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq ==
      expected.filterNot(_ == 50L))
    assert(readRef(dst, "id BIGINT").as[Long].collect().sorted.toSeq ==
      expected.filterNot(_ == 60L))
    // an append on the clone carries the remapped sidecars forward
    RefTableMutations.upsert(spark, dst, Seq(1001L).toDF("id"), Seq("id"))
    assert(readRef(dst, "id BIGINT").as[Long].collect().sorted.toSeq ==
      (expected.filterNot(_ == 60L) :+ 1001L).sorted)
    // compaction on the clone materializes them
    VersionedTable.compact(spark, dst)
    assert(!DeletionVectors.hasDv(VersionedTable.resolve(dst).get, conf))
    assert(readRef(dst, "id BIGINT").as[Long].collect().sorted.toSeq ==
      (expected.filterNot(_ == 60L) :+ 1001L).sorted)
  }

  test("WAP over MoR: promote a DV'd staging table under CAS") {
    val target = tmpDir("wap_t")
    val staging = tmpDir("wap_s")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id"), target)
    val fork = new org.apache.hadoop.fs.Path(VersionedTable.resolve(target).get).getName
    VersionedTable.cloneTo(target, staging)
    // audit phase mutates the STAGING side merge-on-read
    RefTableMutations.upsertMergeOnRead(spark, staging,
      Seq(5L, 500L).toDF("id"), Seq("id"))
    RefTableMutations.deleteWhereMergeOnRead(spark, staging, col("id") % 10 === 0)
    VersionedTable.promote(staging, target, expectedBase = Some(fork))
    val expected = ((1L to 100L) :+ 500L).filterNot(_ % 10 == 0).sorted
    assert(readRef(target, "id BIGINT").as[Long].collect().sorted.toSeq == expected)
  }

  test("clone of a partitioned DV'd source keeps partition layout and deletes") {
    val root = tmpDir("clonepart")
    val dst = tmpDir("clonepart_dst")
    import spark.implicits._
    val df = (1L to 90L).toDF("id").withColumn("p", (col("id") % 3).cast("string"))
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))
    RefTableMutations.deleteWhereMergeOnRead(spark, root,
      col("p") === "1" && col("id") <= 40, partitionColumns = Seq("p"))
    VersionedTable.cloneTo(root, dst, partitionColumns = Seq("p"))
    val expected = (1L to 90L).filterNot(i => i % 3 == 1 && i <= 40)
    assert(readRef(dst, "id BIGINT, p STRING", Map("partitionColumns" -> "p"))
      .select("id").as[Long].collect().sorted.toSeq == expected)
  }

  test("restore to a DV'd version carries its sidecars") {
    val root = tmpDir("restore")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id"), root)
    val v2 = RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") <= 10)
    VersionedTable.publish(Seq(-1L).toDF("id"), root) // replaces content
    VersionedTable.restore(root, v2)
    assert(readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq == (11L to 100L))
  }

  test("SQL DELETE routes merge-on-read via the deleteMode table option") {
    val cat = "gdv"
    val wh = Files.createTempDirectory("graft_dv_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT) USING reftable " +
      "OPTIONS (deleteMode 'mergeOnRead')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT explode(sequence(1, 100))")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id <= 40")
    assert(spark.table(s"$cat.db.t").count() == 60)
    val cur = VersionedTable.resolve(s"$wh/db/t").get
    assert(DeletionVectors.hasDv(cur, conf),
      "DELETE under deleteMode=mergeOnRead must stage sidecars, not rewrite")
    // materialize through the SQL surface, then the sidecars are gone
    spark.sql(s"CALL $cat.system.compact(table => 'db.t')")
    assert(!DeletionVectors.hasDv(VersionedTable.resolve(s"$wh/db/t").get, conf))
    assert(spark.table(s"$cat.db.t").count() == 60)
  }

  test("MoR UPDATE: old positions to sidecars, new images staged, O(matched) commit") {
    val root = tmpDir("upd")
    import spark.implicits._
    VersionedTable.publish(
      (1L to 1000L).toDF("id").withColumn("v", col("id")).repartition(4), root)
    val v2 = RefTableMutations.updateWhereMergeOnRead(spark, root,
      Map("v" -> lit(-1L)), col("id") <= 10)
    // the commit stages the 10 new images + sidecars, never a file rewrite
    val staged = SnapshotFiles.listPhysical(s"$root/$v2", Nil)
    assert(staged.nonEmpty && staged.map(_.length).sum < 50_000,
      s"MoR update staged ${staged.map(_.length).sum} bytes — looks like a rewrite")
    assert(DeletionVectors.positionsByFile(s"$root/$v2", conf).values.map(_.size).sum == 10)
    val got = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == (1L to 1000L).map(i => (i, if (i <= 10) -1L else i)))
  }

  test("MoR UPDATE twice over an overlapping predicate never duplicates rows") {
    val root = tmpDir("upd2")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id").withColumn("v", lit(0L)), root)
    RefTableMutations.updateWhereMergeOnRead(spark, root, Map("v" -> lit(1L)), col("id") <= 20)
    // second update matches rows the first already rewrote (v=1 → v=2) —
    // the pinned-position subtraction must keep exactly one live image
    RefTableMutations.updateWhereMergeOnRead(spark, root,
      Map("v" -> (col("v") + 10L)), col("id") <= 30)
    val got = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got.size == 100, s"row count drifted to ${got.size}")
    assert(got == (1L to 100L).map(i =>
      (i, if (i <= 20) 11L else if (i <= 30) 10L else 0L)))
  }

  test("SQL UPDATE routes merge-on-read via the updateMode table option") {
    val root = tmpDir("sqlupd")
    import spark.implicits._
    VersionedTable.publish((1L to 50L).toDF("id").withColumn("v", lit(0L)), root)
    val tbl = "dv_upd_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
      "schema 'id BIGINT, v BIGINT', updateMode 'mergeOnRead')")
    spark.sql(s"UPDATE $tbl SET v = 7 WHERE id <= 5")
    val cur = VersionedTable.resolve(root).get
    assert(DeletionVectors.hasDv(cur, conf), "SQL UPDATE did not take the MoR path")
    assert(spark.table(tbl).filter(col("v") === 7).count() == 5)
    assert(spark.table(tbl).count() == 50)
  }

  test("MoR upsert: O(batch) commit — matched keys die by position, batch stages once") {
    val root = tmpDir("morup")
    import spark.implicits._
    VersionedTable.publish(
      (1L to 1000L).toDF("id").withColumn("v", col("id")).repartition(4), root)
    val v2 = RefTableMutations.upsertMergeOnRead(spark, root,
      Seq((10L, -10L), (20L, -20L), (5000L, -50L)).toDF("id", "v"), Seq("id"))
    // the commit stages the 3-row batch file + a sidecar, never a rewrite
    val staged = SnapshotFiles.listPhysical(s"$root/$v2", Nil)
    assert(staged.map(_.length).sum < 50_000,
      s"MoR upsert staged ${staged.map(_.length).sum} bytes — looks like a rewrite")
    assert(DeletionVectors.positionsByFile(s"$root/$v2", conf).values.map(_.size).sum == 2,
      "exactly the two matched keys' old positions")
    val got = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = ((1L to 1000L).map(i =>
      (i, if (i == 10L) -10L else if (i == 20L) -20L else i)) :+ (5000L, -50L)).sortBy(_._1)
    assert(got == expected)
  }

  test("repeated MoR upsert of the same key keeps exactly one live image") {
    val root = tmpDir("morup2")
    import spark.implicits._
    VersionedTable.publish((1L to 50L).toDF("id").withColumn("v", lit(0L)), root)
    (1 to 3).foreach(i =>
      RefTableMutations.upsertMergeOnRead(spark, root,
        Seq((7L, i.toLong)).toDF("id", "v"), Seq("id")))
    val got = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got.size == 50, s"row count drifted to ${got.size}")
    assert(got.find(_._1 == 7L).map(_._2).contains(3L))
  }

  test("MoR upsert moves rows across partitions (old dies by position)") {
    val root = tmpDir("morup3")
    import spark.implicits._
    val df = (1L to 60L).toDF("id").withColumn("p", (col("id") % 3).cast("string"))
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))
    // id=9 currently in p=0; move it to p=2
    RefTableMutations.upsertMergeOnRead(spark, root,
      Seq((9L, "2")).toDF("id", "p"), Seq("id"), partitionColumns = Seq("p"))
    val got = readRef(root, "id BIGINT, p STRING", Map("partitionColumns" -> "p"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got.size == 60)
    assert(got.find(_._1 == 9L).map(_._2).contains("2"))
  }

  test("MoR changefeed apply: one O(changes) commit; replay is idempotent") {
    val root = tmpDir("morcf")
    import spark.implicits._
    VersionedTable.publish((1L to 200L).toDF("id").withColumn("v", lit(0L)), root)
    val changes = Seq(
      (5L, 50L, "update"), (300L, 3L, "insert"), (7L, 0L, "delete"))
      .toDF("id", "v", "change_type")
    val v2 = RefTableMutations.applyChangesMergeOnRead(spark, root, changes, Seq("id"))
    // one commit: batch-file + sidecar only
    assert(SnapshotFiles.listPhysical(s"$root/$v2", Nil).map(_.length).sum < 50_000)
    def state() = readRef(root, "id BIGINT, v BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = ((1L to 200L).filter(_ != 7L).map(i =>
      (i, if (i == 5L) 50L else 0L)) :+ (300L, 3L)).sortBy(_._1)
    assert(state() == expected)
    // replay the same changefeed: insert re-applies as update, the
    // deleted key's position is already gone — state unchanged
    RefTableMutations.applyChangesMergeOnRead(spark, root, changes, Seq("id"))
    assert(state() == expected)
  }

  test("MoR MERGE clauses: delete precedence, partial SET keeps target values, inserts") {
    val root = tmpDir("mormerge")
    import spark.implicits._
    VersionedTable.publish(
      (1L to 100L).toDF("id")
        .withColumn("a", col("id") * 10).withColumn("b", lit(0L)), root)
    // source: id=5 delete; id=7 update (partial SET a only); id=7 also has
    // delete-cond false; id=500 insert; id=9 matched but NO clause hits
    val src = Seq(
      (5L, 0L, "del"), (7L, 777L, "upd"), (500L, 5L, "ins"), (9L, 0L, "none"))
      .toDF("id", "na", "op")
    RefTableMutations.mergeClausesMergeOnRead(spark, root, src, Seq("id"),
      matchedUpdate = Some((col("op") === "upd", Map("a" -> col("na")))),
      matchedDelete = Some(col("op") === "del"),
      notMatchedInsert = Some((col("op") === "ins", Map("a" -> col("na"), "b" -> lit(1L)))))
    val got = readRef(root, "id BIGINT, a BIGINT, b BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val expected = ((1L to 100L).filter(_ != 5L).map(i =>
      (i, if (i == 7L) 777L else i * 10, 0L)) :+ (500L, 5L, 1L)).sortBy(_._1)
    assert(got == expected,
      s"diff: ${got.diff(expected)} / ${expected.diff(got)}")
    // only the clause-HIT keys' positions died (5 and 7, not 9)
    val cur = VersionedTable.resolve(root).get
    assert(DeletionVectors.positionsByFile(cur, conf).values.map(_.size).sum == 2)
  }

  test("SQL MERGE INTO routes merge-on-read via the mergeMode table option") {
    val root = tmpDir("sqlmerge")
    import spark.implicits._
    VersionedTable.publish((1L to 50L).toDF("id").withColumn("v", lit(0L)), root)
    val tbl = "dv_mrg_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
      "schema 'id BIGINT, v BIGINT', mergeMode 'mergeOnRead')")
    spark.sql(
      s"""MERGE INTO $tbl t USING (
         |  SELECT 3 AS k, 33 AS nv UNION ALL SELECT 99, 99
         |) s ON t.id = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.k, s.nv)""".stripMargin)
    val cur = VersionedTable.resolve(root).get
    assert(DeletionVectors.hasDv(cur, conf), "SQL MERGE did not take the MoR path")
    val got = spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.length == 51)
    assert(got.find(_._1 == 3L).map(_._2).contains(33L))
    assert(got.find(_._1 == 99L).map(_._2).contains(99L))
  }

  test("maintenance: accreted sidecars trip the materializing decision") {
    val root = tmpDir("maint")
    import spark.implicits._
    VersionedTable.publish((1L to 500L).toDF("id"), root, keepVersions = 12)
    (1 to 8).foreach(i =>
      RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") === i.toLong,
        keepVersions = 12))
    val s0 = RefTableMaintenance.signals(root)
    assert(s0.dvSidecars >= 8, s"expected >=8 sidecars, got ${s0.dvSidecars}")
    val d = RefTableMaintenance.decide(s0)
    assert(d.action == "compact" && d.reason.contains("deletion-vector"))
    val executed = RefTableMaintenance.maintain(spark, root, keepVersions = 12)
    assert(executed.version.nonEmpty)
    assert(!DeletionVectors.hasDv(VersionedTable.resolve(root).get, conf))
    assert(readRef(root, "id BIGINT").as[Long].collect().sorted.toSeq == (9L to 500L))
  }

  test("$dv metadata table reports the sidecar census through SQL") {
    val cat = "gdvmeta"
    val wh = Files.createTempDirectory("graft_dvmeta_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT) USING reftable " +
      "OPTIONS (deleteMode 'mergeOnRead')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT explode(sequence(1, 100))")
    assert(spark.sql(s"SELECT * FROM $cat.db.`t$$dv`").count() == 0)
    spark.sql(s"DELETE FROM $cat.db.t WHERE id <= 25")
    val census = spark.sql(
      s"SELECT sum(deleted_positions) FROM $cat.db.`t$$dv`").collect().head.getLong(0)
    assert(census == 25)
    spark.sql(s"CALL $cat.system.compact(table => 'db.t')")
    assert(spark.sql(s"SELECT * FROM $cat.db.`t$$dv`").count() == 0)
  }

  test("partitioned root: MoR delete + partitioned compact materialization") {
    val root = tmpDir("part")
    import spark.implicits._
    val df = (1L to 300L).toDF("id")
      .withColumn("p", (col("id") % 3).cast("string"))
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))
    RefTableMutations.deleteWhereMergeOnRead(spark, root,
      col("p") === "1" && col("id") <= 100,
      partitionColumns = Seq("p"))
    val expected = (1L to 300L).filterNot(i => i % 3 == 1 && i <= 100)
    val schema = "id BIGINT, p STRING"
    assert(readRef(root, schema, Map("partitionColumns" -> "p"))
      .select("id").as[Long].collect().sorted.toSeq == expected)
    // sidecars must only name files of partition p=1 (partition pruning
    // bounded the position pass)
    val cur = VersionedTable.resolve(root).get
    assert(DeletionVectors.positionsByFile(cur, conf).keySet.forall(_.contains("p=1")))
    // partitioned compact reads through the manifest listing (DV-applied)
    VersionedTable.compact(spark, root, partitionColumns = Seq("p"))
    val cur2 = VersionedTable.resolve(root).get
    assert(!DeletionVectors.hasDv(cur2, conf))
    assert(readRef(root, schema, Map("partitionColumns" -> "p"))
      .select("id").as[Long].collect().sorted.toSeq == expected)
  }
}
