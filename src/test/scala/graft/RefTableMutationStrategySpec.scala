package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** One change set, two strategies. Merge-on-read UPDATE and MERGE land a
  * SET on a partition column the way the merge-on-read upsert does: the old
  * row dies by position in a `_DV/` sidecar, and the new image stages under
  * its new partition directory — no file of the previous version is
  * rewritten. And under both strategies an UPDATE lands a SET on a column
  * that the touched files predate.
  */
class RefTableMutationStrategySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_strategy_$name").toString + "/t"

  private def publishThreePartitions(root: String): Unit = {
    import spark.implicits._
    VersionedTable.publish((1L to 60L).toDF("id")
      .withColumn("v", col("id") * 10)
      .withColumn("dt", concat(lit("d"), (col("id") % 3).cast("string"))), root,
      layout = Layout.Partitioned(Seq("dt")))
  }

  private def files(root: String): Set[String] =
    SnapshotFiles.list(VersionedTable.resolve(root, conf).get, Seq("dt")).map(_.path).toSet

  private def rows(root: String): Map[Long, (Long, String)] =
    spark.read.format("reftable").option("path", root)
      .option("schema", "id BIGINT, v BIGINT, dt STRING")
      .option("partitionColumns", "dt").load()
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  /** The moved rows carry their new values, every other row is unchanged,
    * the commit wrote a sidecar, and it carried every old file. */
  private def assertMoved(root: String, before: Set[String],
      moved: Map[Long, (Long, String)]): Unit = {
    val got = rows(root)
    assert(got.size == 60, s"${got.size} rows")
    (1L to 60L).foreach { i =>
      assert(got(i) == moved.getOrElse(i, (i * 10, s"d${i % 3}")), s"row $i")
    }
    assert(DeletionVectors.hasDv(VersionedTable.resolve(root, conf).get, conf),
      "no _DV/ sidecar: the change was not landed merge-on-read")
    val after = files(root)
    assert(before.subsetOf(after), s"rewritten: ${before.diff(after)}")
    assert(after.exists(_.contains("/dt=d9/")), "no image staged under dt=d9")
  }

  test("merge-on-read UPDATE SET on a partition column moves the rows") {
    val root = tmpDir("upd")
    publishThreePartitions(root)
    val before = files(root)
    RefTableMutations.updateWhereMergeOnRead(spark, root,
      Map("dt" -> lit("d9"), "v" -> (col("v") + 1)), col("id") <= 4,
      partitionColumns = Seq("dt"))
    assertMoved(root, before, (1L to 4L).map(i => i -> (i * 10 + 1, "d9")).toMap)
  }

  test("SQL MERGE INTO UPDATE SET on a partition column moves the rows under mergeMode") {
    val root = tmpDir("merge")
    publishThreePartitions(root)
    val before = files(root)
    val tbl = "strategy_merge_move"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
      "schema 'id BIGINT, v BIGINT, dt STRING', partitionColumns 'dt', " +
      "mergeMode 'mergeOnRead')")
    try {
      spark.sql(
        s"""MERGE INTO $tbl t USING (
           |  SELECT CAST(5 AS BIGINT) AS k, 'd9' AS nd UNION ALL SELECT 7, 'd9'
           |) s ON t.id = s.k
           |WHEN MATCHED THEN UPDATE SET dt = s.nd""".stripMargin)
      assertMoved(root, before, Map(5L -> (50L, "d9"), 7L -> (70L, "d9")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("UPDATE SET on a column the touched file predates lands under both strategies") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    for (mor <- Seq(false, true)) {
      val root = tmpDir(if (mor) "evolved_mor" else "evolved_cow")
      VersionedTable.publish(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").repartition(1), root)
      // a later append carries x; the first file predates it
      val opts = RefTableOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> root, "schema" -> "k BIGINT, v BIGINT, x BIGINT").asJava))
      RefTableWrites.appendVersion(opts, Seq((3L, 30L, 300L)).toDF("k", "v", "x"))
      if (mor) RefTableMutations.updateWhereMergeOnRead(
        spark, root, Map("x" -> lit(7L)), col("k") === 1L)
      else RefTableMutations.updateWhere(spark, root, Map("x" -> lit(7L)), col("k") === 1L)
      val got = spark.read.format("reftable").option("path", root)
        .option("schema", "k BIGINT, v BIGINT, x BIGINT").option("allowMissingColumns", "true")
        .load().collect().map(r =>
          (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1).toSeq
      assert(got == Seq((1L, 10L, Some(7L)), (2L, 20L, None), (3L, 30L, Some(300L))),
        s"mergeOnRead=$mor")
    }
  }

  test("a DELETE that empties a partitioned table leaves it mutable and compactable") {
    import spark.implicits._
    def emptied(name: String): String = {
      val root = tmpDir(name)
      VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "p"), root,
        layout = Layout.Partitioned(Seq("p")))
      RefTableMutations.deleteWhere(spark, root, col("k") > 0, partitionColumns = Seq("p"))
      // the partitioned write of the empty result staged no file at all
      assert(SnapshotFiles.list(VersionedTable.resolve(root, conf).get, Seq("p")).isEmpty)
      root
    }
    def read(root: String): Seq[(Long, String)] = spark.read.format("reftable")
      .option("path", root).option("schema", "k BIGINT, p STRING")
      .option("partitionColumns", "p").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    val up = emptied("empty_up")
    RefTableMutations.upsert(spark, up, Seq((3L, "c"), (1L, "a")).toDF("k", "p"), Seq("k"),
      partitionColumns = Seq("p"))
    assert(read(up) == Seq((1L, "a"), (3L, "c")))

    val cp = emptied("empty_compact")
    VersionedTable.compact(spark, cp, partitionColumns = Seq("p"))
    assert(read(cp).isEmpty)
    RefTableMutations.upsertMergeOnRead(spark, cp, Seq((4L, "d")).toDF("k", "p"), Seq("k"),
      partitionColumns = Seq("p"))
    assert(read(cp) == Seq((4L, "d")))
  }
}
