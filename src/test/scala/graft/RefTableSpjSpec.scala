package graft

import java.nio.file.Files

import graft.sources.reftable.{Layout, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned joins through the source: two reftables Hive-
  * partitioned on the same key, read with `groupByPartition`, must join
  * on that key with NO shuffle on either side — the scan reports
  * KeyGroupedPartitioning and each planned partition carries its key
  * ([[graft.sources.reftable.RefTableGroupedInputPartition]]), so Spark's
  * v2-bucketing machinery matches them in place. Results must equal the
  * plain (shuffled) join, including when one side is missing whole
  * partition values.
  */
class RefTableSpjSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withConfs[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val ddl = "bkt BIGINT, id BIGINT, v BIGINT"

  private def readGrouped(root: String): DataFrame =
    spark.read.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("partitionColumns", "bkt")
      .option("groupByPartition", "true")
      .load()

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }.size

  test("co-partitioned reftables equi-join with zero shuffles; values match the plain join") {
    import spark.implicits._
    val r1 = Files.createTempDirectory("graft_spj_a").toString
    val r2 = Files.createTempDirectory("graft_spj_b").toString
    val t1 = (0L until 2000L).map(i => (i % 8, i, i * 10)).toDF("bkt", "id", "v")
    // t2 misses bucket 5 entirely — partition matching must handle a value
    // present on one side only (empty side contributes no rows)
    val t2 = (0L until 1500L).filter(_ % 8 != 5).map(i => (i % 8, i, i * 100)).toDF("bkt", "id", "v")
    VersionedTable.publish(t1, r1, layout = Layout.Partitioned(Seq("bkt")))
    VersionedTable.publish(t2, r2, layout = Layout.Partitioned(Seq("bkt")))

    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      // join keys (bkt, id) are a SUPERSET of the partition key (bkt);
      // co-partition on the partition-key subset must be accepted
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val a = readGrouped(r1)
      val b = readGrouped(r2).withColumnRenamed("v", "w")
      val joined = a.join(b, Seq("bkt", "id"))
      assert(shuffles(joined) == 0,
        s"storage-partitioned join must plan no Exchange:\n${joined.queryExecution.executedPlan}")
      val got = joined.select("bkt", "id", "v", "w").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val expected = (0L until 1500L).filter(_ % 8 != 5)
        .map(i => (i % 8, i, i * 10, i * 100))
      assert(got == expected)
    }
  }

  test("grouped aggregation on the partition key also plans no shuffle") {
    import spark.implicits._
    val r1 = Files.createTempDirectory("graft_spj_agg").toString
    VersionedTable.publish(
      (0L until 800L).map(i => (i % 4, i, i * 2)).toDF("bkt", "id", "v"), r1,
      layout = Layout.Partitioned(Seq("bkt")))
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false") {
      val agg = readGrouped(r1).groupBy("bkt").agg(count(lit(1)).as("n"), sum("v").as("s"))
      assert(shuffles(agg) == 0,
        s"partition-keyed aggregate must plan no Exchange:\n${agg.queryExecution.executedPlan}")
      val got = agg.orderBy("bkt").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((0L, 200L), (1L, 200L), (2L, 200L), (3L, 200L)))
    }
  }

  test("grouped scan without the v2-bucketing conf still reads correctly") {
    import spark.implicits._
    val r1 = Files.createTempDirectory("graft_spj_plain").toString
    VersionedTable.publish(
      (0L until 300L).map(i => (i % 3, i, i)).toDF("bkt", "id", "v"), r1,
      layout = Layout.Partitioned(Seq("bkt")))
    val got = readGrouped(r1).agg(count(lit(1)), sum("id")).first()
    assert(got.getLong(0) == 300L && got.getLong(1) == (0L until 300L).sum)
  }
}
