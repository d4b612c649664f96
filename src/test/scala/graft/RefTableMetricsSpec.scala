package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scan observability ([[RefTableMetrics]]): the DSv2 custom metrics on the
  * reftable scan node must report pruning effectiveness (filesListed /
  * filesPruned, driver-side) and actual read volume (filesRead / splitBytes /
  * dvRowsSkipped, summed over tasks) — the numbers an operator uses to tell
  * whether partition pruning and MoR deletion vectors actually did their job
  * on a big scan. Streaming sources report per-trigger source metrics
  * through `StreamingQueryProgress` instead.
  */
class RefTableMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_metrics_$name").toString

  private def readRef(root: String, schema: String, extra: Map[String, String] = Map.empty) = {
    var r = spark.read.format("reftable").option("path", root).option("schema", schema)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  private def reftableScans(p: SparkPlan): Seq[BatchScanExec] =
    p.collect { case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => reftableScans(a.executedPlan) }.flatten

  /** Execute the frame and return the single scan node's SQL metric values. */
  private def scanMetrics(df: DataFrame): Map[String, Long] = {
    df.collect()
    val scans = reftableScans(df.queryExecution.executedPlan)
    assert(scans.size == 1, s"expected one scan, got: $scans")
    scans.head.metrics.map { case (k, m) => k -> m.value }
  }

  test("partition-filtered scan reports filesListed/filesPruned/filesRead/splitBytes") {
    val root = tmpDir("prune")
    import spark.implicits._
    val df = (1L to 600L).map(i => (i, (i % 6).toString)).toDF("id", "bucket")
    VersionedTable.publish(df.repartition(3), root, layout = Layout.Partitioned(Seq("bucket")))

    val listed = SnapshotFiles.list(root, Seq("bucket"))
    val kept = listed.count(_.partitionValues("bucket") == "1")
    assert(listed.size > kept && kept > 0, s"layout degenerate: ${listed.size} / $kept")

    val m = scanMetrics(
      readRef(root, "id BIGINT, bucket STRING",
        Map("partitionColumns" -> "bucket")).filter(col("bucket") === "1"))
    assert(m(RefTableMetrics.FilesListed) == listed.size.toLong, m.toString)
    assert(m(RefTableMetrics.FilesPruned) == (listed.size - kept).toLong, m.toString)
    assert(m(RefTableMetrics.FilesRead) == kept.toLong, m.toString)
    assert(m(RefTableMetrics.SplitBytes) ==
      listed.filter(_.partitionValues("bucket") == "1").map(_.length).sum, m.toString)
    assert(m(RefTableMetrics.DvRowsSkipped) == 0L, m.toString)
  }

  test("unfiltered scan reports zero pruned; all files read") {
    val root = tmpDir("full")
    import spark.implicits._
    VersionedTable.publish((1L to 100L).toDF("id").repartition(4), root)
    val listed = SnapshotFiles.list(root)
    val m = scanMetrics(readRef(root, "id BIGINT"))
    assert(m(RefTableMetrics.FilesListed) == listed.size.toLong, m.toString)
    assert(m(RefTableMetrics.FilesPruned) == 0L, m.toString)
    assert(m(RefTableMetrics.FilesRead) == listed.size.toLong, m.toString)
  }

  test("MoR-deleted rows surface as dvRowsSkipped") {
    val root = tmpDir("dv")
    import spark.implicits._
    VersionedTable.publish((1L to 1000L).toDF("id").repartition(2), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 10 === 0)
    val frame = readRef(root, "id BIGINT")
    val m = scanMetrics(frame)
    assert(frame.count() == 900L)
    assert(m(RefTableMetrics.DvRowsSkipped) == 100L, m.toString)
  }

  test("optimizer row-count estimate comes from the stats manifest, DV-adjusted") {
    val root = tmpDir("rows")
    import spark.implicits._
    VersionedTable.publish((1L to 1000L).toDF("id").repartition(2), root)
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") % 10 === 0)
    val rc = readRef(root, "id BIGINT").queryExecution.optimizedPlan.stats.rowCount
    assert(rc.contains(BigInt(900)), s"rowCount=$rc")
  }

  test("streaming progress carries generation/snapshotFiles/snapshotBytes") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("stream")
    import spark.implicits._
    VersionedTable.publish((1L to 50L).toDF("id").repartition(2), root)
    val listed = SnapshotFiles.list(root)
    val progresses =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val q = spark.readStream.format("reftable")
      .option("path", root).option("schema", "id BIGINT")
      .option("refreshInterval", "1s")
      .load()
      .writeStream.format("noop")
      .option("checkpointLocation", tmpDir("stream_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    import scala.jdk.CollectionConverters._
    q.recentProgress.foreach(p =>
      progresses += p.sources.head.metrics.asScala.toMap)
    q.stop()
    val withMetrics = progresses.filter(_.contains("snapshotFiles"))
    assert(withMetrics.nonEmpty, s"no source metrics in: $progresses")
    val sm = withMetrics.last
    assert(sm("snapshotFiles") == listed.size.toString, sm.toString)
    assert(sm("snapshotBytes") == listed.map(_.length).sum.toString, sm.toString)
    assert(sm.contains("generation") && sm.contains("filesEmitted"), sm.toString)
  }
}
