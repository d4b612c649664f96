package graft

import java.nio.file.Files

import graft.sources.reftable.{SnapshotFiles, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** A streaming scan's optimizer statistics describe the generation its
  * batch reads — the listing the stream pinned — not the table as it is
  * when the batch is planned.
  */
class RefTableStreamStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ddl = "id BIGINT, name STRING"

  test("streaming scan statistics size the pinned generation, not a version published mid-generation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_stream_stats").toString
    VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1), root)
    val pinnedBytes = SnapshotFiles.list(root).map(_.length).sum

    @volatile var published = false
    @volatile var query: StreamingQuery = null
    // (planned after the large publish, scan relation sizeInBytes, row count)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Boolean, BigInt, Long)]
    val q = spark.readStream.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("refreshInterval", "1h").option("emitMode", "trigger")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val after = published
        // the batch's own plan: the DataFrame handed to foreachBatch wraps
        // an RDD, the scan relation lives in the query's last execution
        Option(query).foreach { running =>
          val size = running.asInstanceOf[StreamingQueryWrapper].streamingQuery
            .lastExecution.optimizedPlan.collectFirst {
              case r: StreamingDataSourceV2ScanRelation => r.stats.sizeInBytes
            }.getOrElse(BigInt(-1))
          val n = b.count()
          seen.synchronized { seen += ((after, size, n)) }
        }
      }
      .option("checkpointLocation", Files.createTempDirectory("graft_stream_stats_ck").toString)
      .trigger(Trigger.ProcessingTime(150))
      .start()
    query = q
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!cond && q.exception.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      q.exception.foreach(e => fail(s"stream failed: ${e.getMessage}", e))
    }
    val largeBytes = try {
      waitFor(seen.synchronized(seen.nonEmpty))
      VersionedTable.publish(
        (1L to 20000L).map(i => (i, s"name-$i")).toDF("id", "name").repartition(4), root)
      published = true
      waitFor(seen.synchronized(seen.count(_._1) >= 2))
      SnapshotFiles.list(root).map(_.length).sum
    } finally q.stop()
    assert(largeBytes > 10 * pinnedBytes, s"the new version must be much larger: $largeBytes vs $pinnedBytes")
    val after = seen.synchronized(seen.filter(_._1).toList)
    assert(after.size >= 2, s"expected >= 2 batches after the publish, got $after")
    after.foreach { case (_, size, n) =>
      assert(n == 2L, "the generation stays pinned to the first version")
      assert(size == BigInt(pinnedBytes),
        s"stats must size the pinned generation ($pinnedBytes B), got $size B (new version: $largeBytes B)")
    }
  }
}
