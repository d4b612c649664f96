package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableMutations, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Reftable storage code takes its Hadoop conf from the session, like
  * Spark's own file sources: a filesystem registered only through the
  * session's settings serves publishes, batch reads, upserts and streams.
  */
class RefTableSessionConfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ddl = "id BIGINT, name STRING"

  // the FileSystem cache would hand later lookups an instance created by
  // whichever conf saw the scheme first, masking a conf without it
  private val sessionKeys = Seq(
    "fs.sessfs.impl" -> classOf[SessionOnlyFileSystem].getName,
    "fs.sessfs.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.sessfs.impl" -> classOf[SessionOnlyFs].getName)

  private def withSessionFs[T](body: => T): T = {
    sessionKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally sessionKeys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def readRows(root: String): Seq[(Long, String)] = spark.read.format("reftable")
    .option("path", root).option("schema", ddl).load()
    .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("a scheme registered only in the session serves publish, read, upsert and a stream") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_sessfs")
    Files.delete(d)
    val root = s"sessfs://$d"
    withSessionFs {
      VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
      assert(readRows(root) == Seq((1L, "a"), (2L, "b")))

      RefTableMutations.upsert(spark, root, Seq((2L, "B"), (3L, "c")).toDF("id", "name"), Seq("id"))
      val expected = Seq((1L, "a"), (2L, "B"), (3L, "c"))
      assert(readRows(root) == expected)

      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
      val q = spark.readStream.format("reftable")
        .option("path", root).option("schema", ddl)
        .option("refreshInterval", "1h").option("emitMode", "trigger")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
          batches.synchronized { batches += rows }
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory("graft_sessfs_ck").toString)
        .trigger(Trigger.ProcessingTime(150))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (batches.synchronized(batches.size) < 3 && q.exception.isEmpty &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        q.exception.foreach(e => fail(s"stream failed: ${e.getMessage}", e))
      } finally q.stop()
      val got = batches.synchronized(batches.toList)
      assert(got.size >= 3, s"expected >= 3 micro-batches, got ${got.size}")
      got.foreach(b => assert(b == expected, s"every batch must be the full snapshot, got $b"))
    }
  }
}
