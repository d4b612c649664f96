package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming UPDATE mode into a keyed reftable — the watermarked-aggregation
  * output shape. A table that declares `keyColumns` accepts
  * `outputMode("update")`: each epoch's changed rows apply as an O(epoch)
  * merge-on-read upsert on the declared keys (DSv2 signals update mode
  * purely through the `SupportsStreamingUpdateAsAppend` marker, so keyed
  * tables apply EVERY non-complete epoch as an upsert — see
  * RefTableKeyedWriteBuilder). Exactly-once rides the same
  * `txn:<appId>:<epochId>` marker as the append sink.
  */
class RefTableUpdateSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def withCatalog[T](f: (String, String) => T): T = {
    val cat = s"gupcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_upwh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    f(cat, wh)
  }

  test("toTable update mode: aggregation state converges to the batch aggregate") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.ua (name STRING, cnt BIGINT) USING reftable " +
        "OPTIONS (keyColumns 'name')")
      val base = Files.createTempDirectory("graft_up_in_")
      val in = s"$base/in"
      val ck = s"$base/ck"
      def drain(): Unit = {
        val q = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .groupBy("name").agg(count(lit(1)).as("cnt"))
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.ua")
        q.awaitTermination(120000)
        q.stop()
      }
      def readBack() = spark.table(s"$cat.db.ua").orderBy("name")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // two epochs with OVERLAPPING keys: epoch 2 must UPDATE red in place
      Seq((1L, "red"), (2L, "red"), (3L, "blue")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$in/f0")
      Seq((4L, "red"), (5L, "green")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$in/f1")
      drain()
      assert(readBack() == Seq(("blue", 1L), ("green", 1L), ("red", 3L)))

      // restart with a new epoch: updates existing keys, no duplicates
      Seq((6L, "blue"), (7L, "blue")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$in/f2")
      drain()
      assert(readBack() == Seq(("blue", 3L), ("green", 1L), ("red", 3L)))

      // forced replay of the last epoch: the txn marker must land nothing
      val root = s"$wh/db/ua"
      val commits = new java.io.File(s"$ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      val nBefore = VersionedTable.versionDirs(root, conf).size
      assert(commits.last.delete())
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      drain()
      assert(readBack() == Seq(("blue", 3L), ("green", 1L), ("red", 3L)),
        "replayed update epoch must not re-apply")
      assert(VersionedTable.versionDirs(root, conf).size == nBefore)
    }
  }

  test("update mode refused without keyColumns (no merge key declared)") {
    withCatalog { (cat, _) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.nokey (name STRING, cnt BIGINT) USING reftable")
      val base = Files.createTempDirectory("graft_upnk_in_")
      Seq((1L, "x")).toDF("id", "name").write.parquet(s"$base/in/f0")
      val e = intercept[Exception] {
        val q = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true").parquet(s"$base/in")
          .groupBy("name").agg(count(lit(1)).as("cnt"))
          .writeStream
          .option("checkpointLocation", s"$base/ck")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.nokey")
        q.awaitTermination(120000)
        q.stop()
      }
      // Spark itself refuses: the plain builder lacks the update marker
      assert(e.getMessage != null)
    }
  }

  test("keyed format() update stream: a force-replayed last epoch lands nothing") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upfrp_")
    val root = s"$base/t"
    val in = s"$base/in"
    val ck = s"$base/ck"
    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
        .parquet(in)
        .groupBy("name").agg(count(lit(1)).as("cnt"))
        .writeStream.format("reftable")
        .option("path", root).option("schema", "name STRING, cnt BIGINT")
        .option("keyColumns", "name")
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    def readBack() = spark.read.format("reftable")
      .option("path", root).option("schema", "name STRING, cnt BIGINT").load()
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Seq((1L, "red"), (2L, "blue")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    Seq((3L, "red"), (4L, "green")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f1")
    drain()
    assert(readBack() == Seq(("blue", 1L), ("green", 1L), ("red", 2L)))
    // the last epoch's commit is dropped from the checkpoint: the restart
    // re-runs it against the sink, and its marker must land nothing
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val nBefore = VersionedTable.versionDirs(root, conf).size
    assert(commits.last.delete())
    new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc").delete()
    drain()
    assert(readBack() == Seq(("blue", 1L), ("green", 1L), ("red", 2L)),
      "replayed update epoch must not re-apply")
    assert(VersionedTable.versionDirs(root, conf).size == nBefore,
      "a replayed epoch must not publish a version")
    // a restart with no new data: no version churn
    drain()
    assert(VersionedTable.versionDirs(root, conf).size == nBefore)
  }

  test("format() update mode without keyColumns is refused at start") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upfnk_")
    Seq((1L, "x")).toDF("id", "name").write.parquet(s"$base/in/f0")
    val e = intercept[Exception] {
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").parquet(s"$base/in")
        .groupBy("name").agg(count(lit(1)).as("cnt"))
        .writeStream.format("reftable")
        .option("path", s"$base/t").option("schema", "name STRING, cnt BIGINT")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    assert(e.getMessage != null)
    assert(VersionedTable.resolve(s"$base/t").isEmpty, "a refused stream lands nothing")
  }

  test("keyed table via format(): update epochs land through the DSv2 upsert") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upfmt_")
    val root = s"$base/t"
    val in = s"$base/in"
    val ck = s"$base/ck"
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "v")
      .coalesce(1).write.parquet(s"$in/f0")
    Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("k", "s", "v")
      .coalesce(1).write.parquet(s"$in/f1")
    val q = spark.readStream.schema("k LONG, s STRING, v DOUBLE")
      .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
      .parquet(in)
      .dropDuplicates("k") // stateful op so update mode is meaningful
      .writeStream.format("reftable")
      .option("path", root)
      .option("schema", "k BIGINT, s STRING, v DOUBLE")
      .option("keyColumns", "k")
      .option("checkpointLocation", ck)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "k BIGINT, s STRING, v DOUBLE").load()
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // dropDuplicates emits each key once (first image wins)
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("complete mode: an empty epoch publishes an EMPTY version, not a skip") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_upce_").toString + "/t"
    VersionedTable.publish(Seq((1L, 1.0)).toDF("id", "v"), root)
    val params = Map("path" -> root, "schema" -> "id BIGINT, v DOUBLE")
    val opts = RefTableOptions.from(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(params).asJava))
    val w = new RefTableStreamingWrite(opts, truncate = true, appId = "ce")
    w.commit(0, Array.empty)
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, v DOUBLE").load().count()
    assert(got == 0L, "complete-mode empty epoch must truncate the table")
  }
}
