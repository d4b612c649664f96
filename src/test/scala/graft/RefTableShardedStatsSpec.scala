package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The sharded `_STATS/` parquet manifest: the file-count-scale form of the
  * skipping layer. A single `_STATS.json` is a driver-parsed document —
  * free at 8 files, a hundreds-of-MB parse at a million. The sharded form
  * keeps per-file stats as parquet rows; pruning joins the listing against
  * the shards and evaluates the Tri algebra executor-side, so the driver
  * materializes only the surviving file list. These specs prove: (1) both
  * formats surface identical stats; (2) real reads skip identically through
  * the sharded path, down to the executed scan's partition count; (3) a
  * 10k-entry manifest prunes to O(matching) survivors with stale/unknown
  * files failing open; (4) categorical augmentation rewrites shards in
  * place; (5) timestamp columns now participate (INT64 micros are exact).
  */
class RefTableShardedStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_shard_$name").toString

  private def opts(pairs: (String, String)*): RefTableOptions =
    RefTableOptions.from(new CaseInsensitiveStringMap(pairs.toMap.asJava))

  /** Replace a version dir's JSON manifest with the sharded parquet form
    * (threshold 0 forces sharding at any file count).
    */
  private def shardify(resolved: String): Unit = {
    val fs = new Path(resolved).getFileSystem(conf)
    assert(fs.delete(new Path(resolved, RefTableStats.ManifestName), false),
      "expected a JSON manifest to replace")
    RefTableStats.writeManifest(resolved, conf, shardThreshold = 0)
    assert(fs.exists(new Path(resolved, RefTableStats.ShardDirName)))
    assert(!fs.exists(new Path(resolved, RefTableStats.ManifestName)))
  }

  private def corpus() = {
    import spark.implicits._
    (0 until 1000).map { id =>
      val v: java.lang.Double =
        if (id % 7 == 0) null
        else if (id % 53 == 0) Double.NaN
        else if (id % 11 == 0) -0.0d
        else id * 1.5d - 200.0d
      (id.toLong, id % 10, v)
    }.toDF("id", "b", "v")
  }

  test("sharded manifest surfaces exactly the stats the JSON document held") {
    val root = tmpDir("equiv")
    VersionedTable.publish(corpus(), root, layout = Layout.Clustered(Seq("id"))(files = 4))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    val fromJson = RefTableStats.load(resolved, conf).get
    shardify(resolved)
    val fromShards = RefTableStats.load(resolved, conf).get
    assert(fromShards == fromJson,
      "the two manifest formats must be indistinguishable to consumers")
  }

  test("reads through the sharded manifest skip files, result-identically") {
    val root = tmpDir("skip")
    VersionedTable.publish(corpus(), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    shardify(SnapshotFiles.resolveDir(root, None, conf))
    val o = opts("path" -> root, "schema" -> "id BIGINT, b INT, v DOUBLE")
    assert(SnapshotFiles.pruned(o, Nil).size == 8)
    val narrow = SnapshotFiles.pruned(o,
      Seq(And(GreaterThanOrEqual("id", 100L), LessThan("id", 150L))))
    assert(narrow.size <= 2, s"expected <=2 of 8 files, planned ${narrow.size}")
    def read(enabled: Boolean) = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, b INT, v DOUBLE")
      .option("statsPruning", enabled.toString).load()
      .filter(col("id") >= 100L && col("id") < 150L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(read(enabled = true)) == ids(read(enabled = false)))
    assert(ids(read(enabled = true)) == (100L until 150L))
    val scans = read(enabled = true).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty && scans.head.partitions.size <= 2,
      s"sharded pruning must reach the planned scan, got ${scans.map(_.partitions.size)}")
  }

  test("a 10k-entry sharded manifest prunes to O(matching) survivors; stale and unknown files fail open") {
    import spark.implicits._
    val dir = tmpDir("tenk")
    val fs = new Path(dir).getFileSystem(conf)
    val qualified = fs.makeQualified(new Path(dir)).toString
    val n = 10000
    // file i covers ids [i*100, i*100+99]; file 7000 claims zero rows
    val manifestRows = (0 until n).map { i =>
      val rows = if (i == 7000) 0L else 100L
      (f"part-$i%05d.parquet", 1000L + i, rows,
        s"""{"id":{"min":${i * 100L},"max":${i * 100L + 99L},"nulls":0}}""")
    }
    manifestRows.toDF("path", "len", "rows", "cols").repartition(4)
      .write.parquet(new Path(dir, RefTableStats.ShardDirName).toString)
    // the listing: all 10k files, plus one the manifest never saw, plus one
    // whose length disagrees (replaced in place) — both must survive
    val listed =
      (0 until n).map { i =>
        val len = if (i == 4000) 1L else 1000L + i // 4000 is the stale entry
        SnapshotFile(qualified + f"/part-$i%05d.parquet", len)
      } :+ SnapshotFile(s"$qualified/part-unknown.parquet", 5L)
    val o = opts("path" -> dir, "schema" -> "id BIGINT")
    // ids [500000, 500200) live in files 5000 and 5001 exactly; 7000 (zero
    // rows) would only appear under a filter matching its range, so the
    // box here proves skipping, and the survivors are: 2 matching + the
    // stale file + the unknown file
    val survivors = RefTableStats.prune(dir, listed, o,
      Seq(And(GreaterThanOrEqual("id", 500000L), LessThan("id", 500200L))), conf)
    val names = survivors.map(_.path.split('/').last).toSet
    assert(names == Set("part-05000.parquet", "part-05001.parquet",
      "part-04000.parquet", "part-unknown.parquet"),
      s"got $names")
    // a filter over the zero-rows file's range skips it (no rows, no outcome)
    val zero = RefTableStats.prune(dir, listed, o,
      Seq(And(GreaterThanOrEqual("id", 700000L), LessThan("id", 700050L))), conf)
    assert(!zero.map(_.path.split('/').last).contains("part-07000.parquet"))
  }

  test("augmentCategorical rewrites the sharded manifest in place") {
    import spark.implicits._
    val root = tmpDir("cat")
    val df = (0 until 1000).map { i =>
      val seg = if (i % 97 == 0) null else s"seg${i % 5}"
      (i.toLong, seg, s"payload$i")
    }.toDF("id", "seg", "payload")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("seg"))(files = 5))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    shardify(resolved)
    RefTableStats.augmentCategorical(spark, resolved, Seq("seg"))
    val o = opts("path" -> root, "schema" -> "id BIGINT, seg STRING, payload STRING")
    val all = SnapshotFiles.pruned(o, Nil).size
    def planned(fs0: Filter*) = SnapshotFiles.pruned(o, fs0.toSeq).size
    assert(planned(EqualTo("seg", "seg3")) < all)
    assert(planned(EqualTo("seg", "nonexistent")) == 0)
    // results identical with skipping on and off, nulls included
    def rows(skip: Boolean, cond: org.apache.spark.sql.Column) = spark.read
      .format("reftable").option("path", root)
      .option("schema", "id BIGINT, seg STRING, payload STRING")
      .option("statsPruning", skip.toString).load()
      .filter(cond).select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (cond <- Seq(col("seg") === "seg2", col("seg").isNull,
        !(col("seg") === "seg2"))) {
      assert(rows(skip = true, cond) == rows(skip = false, cond), s"cond $cond")
    }
  }

  test("timestamp columns participate in skipping (INT64 micros bounds)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val dir = tmpDir("ts")
    // Spark's parquet default is INT96 (no statable bounds); the publish
    // path pins TIMESTAMP_MICROS — mirror that for this bare-dir write
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Seq((1L, ts("2024-01-05T00:00:00Z")), (2L, ts("2024-03-20T12:30:00Z")))
        .toDF("id", "t").coalesce(1).write.mode("append").parquet(dir)
      Seq((3L, ts("2024-07-02T08:00:00Z")), (4L, ts("2024-09-15T23:59:59Z")))
        .toDF("id", "t").coalesce(1).write.mode("append").parquet(dir)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    RefTableStats.writeManifest(dir, conf)
    val o = opts("path" -> dir, "schema" -> "id BIGINT, t TIMESTAMP")
    val listed = SnapshotFiles.list(dir)
    assert(listed.size == 2)
    val late = RefTableStats.prune(dir, listed, o,
      Seq(GreaterThan("t", ts("2024-06-01T00:00:00Z"))), conf)
    assert(late.size == 1, s"expected the early file skipped, planned ${late.size}")
    // and through the source: identical results with skipping on and off
    def read(enabled: Boolean) = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, t TIMESTAMP")
      .option("statsPruning", enabled.toString).load()
      .filter(col("t") > lit(ts("2024-06-01T00:00:00Z")))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(read(enabled = true) == Seq(3L, 4L))
    assert(read(enabled = true) == read(enabled = false))
  }
}
