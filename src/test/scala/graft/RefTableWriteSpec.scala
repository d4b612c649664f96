package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableStats, SnapshotFiles, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** The reftable write path: INSERT INTO / INSERT OVERWRITE / DataFrame
  * writes publish versions (never mutate in place), compose with the
  * versioned layer's retention and the stats manifest, and refuse the
  * unsafe targets.
  */
class RefTableWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_write_$name")
    Files.delete(d) // the writer should create it
    d.toString
  }

  private val ddl = "id BIGINT, name STRING"

  private def readBack(root: String) = spark.read.format("reftable")
    .option("path", root).option("schema", ddl).load()
    .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("a batch append whose stats augmentation fails returns, lands its rows and reports") {
    import spark.implicits._
    // the table's filesystem refuses to rewrite a published stats manifest
    val root = s"nostats://${tmpDir("statsfail")}"
    val captured = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try Seq((1L, "red"), (2L, "blue")).toDF("id", "name")
      .write.format("reftable").option("path", root).option("schema", ddl)
      .option("categoricalStats", "name").mode("append").save()
    finally System.setErr(err)
    assert(readBack(root) == Seq((1L, "red"), (2L, "blue")), "the commit stands")
    val reported = captured.toString("UTF-8").linesIterator
      .filter(_.contains(s"stats augmentation failed on $root")).toSeq
    assert(reported.size == 1, captured.toString("UTF-8"))
  }

  test("DataFrame overwrite then append publish versions; both readable and retained") {
    import spark.implicits._
    val root = tmpDir("df")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.format("reftable").option("path", root).option("schema", ddl)
      .mode("overwrite").save()
    assert(readBack(root) == Seq((1L, "a"), (2L, "b")))
    assert(VersionedTable.resolve(root, conf).nonEmpty, "writer must create a versioned root")

    Seq((3L, "c")).toDF("id", "name")
      .write.format("reftable").option("path", root).option("schema", ddl)
      .mode("append").save()
    assert(readBack(root) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // append produced a NEW version; the pre-append version is retained
    assert(VersionedTable.versionDirs(root, conf).size == 2)

    Seq((9L, "z")).toDF("id", "name")
      .write.format("reftable").option("path", root).option("schema", ddl)
      .mode("overwrite").save()
    assert(readBack(root) == Seq((9L, "z")))
    assert(VersionedTable.versionDirs(root, conf).size == 3)
  }

  test("SQL INSERT INTO and INSERT OVERWRITE work against a created table") {
    import spark.implicits._
    val root = tmpDir("sql")
    val table = "graft_write_sql_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // no column list: the provider owns its schema (options), like reads do
    spark.sql(
      s"""CREATE TABLE $table USING reftable
         |OPTIONS (path '$root', schema '$ddl')""".stripMargin)
    try {
      spark.sql(s"INSERT INTO $table VALUES (1, 'a'), (2, 'b')")
      spark.sql(s"INSERT INTO $table SELECT 3L, 'c'")
      assert(spark.table(table).orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      spark.sql(s"INSERT OVERWRITE $table VALUES (7, 'x')")
      assert(spark.table(table).as[(Long, String)].collect().toSeq == Seq((7L, "x")))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("written tables carry the stats manifest and skip files") {
    import spark.implicits._
    val root = tmpDir("stats")
    (0 until 1000).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id"))
      .write.format("reftable").option("path", root).option("schema", ddl)
      .mode("overwrite").save()
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    assert(RefTableStats.load(resolved, conf).nonEmpty)
  }

  test("rowField writes store the key under its storage column name") {
    import spark.implicits._
    val root = tmpDir("rowfield")
    val writerDdl = "row_key BIGINT NOT NULL, payload STRING"
    Seq((1L, "p1"), (2L, "p2")).toDF("row_key", "payload")
      .write.format("reftable").option("path", root)
      .option("schema", writerDdl)
      .option("rowField", "row_key").option("keyColumn", "k")
      .mode("overwrite").save()
    // the file holds column `k`; reading WITHOUT rowField sees storage names
    val stored = spark.read.parquet(SnapshotFiles.resolveDir(root, None, conf))
    assert(stored.columns.sorted.toSeq == Seq("k", "payload"))
    // and reading WITH the same rowField mapping round-trips
    val rt = spark.read.format("reftable")
      .option("path", root).option("schema", writerDdl)
      .option("rowField", "row_key").option("keyColumn", "k").load()
      .orderBy("row_key").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rt == Seq((1L, "p1"), (2L, "p2")))
  }

  test("partitioned writes publish Hive layouts; append merges through the source") {
    import spark.implicits._
    val root = tmpDir("part")
    val pddl = "id BIGINT, bucket STRING"
    def w(rows: Seq[(Long, String)], mode: String) =
      rows.toDF("id", "bucket").write.format("reftable")
        .option("path", root).option("schema", pddl)
        .option("partitionColumns", "bucket").mode(mode).save()
    w(Seq((1L, "x"), (2L, "y")), "overwrite")
    w(Seq((3L, "x")), "append")
    val cur = SnapshotFiles.resolveDir(root, None, conf)
    assert(new java.io.File(cur, "bucket=x").isDirectory)
    val back = spark.read.format("reftable")
      .option("path", root).option("schema", pddl)
      .option("partitionColumns", "bucket").load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "x"), (2L, "y"), (3L, "x")))
  }

  test("unsafe targets are refused: bare parquet dirs, pinned versions, gen columns") {
    import spark.implicits._
    val bare = Files.createTempDirectory("graft_write_bare").toString
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(bare)
    val df = Seq((2L, "b")).toDF("id", "name")
    val e1 = intercept[Exception] {
      df.write.format("reftable").option("path", bare).option("schema", ddl)
        .mode("append").save()
    }
    assert(e1.getMessage.contains("bare snapshot data"), e1.getMessage)

    // a bare Hive layout (partition dirs, no pointer) is refused too — a
    // new pointer would silently shadow it for every reader of the root
    val bareHive = Files.createTempDirectory("graft_write_barehive").toString
    Seq((1L, "a", "x")).toDF("id", "name", "bucket")
      .write.partitionBy("bucket").mode("overwrite").parquet(bareHive)
    val eHive = intercept[Exception] {
      df.write.format("reftable").option("path", bareHive).option("schema", ddl)
        .mode("overwrite").save()
    }
    assert(eHive.getMessage.contains("bare snapshot data"), eHive.getMessage)

    val root = tmpDir("refuse")
    df.write.format("reftable").option("path", root).option("schema", ddl)
      .mode("overwrite").save()
    val v1 = VersionedTable.versionDirs(root, conf).head
    val e2 = intercept[Exception] {
      df.write.format("reftable").option("path", root).option("schema", ddl)
        .option("version", v1).mode("append").save()
    }
    assert(e2.getMessage.contains("read-only"), e2.getMessage)

    // with the gen column supplied the analyzer passes and OUR guard fires
    val e3 = intercept[Exception] {
      Seq((2L, "b", 0L)).toDF("id", "name", "gen")
        .write.format("reftable").option("path", tmpDir("gen")).option("schema", ddl)
        .option("genColumn", "gen").mode("overwrite").save()
    }
    assert(e3.getMessage.contains("read-only"), e3.getMessage)
  }

  test("writer layout options: clusterBy/zorderBy/categoricalStats drive skipping") {
    import spark.implicits._
    import graft.sources.reftable.{RefTableOptions => RO}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    def ro(pairs: (String, String)*) =
      RO.from(new CaseInsensitiveStringMap(pairs.toMap.asJava))
    val root = tmpDir("layoutopts")
    val lddl = "id BIGINT, seg STRING, v DOUBLE"
    (0 until 1000).map(i => (i.toLong, s"s${i % 4}", i * 0.5)).toDF("id", "seg", "v")
      .write.format("reftable").option("path", root).option("schema", lddl)
      .option("clusterBy", "id").option("clusterFiles", "5")
      .option("categoricalStats", "seg")
      .mode("overwrite").save()
    val o = ro("path" -> root, "schema" -> lddl)
    assert(SnapshotFiles.pruned(o, Nil).size == 5)
    assert(SnapshotFiles.pruned(o,
      Seq(And(GreaterThanOrEqual("id", 100L), LessThan("id", 200L)))).size <= 2)
    assert(SnapshotFiles.pruned(o, Seq(EqualTo("seg", "nope"))).isEmpty)

    // zorder option on two numeric columns
    val zroot = tmpDir("layoutz")
    (0 until 4096).map(i => (i % 64, i / 64, i.toLong)).toDF("x", "y", "id")
      .write.format("reftable").option("path", zroot)
      .option("schema", "x INT, y INT, id BIGINT")
      .option("zorderBy", "x,y").option("clusterFiles", "8")
      .mode("overwrite").save()
    val zo = ro("path" -> zroot, "schema" -> "x INT, y INT, id BIGINT")
    assert(SnapshotFiles.pruned(zo,
      Seq(And(GreaterThanOrEqual("y", 10), LessThan("y", 14)))).size < 8)

    // option validation: conflicting and ill-typed layouts fail up front
    val bad1 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "clusterBy" -> "id", "zorderBy" -> "v"))
    assert(bad1.getMessage.contains("mutually exclusive"))
    val bad2 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "zorderBy" -> "seg"))
    assert(bad2.getMessage.contains("numeric/date/timestamp"))
    val bad3 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "categoricalStats" -> "v"))
    assert(bad3.getMessage.contains("STRING"))
    val bad4 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "bucketBy" -> "id", "clusterBy" -> "id"))
    assert(bad4.getMessage.contains("mutually exclusive"))
    val bad5 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "bucketBy" -> "id", "bucketCount" -> "0"))
    assert(bad5.getMessage.contains("bucketCount"))
    val bad6 = intercept[Exception](ro("path" -> root, "schema" -> lddl,
      "bucketBy" -> "nope"))
    assert(bad6.getMessage.contains("layout column"))
  }

  test("concurrent publishers never corrupt the root: one wins, all versions land") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("race")
    VersionedTable.publish(Seq((0L, "seed")).toDF("id", "name"), root, keepVersions = 16)
    val racers = (1 to 6).map { i =>
      Future(VersionedTable.publish(
        (1 to 50).map(j => (j.toLong, s"w$i")).toDF("id", "name"), root, keepVersions = 16))
    }
    val names = Await.result(Future.sequence(racers), 120.seconds)
    assert(names.distinct.size == 6, "every racer must get its own version dir")
    // the pointer names exactly one of them, and that version reads cleanly
    val current = VersionedTable.resolve(root, conf).map(p => new java.io.File(p).getName)
    assert(current.exists(names.contains), s"pointer $current not among $names")
    val rows = spark.read.format("reftable")
      .option("path", root).option("schema", ddl).load().collect()
    assert(rows.length == 50 && rows.map(_.getString(1)).distinct.length == 1,
      "the visible snapshot must be one complete racer's data, never a mix")
    // every raced version directory is intact and carries its manifest
    names.foreach { v =>
      assert(graft.sources.reftable.RefTableStats.load(
        new java.io.File(root, v).toString, conf).nonEmpty, s"$v lost its manifest")
    }
  }

  test("adopt migrates a bare dir into a versioned root; publishes then proceed") {
    import spark.implicits._
    val bare = Files.createTempDirectory("graft_adopt_").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.mode("overwrite").parquet(bare)
    // direct publish refuses (would shadow), adopt migrates, then appending works
    val eDirect = intercept[Exception] {
      VersionedTable.publish(Seq((9L, "z")).toDF("id", "name"), bare)
    }
    assert(eDirect.getMessage.contains("adopt"), eDirect.getMessage)
    VersionedTable.adopt(bare)
    assert(VersionedTable.resolve(bare, conf).nonEmpty)
    assert(readBack(bare) == Seq((1L, "a"), (2L, "b")))
    Seq((3L, "c")).toDF("id", "name")
      .write.format("reftable").option("path", bare).option("schema", ddl)
      .mode("append").save()
    assert(readBack(bare) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("writeStream.format(reftable) publishes complete-mode batches as versions") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_sink_")
    val in = s"$base/in"
    val root = s"$base/tbl"
    val ck = s"$base/ck"
    Seq((1L, "red"), (2L, "red"), (3L, "blue")).toDF("id", "color")
      .coalesce(1).write.parquet(s"$in/b0")
    def drain(): Unit = {
      val q = spark.readStream
        .schema("id LONG, color STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .groupBy("color").agg(count(lit(1)).as("n"))
        .writeStream
        .format("reftable")
        .option("path", root)
        .option("schema", "color STRING, n BIGINT")
        .option("checkpointLocation", ck)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    drain()
    def readBack() = spark.read.format("reftable")
      .option("path", root).option("schema", "color STRING, n BIGINT").load()
      .orderBy("color").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(readBack() == Seq(("blue", 1L), ("red", 2L)))
    Seq((4L, "blue"), (5L, "green")).toDF("id", "color")
      .coalesce(1).write.parquet(s"$in/b1")
    drain()
    assert(readBack() == Seq(("blue", 2L), ("green", 1L), ("red", 2L)))
    assert(VersionedTable.versionDirs(root, conf).size >= 2)

    // update batches carry keyed changes the versioned append cannot
    // merge: refused by the engine's capability check (the table declares
    // no streaming-update support), surfacing when the query runs
    val e = intercept[Exception] {
      val qu = spark.readStream.schema("id LONG, color STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .groupBy("color").agg(count(lit(1)).as("n"))
        .writeStream.format("reftable").option("path", s"$base/tbl2")
        .option("schema", "color STRING, n BIGINT")
        .option("checkpointLocation", s"$base/ck2")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      qu.awaitTermination(60000)
    }
    assert(e.getMessage.toLowerCase.contains("update"), e.getMessage)

    // a batch that drifts from the declared schema fails loudly
    val e2 = intercept[Exception] {
      val q = spark.readStream.schema("id LONG, color STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .groupBy("color").agg(count(lit(1)).as("WRONG"))
        .writeStream.format("reftable").option("path", s"$base/tbl3")
        .option("schema", "color STRING, n BIGINT")
        .option("checkpointLocation", s"$base/ck3")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    assert(e2.getMessage.contains("declared schema") ||
      Option(e2.getCause).exists(_.getMessage.contains("declared schema")), e2.getMessage)
  }

  test("incremental aggregate maintained across INSERTs equals recompute (changesImages)") {
    import spark.implicits._
    import graft.operators.IncrementalAgg
    val root = tmpDir("ivm")
    val vddl = "id BIGINT, g INT, m BIGINT"
    (0 until 500).map(i => (i.toLong, i % 7, i.toLong * 3)).toDF("id", "g", "m")
      .write.format("reftable").option("path", root).option("schema", vddl)
      .mode("overwrite").save()
    val v1 = VersionedTable.versionDirs(root, conf).last
    // pinned to v1 via time travel: DataFrames are lazy, and an unpinned
    // read here would silently re-list the CURRENT version when evaluated
    // after the append below
    val agg1 = IncrementalAgg.aggregate(
      spark.read.format("reftable").option("path", root).option("schema", vddl)
        .option("version", v1).load(),
      Seq("g"), Seq("m"))

    // churn arrives as a plain INSERT (append publishes version 2)
    (500 until 650).map(i => (i.toLong, i % 7, i.toLong * 3)).toDF("id", "g", "m")
      .write.format("reftable").option("path", root).option("schema", vddl)
      .mode("append").save()

    val maintained = IncrementalAgg.maintain(
      agg1, VersionedTable.changesImages(spark, root, Seq("id"), v1), Seq("g"), Seq("m"))
    val recomputed = IncrementalAgg.aggregate(
      spark.read.format("reftable").option("path", root).option("schema", vddl).load(),
      Seq("g"), Seq("m"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(canon(maintained) == canon(recomputed))
  }

  test("dynamic partition overwrite replaces exactly the written partitions") {
    import spark.implicits._
    import graft.sources.reftable.{SnapshotFiles, VersionedTable}
    val root = Files.createTempDirectory("graft_dynovw").toString + "/t"
    val pddl = "id BIGINT, bucket INT"
    def w(df: org.apache.spark.sql.DataFrame, mode: String, dynamic: Boolean) = {
      val wr = df.write.format("reftable")
        .option("path", root).option("schema", pddl)
        .option("partitionColumns", "bucket").mode(mode)
      (if (dynamic) wr.option("partitionOverwriteMode", "dynamic") else wr).save()
    }
    w((0L until 300L).map(i => (i, (i % 3).toInt)).toDF("id", "bucket"), "overwrite",
      dynamic = false)
    val v1 = VersionedTable.resolve(root).get

    // dynamic overwrite of bucket 1 only (plus a brand-new bucket 9)
    w(Seq((9000L, 1), (9001L, 1), (7000L, 9)).toDF("id", "bucket"), "overwrite",
      dynamic = true)
    val back = spark.read.format("reftable")
      .option("path", root).option("schema", pddl)
      .option("partitionColumns", "bucket").load()
    val byBucket = back.collect().groupBy(_.getInt(1)).view.mapValues(_.map(_.getLong(0)).sorted.toSeq).toMap
    assert(byBucket(0) == (0L until 300L by 3).toSeq, "bucket 0 untouched")
    assert(byBucket(2) == (2L until 300L by 3).toSeq, "bucket 2 untouched")
    assert(byBucket(1) == Seq(9000L, 9001L), "bucket 1 replaced wholesale")
    assert(byBucket(9) == Seq(7000L), "new partition created")
    // O(touched): the new version physically stages only buckets 1 and 9;
    // buckets 0/2 are carried by reference from v1
    val cur = VersionedTable.resolve(root).get
    assert(cur != v1)
    val staged = SnapshotFiles.listPhysical(cur, Seq("bucket"))
      .map(_.partitionValues("bucket")).toSet
    assert(staged == Set("1", "9"), s"staged partitions: $staged")

    // the per-write option beats the session conf; static default replaces all
    w(Seq((1L, 5)).toDF("id", "bucket"), "overwrite", dynamic = false)
    val after = spark.read.format("reftable")
      .option("path", root).option("schema", pddl)
      .option("partitionColumns", "bucket").load().collect()
    assert(after.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 5)),
      "static overwrite (the default) still replaces the whole table")
  }

  test("dynamic partition overwrite canonicalizes partition identity under declared types") {
    import spark.implicits._
    import graft.sources.reftable.{Layout, RefTableMutations, VersionedTable}
    val root = Files.createTempDirectory("graft_dynovw2").toString + "/t"
    // seed with zero-padded directory names by staging them verbatim
    val df = Seq((1L, "007"), (2L, "8")).toDF("id", "bucket")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("bucket")))
    // declared type INT: source bucket 7 must replace the bucket=007 dir
    RefTableMutations.overwritePartitions(spark,
      root, Seq((100L, 7)).toDF("id", "bucket"), Seq("bucket"),
      Map("bucket" -> org.apache.spark.sql.types.IntegerType))
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, bucket INT")
      .option("partitionColumns", "bucket").load()
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got == Seq((2L, 8), (100L, 7)),
      s"bucket=007 and bucket 7 are the same partition under INT, got $got")
  }

  test("dynamic partition overwrite matches timestamp-partitioned directories") {
    import spark.implicits._
    import graft.sources.reftable.{Layout, RefTableMutations, VersionedTable}
    val root = Files.createTempDirectory("graft_dynovw_ts").toString + "/t"
    val t1 = java.sql.Timestamp.valueOf("2021-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2021-01-02 00:00:00")
    VersionedTable.publish(Seq((1L, t1), (2L, t2)).toDF("id", "ts"), root,
      layout = Layout.Partitioned(Seq("ts")))
    // Timestamp.toString renders "... 00:00:00.0" while the directory
    // renders "... 00:00:00" — without a shared canonical form the touched
    // set never matches and the old partition files survive (duplicates)
    RefTableMutations.overwritePartitions(spark,
      root, Seq((100L, t1)).toDF("id", "ts"), Seq("ts"),
      Map("ts" -> org.apache.spark.sql.types.TimestampType))
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, ts TIMESTAMP")
      .option("partitionColumns", "ts").load()
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq
    assert(got == Seq((2L, t2), (100L, t1)),
      s"ts partition must be REPLACED, not duplicated: $got")
  }
}
