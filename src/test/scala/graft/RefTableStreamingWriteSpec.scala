package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableCatalog, RefTableWrites, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 STREAMING write path — `writeStream.toTable("cat.db.t")` —
  * executors write parquet straight into epoch staging, the driver
  * publishes from commit messages, and the `txn:` marker makes replays
  * exactly-once (the same streaming write as `format("reftable")`,
  * RefTableAppendSinkSpec).
  */
class RefTableStreamingWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private def withCatalog[T](f: (String, String) => T): T = {
    val cat = s"gswcat${n.incrementAndGet()}"
    val wh = Files.createTempDirectory("graft_swwh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    f(cat, wh)
  }

  test("writeStream.toTable append mode: distributed epochs, restart, forced replay") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.ev (id BIGINT, name STRING) USING reftable")
      val base = Files.createTempDirectory("graft_sw_in_")
      val in = s"$base/in"
      val ck = s"$base/ck"
      def drain(): Unit = {
        val q = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.ev")
        q.awaitTermination(120000)
        q.stop()
      }
      def readBack() = spark.table(s"$cat.db.ev").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
      Seq((2L, "b")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f1")
      drain()
      assert(readBack() == Seq((1L, "a"), (2L, "b")))

      // restart appends without duplicating
      Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f2")
      drain()
      assert(readBack() == Seq((1L, "a"), (2L, "b"), (3L, "c")))

      // forced replay of the last epoch: the txn marker must land nothing
      val root = s"$wh/db/ev"
      val commits = new java.io.File(s"$ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      val nBefore = VersionedTable.versionDirs(root, conf).size
      assert(commits.last.delete())
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      drain()
      assert(readBack() == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        "replayed epoch must not duplicate rows")
      assert(VersionedTable.versionDirs(root, conf).size == nBefore)

      // staging cleaned up; marker advanced under the query's stable id
      assert(!new java.io.File(root).listFiles()
        .exists(f => f.getName.startsWith(".streaming-") &&
          Option(new java.io.File(root, f.getName).listFiles()).exists(_.nonEmpty)),
        "epoch staging must be cleaned after commit")
    }
  }

  test("writeStream.toTable complete mode: each epoch is the full table state") {
    withCatalog { (cat, _) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.agg (name STRING, cnt BIGINT) USING reftable")
      val base = Files.createTempDirectory("graft_swc_in_")
      val in = s"$base/in"
      val ck = s"$base/ck"
      def drain(): Unit = {
        val q = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true").parquet(in)
          .groupBy("name").agg(count(lit(1)).as("cnt"))
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("complete")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.agg")
        q.awaitTermination(120000)
        q.stop()
      }
      Seq((1L, "red"), (2L, "red"), (3L, "blue")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$in/f0")
      drain()
      def readBack() = spark.table(s"$cat.db.agg").orderBy("name")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(readBack() == Seq(("blue", 1L), ("red", 2L)))
      Seq((4L, "blue"), (5L, "green")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$in/f1")
      drain()
      assert(readBack() == Seq(("blue", 2L), ("green", 1L), ("red", 2L)))
    }
  }

  test("toTable append into a PARTITIONED table lays down prunable Hive dirs") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.pt (id BIGINT, p STRING) USING reftable " +
        "OPTIONS (partitionColumns 'p')")
      val base = Files.createTempDirectory("graft_swp_in_")
      val in = s"$base/in"
      Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "has space")).toDF("id", "p")
        .coalesce(1).write.parquet(s"$in/f0")
      val q = spark.readStream.schema("id LONG, p STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.pt")
      q.awaitTermination(120000)
      q.stop()
      val got = spark.table(s"$cat.db.pt").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "has space")))
      // physical layout: col=value dirs inside the version (Spark's
      // escapePathName leaves plain spaces; the reader decodes verbatim)
      val root = s"$wh/db/pt"
      val v = VersionedTable.resolve(root, conf).get
      val dirs = new java.io.File(v).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
      assert(dirs == Seq("p=has space", "p=x", "p=y"), dirs.toString)
      // partition filters prune to the matching directory's rows
      assert(spark.table(s"$cat.db.pt").filter(col("p") === "x").count() == 2)
      assert(spark.table(s"$cat.db.pt").filter(col("p") === "has space").count() == 1)
    }
  }

  test("partitioned epochs cluster by partition columns: one file per value, not per task") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.cl (id BIGINT, p STRING) USING reftable " +
        "OPTIONS (partitionColumns 'p')")
      val base = Files.createTempDirectory("graft_swcl_in_")
      val in = s"$base/in"
      // 6 input files, EVERY one carrying both partition values — without
      // the write's clustered distribution each task would write each
      // value (12 files); with it each value lands in one task's file
      (0 until 6).foreach { i =>
        Seq((i * 2L, "x"), (i * 2L + 1, "y")).toDF("id", "p")
          .coalesce(1).write.parquet(s"$in/f$i")
      }
      val q = spark.readStream.schema("id LONG, p STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.cl")
      q.awaitTermination(120000)
      q.stop()
      assert(spark.table(s"$cat.db.cl").count() == 12)
      val v = VersionedTable.resolve(s"$wh/db/cl", conf).get
      Seq("p=x", "p=y").foreach { d =>
        val files = new java.io.File(v, d).listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"$d: expected the clustered epoch to write ONE file, got ${files.length}")
      }
    }
  }

  test("autoCompact: streaming file debt collapses once past the threshold") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.ac (id BIGINT, name STRING) USING reftable " +
        "OPTIONS (autoCompact 'true', autoCompactFiles '3', keepVersions '8')")
      val base = Files.createTempDirectory("graft_swac_in_")
      val in = s"$base/in"
      (0 until 5).foreach { i =>
        Seq((i.toLong, s"r$i")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f$i")
      }
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1") // 5 epochs → 5 accreted files
        .parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ac")
      q.awaitTermination(120000)
      q.stop()
      val got = spark.table(s"$cat.db.ac").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == (0 until 5).map(i => (i.toLong, s"r$i")))
      // maintenance fired mid-stream: the CURRENT version holds few files,
      // not one per epoch
      val root = s"$wh/db/ac"
      val nFiles = graft.sources.reftable.SnapshotFiles.list(root).size
      assert(nFiles <= 2, s"expected compacted current version, got $nFiles files")
    }
  }

  test("expectations gate the write surfaces: drop counts, fail refuses, batch too") {
    withCatalog { (cat, _) =>
      import spark.implicits._
      // DROP mode through the DSv2 streaming path: violating rows skipped
      // in the executor's write loop, counted, never landed
      spark.sql(s"CREATE TABLE $cat.db.ex (id BIGINT, name STRING) USING reftable " +
        "OPTIONS ('expect.pos_id' 'id > 0', 'expect.named' 'length(name) >= 2', " +
        "onViolation 'drop')")
      val base = Files.createTempDirectory("graft_swex_in_")
      val in = s"$base/in"
      Seq((1L, "ok"), (-2L, "neg"), (3L, "x"), (4L, "fine"))
        .toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ex")
      q.awaitTermination(120000)
      q.stop()
      val got = spark.table(s"$cat.db.ex").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "ok"), (4L, "fine")),
        s"violating rows (-2 neg id, 'x' short name) must be dropped: $got")

      // FAIL mode: the epoch aborts naming the rule; nothing lands
      spark.sql(s"CREATE TABLE $cat.db.exf (id BIGINT, name STRING) USING reftable " +
        "OPTIONS ('expect.pos_id' 'id > 0')")
      val e = intercept[Exception] {
        val qf = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true").parquet(in)
          .writeStream
          .option("checkpointLocation", s"$base/ckf")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.exf")
        qf.awaitTermination(120000)
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("pos_id")), s"got: ${msgs(e)}")
      assert(spark.table(s"$cat.db.exf").count() == 0, "failed epoch must land nothing")

      // the BATCH surface enforces the same declared rules
      val e2 = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.db.exf VALUES (-1, 'bad'), (2, 'ok')")
      }
      assert(msgs(e2).exists(m => m.contains("pos_id") && m.contains("1/2")), s"got: ${msgs(e2)}")
      assert(spark.table(s"$cat.db.exf").count() == 0)
      spark.sql(s"INSERT INTO $cat.db.ex VALUES (-1, 'bad'), (9, 'ok')") // drop mode
      assert(spark.table(s"$cat.db.ex").count() == 3)

      // the declared gates are first-class inspectable through t$options
      val declared = spark.sql(s"SELECT option, value FROM $cat.db.`ex$$options` " +
        "WHERE option LIKE 'expect.%' OR option = 'onViolation' ORDER BY option")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(declared == Seq(
        "expect.named" -> "length(name) >= 2",
        "expect.pos_id" -> "id > 0",
        "onViolation" -> "drop"), declared.toString)
    }
  }

  test("onViolation=quarantine: rejects land in the sibling table with rule names") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.qr (id BIGINT, name STRING) USING reftable " +
        "OPTIONS ('expect.pos_id' 'id > 0', 'expect.named' 'length(name) >= 2', " +
        "onViolation 'quarantine')")
      val base = Files.createTempDirectory("graft_swqr_in_")
      val in = s"$base/in"
      val ck = s"$base/ck"
      Seq((1L, "ok"), (-2L, "x"), (3L, "y"), (4L, "fine"))
        .toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
      def drain(): Unit = {
        val q = spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true").parquet(in)
          .writeStream
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .toTable(s"$cat.db.qr")
        q.awaitTermination(120000)
        q.stop()
      }
      drain()
      assert(spark.table(s"$cat.db.qr").orderBy("id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L))
      val qddl = "id BIGINT, name STRING, _violated STRING"
      def quarantineRows() = spark.read.format("reftable")
        .option("path", s"$wh/db/qr__quarantine").option("schema", qddl).load()
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // rule names in option-name order (expectations are name-sorted)
      assert(quarantineRows() == Seq(
        (-2L, "x", "named,pos_id"), (3L, "y", "named")), quarantineRows().toString)

      // forced replay: neither the main table nor the quarantine doubles
      val commits = new java.io.File(s"$ck/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      assert(commits.last.delete())
      new java.io.File(commits.last.getParentFile,
        "." + commits.last.getName + ".crc").delete()
      drain()
      assert(spark.table(s"$cat.db.qr").count() == 2)
      assert(quarantineRows().size == 2, "quarantine must be replay-deduped too")

      // the BATCH surface quarantines through the same sibling
      spark.sql(s"INSERT INTO $cat.db.qr VALUES (-9, 'bad'), (10, 'good')")
      assert(spark.table(s"$cat.db.qr").orderBy("id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L, 10L))
      assert(quarantineRows().map(_._1) == Seq(-9L, -2L, 3L))
    }
  }

  test("vacuum collects stale crashed-epoch staging, spares maybe-live epochs") {
    withCatalog { (cat, wh) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.vs (id BIGINT, name STRING) USING reftable")
      val base = Files.createTempDirectory("graft_swvac_in_")
      val in = s"$base/in"
      Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .option("txnAppId", "vacapp")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.vs")
      q.awaitTermination(120000)
      q.stop()
      val root = s"$wh/db/vs"
      // simulate a crashed driver: staged epochs left behind — one AT the
      // committed marker (stale) and one ABOVE it (maybe live)
      val staleDir = new java.io.File(s"$root/.streaming-vacapp/0")
      val liveDir = new java.io.File(s"$root/.streaming-vacapp/7")
      staleDir.mkdirs(); liveDir.mkdirs()
      java.nio.file.Files.writeString(staleDir.toPath.resolve("part-x.parquet"), "junk")
      java.nio.file.Files.writeString(liveDir.toPath.resolve("part-y.parquet"), "junk")
      assert(RefTableWrites.lastCommittedBatch(root, "vacapp").contains(0L))
      VersionedTable.vacuum(root, keepVersions = 2)
      assert(!staleDir.exists(), "epoch at/below the committed marker is garbage")
      assert(liveDir.exists(), "epoch above the marker may belong to a live attempt")
      // the table still reads
      assert(spark.table(s"$cat.db.vs").count() == 1)
    }
  }

  test("timestamps stream through the DSv2 writer as INT64 micros") {
    withCatalog { (cat, _) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.db.ts (id BIGINT, t TIMESTAMP) USING reftable")
      val base = Files.createTempDirectory("graft_swt_in_")
      val in = s"$base/in"
      Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456")))
        .toDF("id", "t").coalesce(1).write.parquet(s"$in/f0")
      val q = spark.readStream.schema("id LONG, t TIMESTAMP")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.ts")
      q.awaitTermination(120000)
      q.stop()
      val got = spark.table(s"$cat.db.ts").collect()
      assert(got.length == 1 &&
        got(0).getTimestamp(1) == java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456"))
    }
  }

  test("quarantine epochs: a replay lands once, a lost quarantine CAS rebases") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swqrb_")
    val root = s"$base/t"
    val qroot = s"${root}__quarantine"
    val in = s"$base/in"
    val ck = s"$base/ck"
    val ddl = "id BIGINT, name STRING"
    val qddl = "id BIGINT, name STRING, _violated STRING"
    def qOpts = graft.sources.reftable.RefTableOptions.from(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(
          Map("path" -> qroot, "schema" -> qddl)).asJava))
    // the quarantine table already holds a reject, so the epoch's
    // quarantine commit is an append onto a base
    RefTableWrites.appendVersion(qOpts, Seq((-100L, "old", "pos_id")).toDF("id", "name", "_violated"))
    Seq((1L, "ok"), (-2L, "neg")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream.format("reftable")
        .option("path", root).option("schema", ddl)
        .option("expect.pos_id", "id > 0").option("onViolation", "quarantine")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    }
    def mainRows() = spark.read.format("reftable").option("path", root)
      .option("schema", ddl).load().collect().map(_.getLong(0)).sorted.toSeq
    def quarantineRows() = spark.read.format("reftable").option("path", qroot)
      .option("schema", qddl).load().collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    // a concurrent append lands on the quarantine table inside the CAS
    // window of the epoch's quarantine commit: the commit must rebase onto
    // it, not fail or re-copy the rejects
    val r0 = VersionedTable.rebasedCommits.get
    VersionedTable.onBeforeClaim = Some { r =>
      if (r.endsWith("__quarantine")) {
        VersionedTable.onBeforeClaim = None
        RefTableWrites.appendVersion(qOpts,
          Seq((-200L, "conc", "pos_id")).toDF("id", "name", "_violated"))
      }
    }
    try drain() finally VersionedTable.onBeforeClaim = None
    assert(VersionedTable.rebasedCommits.get == r0 + 1, "the lost quarantine CAS must rebase")
    assert(mainRows() == Seq(1L))
    assert(quarantineRows() == Seq((-200L, "conc"), (-100L, "old"), (-2L, "neg")))

    // forced replay of the epoch: neither table lands it again
    val nMain = VersionedTable.versionDirs(root, conf).size
    val nQ = VersionedTable.versionDirs(qroot, conf).size
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.last.delete())
    new java.io.File(commits.last.getParentFile,
      "." + commits.last.getName + ".crc").delete()
    drain()
    assert(mainRows() == Seq(1L))
    assert(quarantineRows() == Seq((-200L, "conc"), (-100L, "old"), (-2L, "neg")),
      "a replayed quarantine epoch must land once")
    assert(VersionedTable.versionDirs(root, conf).size == nMain)
    assert(VersionedTable.versionDirs(qroot, conf).size == nQ)
  }

  test("a failed post-commit stats augmentation is reported and the stream continues") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_swbe_")
    // the table's filesystem refuses to rewrite a published stats
    // manifest: the augmentation fails after every epoch's commit
    val root = s"nostats://$base/t"
    val in = s"$base/in"
    Seq((1L, "red")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    Seq((2L, "blue")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f1")
    val captured = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try {
      val q = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
        .parquet(in)
        .writeStream.format("reftable")
        .option("path", root).option("schema", "id BIGINT, name STRING")
        .option("categoricalStats", "name")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    } finally System.setErr(err)
    val got = spark.read.format("reftable").option("path", root)
      .option("schema", "id BIGINT, name STRING").load()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1L, "red"), (2L, "blue")), "both epochs land past the failure")
    val reported = captured.toString("UTF-8").linesIterator
      .filter(_.contains("stats augmentation failed")).toSeq
    assert(reported.size == 2, captured.toString("UTF-8"))
  }
}
