package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.reftable.{RefTableOptions, RefTableWrites, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once streaming APPEND sink and its commit machinery
  * ([[RefTableWrites.appendVersion]] + `txn:<appId>:<batchId>` markers).
  * The contract under test is the reference's restart contract
  * (PipelineTest.java:151-177): rows written across a restart are all
  * visible, none duplicated — extended here to zombie attempts racing the
  * commit CAS.
  */
class RefTableAppendSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private val ddl = "id BIGINT, name STRING"

  private def opts(root: String, extra: (String, String)*): RefTableOptions =
    RefTableOptions.from(new CaseInsensitiveStringMap(
      (Map("path" -> root, "schema" -> ddl) ++ extra).asJava))

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_asink_$name")
    Files.delete(d)
    d.toString
  }

  private def readBack(root: String) = spark.read.format("reftable")
    .option("path", root).option("schema", ddl).load()
    .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def nVersions(root: String): Int = VersionedTable.versionDirs(root, conf).size

  test("appendVersion txn: replayed batch is a no-op, newer batch commits, per-app markers") {
    import spark.implicits._
    val root = tmpDir("txn")
    val o = opts(root)
    RefTableWrites.appendVersion(o, Seq((1L, "a")).toDF("id", "name"), txn = Some(("app1", 0L)))
    assert(readBack(root) == Seq((1L, "a")))
    assert(RefTableWrites.lastCommittedBatch(root, "app1") == Some(0L))
    val v1 = nVersions(root)

    // replay of batch 0 (restart or zombie): nothing lands, no version churn
    RefTableWrites.appendVersion(o, Seq((9L, "dup")).toDF("id", "name"), txn = Some(("app1", 0L)))
    assert(readBack(root) == Seq((1L, "a")), "replayed batch must not land")
    assert(nVersions(root) == v1, "replayed batch must not publish a version")

    // a NEWER batch commits and advances the marker
    RefTableWrites.appendVersion(o, Seq((2L, "b")).toDF("id", "name"), txn = Some(("app1", 1L)))
    assert(readBack(root) == Seq((1L, "a"), (2L, "b")))
    assert(RefTableWrites.lastCommittedBatch(root, "app1") == Some(1L))

    // an OLDER batch replayed late (out-of-order zombie) is also skipped
    RefTableWrites.appendVersion(o, Seq((8L, "old")).toDF("id", "name"), txn = Some(("app1", 0L)))
    assert(readBack(root) == Seq((1L, "a"), (2L, "b")))

    // a different appId has its own marker space
    assert(RefTableWrites.lastCommittedBatch(root, "app2").isEmpty)
    RefTableWrites.appendVersion(o, Seq((3L, "c")).toDF("id", "name"), txn = Some(("app2", 0L)))
    assert(readBack(root) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(RefTableWrites.lastCommittedBatch(root, "app1") == Some(1L))
    assert(RefTableWrites.lastCommittedBatch(root, "app2") == Some(0L))
  }

  test("appendVersion enforces the read-only guards of every write entry point") {
    import spark.implicits._
    val root = tmpDir("guard")
    RefTableWrites.appendVersion(opts(root), Seq((1L, "a")).toDF("id", "name"))
    val pinned = VersionedTable.resolve(root, conf).map(p => new java.io.File(p).getName).get
    val e1 = intercept[UnsupportedOperationException] {
      RefTableWrites.appendVersion(opts(root, "version" -> pinned),
        Seq((2L, "b")).toDF("id", "name"))
    }
    assert(e1.getMessage.contains("read-only"))
    val e2 = intercept[UnsupportedOperationException] {
      RefTableWrites.appendVersion(opts(root, "genColumn" -> "_gen"),
        Seq((2L, "b")).toDF("id", "name"))
    }
    assert(e2.getMessage.contains("read-only"))
  }

  test("zombie race: concurrent attempts at ONE batch id land exactly one version") {
    import spark.implicits._
    val root = tmpDir("race")
    val o = opts(root)
    RefTableWrites.appendVersion(o, Seq((0L, "seed")).toDF("id", "name"), txn = Some(("app", 0L)))
    // two racers per round, same (appId, batchId), same payload — the loser
    // of the commit CAS must retry, see the winner's marker, and land nothing
    (1 to 3).foreach { b =>
      val payload = Seq((b.toLong, s"row$b"))
      val threads = (1 to 2).map { _ =>
        new Thread(() => RefTableWrites.appendVersion(
          o, payload.toDF("id", "name"), txn = Some(("app", b.toLong))))
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
    }
    assert(readBack(root) == (0 to 3).map(i => (i.toLong, if (i == 0) "seed" else s"row$i")),
      "every batch lands exactly once despite racing attempts")
    assert(RefTableWrites.lastCommittedBatch(root, "app") == Some(3L))
  }

  test("marker survives retention while its commit is within keepVersions") {
    import spark.implicits._
    val root = tmpDir("keep")
    val o = opts(root, "keepVersions" -> "2")
    (0 to 5).foreach { b =>
      RefTableWrites.appendVersion(o, Seq((b.toLong, s"n$b")).toDF("id", "name"),
        txn = Some(("app", b.toLong)))
    }
    // retention pruned the COMMIT LOG to 2 entries (older version dirs may
    // keep their bytes — the retained manifests reference their files until
    // vacuum), data carries through the manifest inheritance, and the
    // newest commit carries the newest marker
    assert(VersionedTable.commitLog(root, conf).size <= 2)
    assert(readBack(root) == (0 to 5).map(b => (b.toLong, s"n$b")))
    assert(RefTableWrites.lastCommittedBatch(root, "app") == Some(5L))
  }

  test("concurrent UNMARKED appends all land exactly once (serialized by the CAS)") {
    import spark.implicits._
    val root = tmpDir("mixed")
    RefTableWrites.appendVersion(opts(root), Seq((0L, "seed")).toDF("id", "name"))
    val threads = (1 to 4).map { i =>
      new Thread(() => RefTableWrites.appendVersion(
        opts(root), Seq((i.toLong, s"t$i")).toDF("id", "name")))
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(readBack(root) == Seq((0L, "seed"), (1L, "t1"), (2L, "t2"), (3L, "t3"), (4L, "t4")),
      "every concurrent append lands, none lost, none duplicated")
  }

  test("vacuum over an append-manifest chain keeps every referenced file readable") {
    import spark.implicits._
    val root = tmpDir("vac")
    val o = opts(root, "keepVersions" -> "2")
    (0 to 4).foreach { b =>
      RefTableWrites.appendVersion(o, Seq((b.toLong, s"n$b")).toDF("id", "name"),
        txn = Some(("app", b.toLong)))
    }
    // each version's manifest references earlier versions' files by name;
    // vacuum must treat the retained manifests' closure as the root set
    VersionedTable.vacuum(root, keepVersions = 2)
    assert(readBack(root) == (0 to 4).map(b => (b.toLong, s"n$b")),
      "vacuum after an append chain must not collect referenced host dirs")
    assert(RefTableWrites.lastCommittedBatch(root, "app") == Some(4L))
  }

  test("append sink end-to-end: batches across drains, forced replay lands nothing") {
    val base = Files.createTempDirectory("graft_asink_e2e_")
    val in = s"$base/in"
    val root = s"$base/tbl"
    val ck = s"$base/ck"
    import spark.implicits._
    def drain(): Unit = {
      val q = spark.readStream
        .schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1") // one file per batch → real batch ids
        .parquet(in)
        .writeStream.format("reftable")
        .option("path", root).option("schema", ddl)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    }
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    Seq((2L, "b")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f1")
    drain()
    assert(readBack(root) == Seq((1L, "a"), (2L, "b")))

    // restart with MORE data: appended, not duplicated
    Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f2")
    drain()
    assert(readBack(root) == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // FORCED replay: droping the checkpoint's last commit file makes the
    // engine re-run the last batch against the sink on restart — the
    // exactly-once marker must swallow it
    val commits = new java.io.File(s"$ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val nBefore = nVersions(root)
    assert(commits.last.delete())
    // the local ChecksumFileSystem keeps a .crc sibling; a stale one makes
    // the engine's rewrite look like a concurrent query on the checkpoint
    new java.io.File(commits.last.getParentFile, "." + commits.last.getName + ".crc").delete()
    drain()
    assert(readBack(root) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "replayed batch must not duplicate rows")
    assert(nVersions(root) == nBefore, "replayed batch must not publish a version")

    // empty restart (no new data): no version churn from no-data triggers
    drain()
    assert(nVersions(root) == nBefore)
  }

  test("disabledV2Writers naming the provider fails start() instead of writing") {
    // there is no V1 sink to fall back to: the one streaming write is DSv2
    import spark.implicits._
    val base = Files.createTempDirectory("graft_nov1_")
    val in = s"$base/in"
    val root = s"$base/tbl"
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    val prev = spark.conf.getOption("spark.sql.streaming.disabledV2Writers")
    spark.conf.set("spark.sql.streaming.disabledV2Writers",
      "graft.sources.reftable.RefTableProvider")
    try {
      val e = intercept[Exception] {
        spark.readStream.schema("id LONG, name STRING")
          .option("recursiveFileLookup", "true").parquet(in)
          .writeStream.format("reftable")
          .option("path", root).option("schema", ddl)
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
      }
      assert(e.getMessage.contains("does not support streamed writing"), e.getMessage)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.disabledV2Writers", v)
      case None => spark.conf.set("spark.sql.streaming.disabledV2Writers", "")
    }
    assert(VersionedTable.resolve(root, conf).isEmpty, "a refused stream lands nothing")
  }

  test("append sink honors partitionColumns and layout options are refused") {
    val base = Files.createTempDirectory("graft_asink_part_")
    val in = s"$base/in"
    val root = s"$base/tbl"
    import spark.implicits._
    Seq((1L, "red"), (2L, "blue")).toDF("id", "name").coalesce(1).write.parquet(s"$in/f0")
    // the partitionColumns OPTION is the layout surface (reads declare it
    // the same way); writer-side partitionBy is a V1-sink concept the
    // DSv2 streaming path never sees
    val q = spark.readStream.schema("id LONG, name STRING")
      .option("recursiveFileLookup", "true").parquet(in)
      .writeStream.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("partitionColumns", "name")
      .option("checkpointLocation", s"$base/ck")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val read = spark.read.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("partitionColumns", "name").load()
    assert(read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "red"), (2L, "blue")))
    // the version dir holds a Hive layout on name
    val v = VersionedTable.resolve(root, conf).get
    assert(new java.io.File(v).listFiles().exists(_.getName.startsWith("name=")))

    val e = intercept[Exception] {
      val q2 = spark.readStream.schema("id LONG, name STRING")
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream.format("reftable")
        .option("path", s"$base/tbl2").option("schema", ddl)
        .option("checkpointLocation", s"$base/ck2")
        .option("bucketBy", "id")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
    }
    assert(e.getMessage.contains("GLOBAL") ||
      Option(e.getCause).exists(_.getMessage.contains("GLOBAL")), e.getMessage)
  }
}
