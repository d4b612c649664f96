package graft

import java.nio.file.Files

import graft.sources.reftable.{Layout, RefTableMaintenance, RefTableMutations, RefTableOptions, SnapshotFiles, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The maintenance loop: mutation churn observably degrades a declared
  * layout (planned-file narrowing widens, bucket marker disappears),
  * [[RefTableMaintenance.maintain]] detects it from storage signals alone
  * and restores the declaration — value-identically, idempotently.
  */
class RefTableMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_maint_$name").toString

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i % 50, s"p$i")).toDF("id", "grp", "payload")
  }

  private def opts(root: String) = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
    "path" -> root, "schema" -> "id BIGINT, grp INT, payload STRING").asJava))

  private def plannedForIdRange(root: String, lo: Long, hi: Long): Int =
    SnapshotFiles.pruned(opts(root), Seq(
      org.apache.spark.sql.sources.And(
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
        org.apache.spark.sql.sources.LessThan("id", hi)))).size

  private def tableValues(root: String): Seq[(Long, Int, String)] =
    spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, grp INT, payload STRING").load()
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sorted.toSeq

  test("append churn degrades clustering; maintain detects and restores it") {
    import spark.implicits._
    val root = tmpDir("recluster")
    VersionedTable.publish(corpus(4000), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val fresh = RefTableMaintenance.signals(root, conf)
    assert(fresh.declared.contains(Layout.Clustered(Seq("id"))(files = 8)))
    assert(fresh.commitsSinceLayout == 0 && fresh.readAmplification.exists(_ <= 1.1))
    assert(RefTableMaintenance.decide(fresh).action == "none")
    assert(plannedForIdRange(root, 100, 300) <= 2)

    // churn: appended batches span the whole keyspace — each new file adds
    // ~1 full key range of read amplification on top of the tiled bands
    def appendBatch(ids: Seq[Long]): Unit =
      ids.map(i => (i, i.toInt % 50, s"a$i")).toDF("id", "grp", "payload")
        .coalesce(1).write.format("reftable")
        .option("path", root).option("schema", "id BIGINT, grp INT, payload STRING")
        .mode("append").save()
    appendBatch(Seq(5L, 3995L))
    appendBatch(Seq(7L, 3993L))
    val degraded = RefTableMaintenance.signals(root, conf)
    assert(degraded.commitsSinceLayout == 2)
    assert(degraded.readAmplification.exists(_ > 1.5),
      s"full-range appended files must widen bounds, got ${degraded.readAmplification}")
    val before = tableValues(root)

    val d = RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
    assert(d.action == "recluster" && d.version.isDefined, d.toString)
    assert(tableValues(root) == before, "maintenance must not change values")
    assert(plannedForIdRange(root, 100, 300) <= 2,
      "restored clustering must narrow planned files again")
    // idempotent: the restore re-declared the layout, churn reset
    val after = RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
    assert(after.action == "none", after.toString)
  }

  test("upsert churn drops the bucket marker; maintain re-buckets") {
    import spark.implicits._
    val root = tmpDir("rebucket")
    VersionedTable.publish(corpus(2000), root, layout = Layout.Bucketed(Seq("id"), 8))
    val fresh = RefTableMaintenance.signals(root, conf)
    assert(fresh.declared.contains(Layout.Bucketed(Seq("id"), 8)))
    assert(fresh.bucketMarkerPresent && RefTableMaintenance.decide(fresh).action == "none")

    RefTableMutations.upsert(spark, root,
      Seq((7L, 99, "up"), (1500L, 99, "up")).toDF("id", "grp", "payload"), Seq("id"))
    val degraded = RefTableMaintenance.signals(root, conf)
    assert(!degraded.bucketMarkerPresent && degraded.commitsSinceLayout == 1)
    val before = tableValues(root)

    val d = RefTableMaintenance.maintain(spark, root)
    assert(d.action == "rebucket" && d.version.isDefined, d.toString)
    assert(tableValues(root) == before)
    val restored = RefTableMaintenance.signals(root, conf)
    assert(restored.bucketMarkerPresent && restored.commitsSinceLayout == 0)
    assert(RefTableMaintenance.maintain(spark, root).action == "none")
  }

  test("undeclared table with small-file explosion compacts; healthy table does not") {
    val root = tmpDir("compact")
    VersionedTable.publish(corpus(500).repartition(80), root)
    val s = RefTableMaintenance.signals(root, conf)
    assert(s.declared.isEmpty && s.nFiles > 64)
    val before = tableValues(root)
    val d = RefTableMaintenance.maintain(spark, root, maxSmallFiles = 64)
    assert(d.action == "compact" && d.version.isDefined, d.toString)
    assert(tableValues(root) == before)
    assert(RefTableMaintenance.signals(root, conf).nFiles < 80)

    val healthy = tmpDir("healthy")
    VersionedTable.publish(corpus(500).repartition(2), healthy)
    assert(RefTableMaintenance.maintain(spark, healthy).action == "none")
  }

  test("SQL CALL system.maintain: dry_run reports, real call restores, idempotent") {
    val cat = "gmaintcat"
    val wh = Files.createTempDirectory("graft_maint_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.reftable.RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, grp INT, payload STRING) USING reftable")
    VersionedTable.publish(corpus(4000), s"$wh/db/t",
      layout = Layout.Clustered(Seq("id"))(files = 8))
    // one partition per INSERT (single-row relation exploded), so each
    // append lands as ONE file spanning nearly the full key range
    spark.sql(s"INSERT INTO $cat.db.t " +
      "SELECT explode(array(5L, 3995L)), 0, 'a' FROM (SELECT 1)")
    spark.sql(s"INSERT INTO $cat.db.t " +
      "SELECT explode(array(7L, 3993L)), 0, 'b' FROM (SELECT 1)")

    val dry = spark.sql(
      s"CALL $cat.system.maintain(table => 'db.t', dry_run => true)").collect().head
    assert(dry.getString(0) == "recluster" && dry.isNullAt(2), dry.toString)

    def values() = spark.table(s"$cat.db.t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val before = values()
    val ran = spark.sql(
      s"CALL $cat.system.maintain(table => 'db.t', target_file_bytes => ${16 * 1024})")
      .collect().head
    assert(ran.getString(0) == "recluster" && !ran.isNullAt(2), ran.toString)
    assert(values() == before, "maintenance must not change values")
    assert(spark.sql(s"CALL $cat.system.maintain(table => 'db.t')")
      .collect().head.getString(0) == "none")
  }

  test("SQL CALL system.compact and system.vacuum: explicit maintenance verbs") {
    val cat = "gcompcat"
    val wh = Files.createTempDirectory("graft_comp_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.reftable.RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, grp INT, payload STRING) USING reftable")
    VersionedTable.publish(corpus(500).repartition(40), s"$wh/db/t")
    val before = spark.table(s"$cat.db.t").count()

    val c = spark.sql(s"CALL $cat.system.compact(table => 'db.t')").collect().head
    assert(c.getString(0).startsWith("v"), c.toString)
    assert(spark.table(s"$cat.db.t").count() == before)
    assert(graft.sources.reftable.SnapshotFiles.list(
      VersionedTable.resolve(s"$wh/db/t", conf).get).size < 40)

    // publish churn so versions exceed retention, then vacuum to 2
    for (_ <- 1 to 3) VersionedTable.publish(corpus(500).repartition(2), s"$wh/db/t",
      keepVersions = 10)
    val v = spark.sql(s"CALL $cat.system.vacuum(table => 'db.t', keep_versions => 2)")
      .collect().head
    assert(v.getInt(0) >= 1, v.toString)
    assert(spark.table(s"$cat.db.t").count() == before)
  }

  test("SQL CALL system.maintain_all: warehouse census, then targeted execution") {
    val cat = "gallcat"
    val wh = Files.createTempDirectory("graft_all_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.reftable.RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.frag (id BIGINT, grp INT, payload STRING) USING reftable")
    spark.sql(s"CREATE TABLE $cat.db.fine (id BIGINT, grp INT, payload STRING) USING reftable")
    spark.sql(s"CREATE TABLE $cat.db.empty (id BIGINT, grp INT, payload STRING) USING reftable")
    VersionedTable.publish(corpus(500).repartition(80), s"$wh/db/frag")
    VersionedTable.publish(corpus(500).repartition(2), s"$wh/db/fine")

    // census (dry_run defaults TRUE): one row per table, nothing executed
    val census = spark.sql(s"CALL $cat.system.maintain_all()").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.isNullAt(3))).toMap
    assert(census.keySet == Set("db.frag", "db.fine", "db.empty"), census.toString)
    assert(census("db.frag") == (("compact", true)))
    assert(census("db.fine") == (("none", true)))
    assert(census("db.empty")._1 == "none")

    val ran = spark.sql(s"CALL $cat.system.maintain_all(dry_run => false)").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.isNullAt(3))).toMap
    assert(ran("db.frag") == (("compact", false)), ran.toString)
    assert(spark.table(s"$cat.db.frag").count() == 500)
  }

  test("layout marker grammar round-trips; junk is rejected") {
    assert(Layout.parse("layout=cluster:a,b") ==
      Some(Layout.Clustered(Seq("a", "b"))(files = Layout.DefaultFiles)))
    assert(Layout.parse("layout=zorder:x") ==
      Some(Layout.ZOrdered(Seq("x"))(files = Layout.DefaultFiles)))
    assert(Layout.parse("layout=bucket:id:16") == Some(Layout.Bucketed(Seq("id"), 16)))
    assert(Layout.parse("layout=hidden:days(ts)") == Some(Layout.Hidden(Seq("days(ts)"))))
    assert(Layout.parse("somebatch:3").isEmpty)
    assert(Layout.parse("layout=bucket:id:NaNbuckets").isEmpty)
    assert(Layout.parse("layout=wat:a").isEmpty)
  }

  test("bare Hive layout past the dir limit refuses with the adopt remedy; adopt fixes it") {
    import spark.implicits._
    val root = tmpDir("barelimit")
    (0 until 12).map(i => (i.toLong, i % 12)).toDF("id", "p")
      .write.partitionBy("p").mode("overwrite").parquet(root)
    val prev = System.getProperty("graft.reftable.bareHiveDirLimit")
    System.setProperty("graft.reftable.bareHiveDirLimit", "8")
    try {
      // bare root above the limit: every streaming refresh would re-walk
      // the layout on the driver — refused, remedy named
      val e = intercept[IllegalStateException] {
        SnapshotFiles.list(root, Seq("p"))
      }
      assert(e.getMessage.contains("adopt"), e.getMessage)

      // adopt migrates it into a versioned root WITH a materialized file
      // manifest: later listings are one manifest read, no walk — so the
      // limit no longer applies and partition values survive
      val v = VersionedTable.adopt(root, Seq("p"))
      assert(new java.io.File(new java.io.File(root, v), "_FILES.json").exists(),
        "adopt must materialize the file manifest")
      val files = SnapshotFiles.list(root, Seq("p"))
      assert(files.size == 12)
      assert(files.flatMap(_.partitionValues.get("p")).map(_.toInt).sorted == (0 until 12))

      // and the adopted root streams: one generation, all rows
      val df = spark.readStream.format("reftable")
        .option("path", root)
        .option("schema", "id BIGINT, p INT")
        .option("partitionColumns", "p")
        .option("refreshInterval", "1h")
        .load()
      val name = "mem_adopt_" + System.nanoTime()
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmpDir("barelimit_ck")).start()
      q.processAllAvailable(); q.stop()
      assert(spark.table(name).count() == 12)
    } finally {
      if (prev == null) System.clearProperty("graft.reftable.bareHiveDirLimit")
      else System.setProperty("graft.reftable.bareHiveDirLimit", prev)
    }
  }

  test("hot-region churn reclusters INCREMENTALLY: tight files carry by name") {
    import spark.implicits._
    val root = tmpDir("partial")
    VersionedTable.publish(corpus(4000), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val tightBefore = SnapshotFiles.list(root).map(_.path.split('/').last).toSet
    assert(tightBefore.size == 8)
    // HOT-REGION churn: six appended batches all inside the first band's
    // key window pile overlapping files onto [0, 500) — amplification
    // degrades (every point read in the hot window hits ~7 files) while
    // the other 7 bands stay perfectly tiled
    def appendHot(seed: Long): Unit =
      (0L until 500L by 7L).map(i => (i, (i + seed).toInt % 50, s"h$seed-$i"))
        .toDF("id", "grp", "payload")
        .coalesce(1).write.format("reftable")
        .option("path", root).option("schema", "id BIGINT, grp INT, payload STRING")
        .mode("append").save()
    (1L to 6L).foreach(appendHot)
    val degraded = RefTableMaintenance.signals(root, conf)
    assert(degraded.readAmplification.exists(_ > 1.5),
      s"hot-region pile must degrade amplification: ${degraded.readAmplification}")
    val before = tableValues(root)

    // the full maintenance loop takes the INCREMENTAL path
    val d = RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
    assert(d.action == "recluster" && d.version.isDefined, d.toString)
    assert(tableValues(root) == before, "recluster must not change values")
    // ≥7 of the 8 original band files carry BY NAME (identical basenames
    // in the new listing — never rewritten, never copied)
    val afterNames = SnapshotFiles.list(root).map(_.path.split('/').last).toSet
    val carried = tightBefore.intersect(afterNames)
    assert(carried.size >= 7, s"tight bands must carry by reference: " +
      s"${carried.size} of ${tightBefore.size} carried (listing ${afterNames.size} files)")
    // amplification restored to ~1 + hot-window coverage; maintenance idempotent
    val restored = RefTableMaintenance.signals(root, conf)
    assert(restored.readAmplification.exists(_ <= 1.2),
      s"post-partial amplification: ${restored.readAmplification}")
    assert(RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
      .action == "none")
  }

  test("full-range churn declines the incremental path (it cannot restore health)") {
    import spark.implicits._
    val root = tmpDir("partial_decline")
    VersionedTable.publish(corpus(4000), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    // two appended files spanning the whole keyspace: a partial rewrite of
    // just them would still tile the full range once more (~2.0 total)
    Seq((5L, 5, "a"), (3995L, 45, "b")).toDF("id", "grp", "payload")
      .coalesce(1).write.format("reftable")
      .option("path", root).option("schema", "id BIGINT, grp INT, payload STRING")
      .mode("append").save()
    assert(RefTableMutations.reclusterPartial(spark, root, Layout.Clustered(Seq("id"))(files = 8),
      targetFileBytes = 16 * 1024, maxReadAmp = 1.5).isEmpty,
      "full-range wide rows must fall back to the full re-tile")
    // maintain still restores through the full path
    val d = RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
    assert(d.action == "recluster" && d.version.isDefined)
    assert(RefTableMaintenance.maintain(spark, root, targetFileBytes = 16 * 1024)
      .action == "none")
  }

  test("hidden layout: maintain compacts through the transforms, keeping day directories") {
    import spark.implicits._
    val root = tmpDir("hidden")
    val schema = "id BIGINT, ts TIMESTAMP"
    val day = java.time.LocalDate.parse("2024-03-02")
    val df = (0 until 40).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-03-0${i % 5 + 1} 08:00:00")))
      .toDF("id", "ts")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("days(ts)")))
    val fresh = RefTableMaintenance.signals(root, conf)
    assert(fresh.declared.contains(Layout.Hidden(Seq("days(ts)"))), fresh.toString)
    // a hidden declaration takes the undeclared table's branches
    assert(RefTableMaintenance.decide(fresh.copy(dvSidecars = 8)).action == "compact")
    def read() = spark.read.format("reftable").option("path", root)
      .option("schema", schema).option("hiddenPartitions", "days(ts)").load()
    val before = read().collect().map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq

    val d = RefTableMaintenance.maintain(spark, root, maxSmallFiles = 1)
    assert(d.action == "compact" && d.version.isDefined, d.toString)
    val opts = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> root, "schema" -> schema, "hiddenPartitions" -> "days(ts)").asJava))
    val all = SnapshotFiles.pruned(opts, Nil)
    assert(all.nonEmpty && all.forall(_.partitionValues.contains("ts_day")),
      s"compaction must keep the ts_day directories: ${all.map(_.path)}")
    val kept = SnapshotFiles.pruned(opts, Seq(org.apache.spark.sql.sources.EqualTo(
      "ts", java.sql.Timestamp.valueOf("2024-03-02 08:00:00"))))
    assert(kept.nonEmpty && kept.forall(_.partitionValues("ts_day") == day.toString),
      s"a one-day filter keeps only that day's files: ${kept.map(_.path)}")
    assert(read().collect().map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq ==
      before, "compaction must not change values")
    assert(read().filter(to_date(col("ts")) === lit(java.sql.Date.valueOf(day))).count() == 8)
  }

  test("layout marker property: every generated layout parses back from its marker") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    val ident = for {
      h <- Gen.oneOf(Gen.alphaChar, Gen.const('_'))
      t <- Gen.listOf(Gen.frequency(9 -> Gen.alphaNumChar, 1 -> Gen.const('_')))
    } yield (h +: t.take(11)).mkString
    val cols = Gen.choose(1, 4).flatMap(Gen.listOfN(_, ident))
    val spec = for {
      c <- ident
      n <- Gen.choose(1, 1000)
      s <- Gen.oneOf(s"days($c)", s"hours($c)", s"bucket($n, $c)", s"truncate($n, $c)")
    } yield s
    val layout: Gen[Layout] = for {
      cs <- cols
      n <- Gen.choose(1, 64)
      specs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, spec))
      l <- Gen.oneOf[Layout](Layout.Clustered(cs)(files = n), Layout.ZOrdered(cs)(files = n),
        Layout.Bucketed(cs, n), Layout.Hidden(specs))
    } yield l
    val prop = Prop.forAllNoShrink(layout)(l => l.marker.flatMap(Layout.parse).contains(l))
    val params = Test.Parameters.default.withMinSuccessfulTests(500)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  test("on-disk layout records are byte-identical: commit marker, _LAYOUT, _BUCKETS.json") {
    def text(p: org.apache.hadoop.fs.Path): String = {
      val in = p.getFileSystem(conf).open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def check(layout: Layout, marker: String): String = {
      val root = tmpDir("ondisk")
      VersionedTable.publish(corpus(200), root, layout = layout)
      val seq = VersionedTable.lastCommit(root, conf).get.seq
      assert(VersionedTable.publishedMarker(root, conf).contains(marker))
      assert(text(new org.apache.hadoop.fs.Path(root, "_LAYOUT")) == s"$seq\n$marker")
      root
    }
    check(Layout.Clustered(Seq("id", "grp"))(files = 2), "layout=cluster:id,grp")
    check(Layout.ZOrdered(Seq("id", "grp"))(files = 2), "layout=zorder:id,grp")
    check(Layout.Hidden(Seq("truncate(10, id)", "bucket(4, grp)")),
      "layout=hidden:truncate(10, id);bucket(4, grp)")
    val bucketed = check(Layout.Bucketed(Seq("id", "grp"), 4), "layout=bucket:id,grp:4")
    assert(text(new org.apache.hadoop.fs.Path(VersionedTable.resolve(bucketed, conf).get,
      "_BUCKETS.json")) == """{"cols":["id","grp"],"n":4}""")
  }

  test("a _BUCKETS.json of literal earlier-release bytes still narrows a bucketed upsert") {
    import spark.implicits._
    val root = tmpDir("legacybuckets")
    VersionedTable.publish((0L until 8000L).map(i => (i, s"v$i")).toDF("id", "s"), root,
      layout = Layout.Bucketed(Seq("id"), 16))
    val cur = VersionedTable.resolve(root, conf).get
    val sidecar = new org.apache.hadoop.fs.Path(cur, "_BUCKETS.json")
    val fs = sidecar.getFileSystem(conf)
    fs.delete(sidecar, false)
    val out = fs.create(sidecar)
    try out.write("""{"cols":["id"],"n":16}""".getBytes("UTF-8")) finally out.close()
    val names = (root: String) => SnapshotFiles.list(VersionedTable.resolve(root, conf).get)
      .map(f => new org.apache.hadoop.fs.Path(f.path).getName).toSet
    val before = names(root)
    RefTableMutations.upsert(spark, root,
      Seq((3L, "A"), (4000L, "B"), (7999L, "C")).toDF("id", "s"), Seq("id"))
    val carried = names(root).intersect(before)
    assert(carried.size >= 13, s"untouched buckets carried by reference: ${carried.size}")
  }
}
