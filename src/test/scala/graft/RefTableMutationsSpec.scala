package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-granular copy-on-write DELETE / upsert (RefTableMutations): the
  * stats manifest decides which files a mutation must rewrite; everything
  * else is carried by REFERENCE in the new version's `_FILES.json`
  * ([[graft.sources.reftable.RefTableFileManifest]]). The load-bearing
  * assertions are (a) result identity with the logical recompute, (b) the
  * carried file NAMES surviving into the new version's listing, and (c)
  * the new version directory physically holding ONLY the rewritten files —
  * proof the commit was O(changed files), not O(table).
  */
class RefTableMutationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_mut_$name").toString

  private def fileNames(root: String): Set[String] = {
    val cur = VersionedTable.resolve(root, conf).get
    SnapshotFiles.list(cur).map(f => new org.apache.hadoop.fs.Path(f.path).getName).toSet
  }

  /** The current version's logical content — through its (manifest-aware)
    * listing, the way every real reader resolves it.
    */
  private def readCurrent(root: String): org.apache.spark.sql.DataFrame = {
    val cur = VersionedTable.resolve(root, conf).get
    spark.read.parquet(SnapshotFiles.list(cur).map(_.path): _*)
  }

  test("deleteWhere rewrites only may-match files; null-predicate rows are kept") {
    import spark.implicits._
    val root = tmpDir("del")
    // v nullable: ids % 97 == 0 carry null v — SQL DELETE must keep them
    val df = (0 until 2000).map { i =>
      (i.toLong, if (i % 97 == 0) None else Some(i.toDouble))
    }.toDF("id", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val before = fileNames(root)
    assert(before.size == 8)

    RefTableMutations.deleteWhere(spark, root, col("id") >= 100L && col("id") < 300L && col("v") > 0.0)

    val after = fileNames(root)
    // untouched files carried over under their original names
    val carried = before.intersect(after)
    assert(carried.size >= 6, s"expected >=6 of 8 files carried over, got ${carried.size}")
    assert(carried.size < 8, "at least one file must have been rewritten")

    val got = readCurrent(root).select("id").as[Long].collect().sorted.toSeq
    val expect = (0 until 2000).filterNot(i =>
      i >= 100 && i < 300 && i % 97 != 0).map(_.toLong)
    assert(got == expect, "null-v rows inside the range must survive the delete")
  }

  test("deleteWhere without prunable stats rewrites everything, correctly") {
    import spark.implicits._
    val root = tmpDir("delall")
    // unclustered publish: file bounds all overlap — full rewrite path
    val df = (0 until 500).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    VersionedTable.publish(df.repartition(4), root)
    RefTableMutations.deleteWhere(spark, root, col("s") === "s7")
    assert(readCurrent(root).count() == 499)
  }

  test("upsert rewrites only files overlapping the source key range") {
    import spark.implicits._
    val root = tmpDir("up")
    val df = (0 until 2000).map(i => (i.toLong, i % 7, i.toLong * 3)).toDF("id", "g", "m")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val before = fileNames(root)

    // updates confined to ids [0, 150]; inserts at NEGATIVE ids keep the
    // source key range away from the upper files
    val src = (0 to 150 by 3).map(i => (i.toLong, 99, -1L))
      .++(Seq((-5L, 42, 1000L), (-6L, 42, 2000L)))
      .toDF("id", "g", "m")
    RefTableMutations.upsert(spark, root, src, Seq("id"))

    val after = fileNames(root)
    val carried = before.intersect(after)
    assert(carried.size >= 6, s"expected >=6 of 8 files carried over, got ${carried.size}")

    val cur = readCurrent(root)
    assert(cur.count() == 2000 + 2)
    assert(cur.filter(col("g") === 99).count() == 51)
    assert(cur.filter(col("id") === 9L).select("m").first().getLong(0) == -1L)
    assert(cur.filter(col("id") === 151L).select("m").first().getLong(0) == 453L)
    assert(cur.filter(col("id") < 0L).count() == 2)
  }

  test("upsert equals the logical anti-join ∪ source recompute (multi-column key)") {
    import spark.implicits._
    val root = tmpDir("upmk")
    val df = (0 until 300).map(i => (i.toLong % 10, s"k${i % 30}", i.toLong)).toDF("a", "b", "m")
      .dropDuplicates("a", "b")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("a"))(files = 4))
    val src = Seq((1L, "k1", -7L), (99L, "new", 1L)).toDF("a", "b", "m")
    RefTableMutations.upsert(spark, root, src, Seq("a", "b"))
    val cur = readCurrent(root)
    val expect = df.join(src.select("a", "b"), Seq("a", "b"), "left_anti").unionByName(src)
    assert(cur.orderBy("a", "b").collect().toSeq ==
      expect.orderBy("a", "b").collect().toSeq)
  }

  test("empty upsert source publishes an identical version") {
    import spark.implicits._
    val root = tmpDir("upempty")
    val df = (0 until 100).map(i => (i.toLong, i.toString)).toDF("id", "s")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 2))
    val before = fileNames(root)
    RefTableMutations.upsert(spark, root, df.limit(0), Seq("id"))
    assert(fileNames(root) == before, "all files carried over by name")
    assert(readCurrent(root).count() == 100)
  }

  test("mutations refuse partitioned layouts and non-versioned roots") {
    import spark.implicits._
    val root = tmpDir("refuse")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))
    val e = intercept[UnsupportedOperationException] {
      RefTableMutations.deleteWhere(spark, root, col("id") === 1L)
    }
    assert(e.getMessage.contains("flat"))
    val e2 = intercept[IllegalArgumentException] {
      RefTableMutations.upsert(spark, tmpDir("nothere"), df, Seq("id"))
    }
    assert(e2.getMessage.contains("versioned"))
  }

  test("mutations on a mixed-schema version never narrow the schema") {
    import spark.implicits._
    // adopt() can produce a version whose files predate a column; the
    // sampled-schema default of spark.read.parquet would then silently
    // drop that column from rewritten rows — this is the regression gate
    val root = tmpDir("mixed")
    val dir = new org.apache.hadoop.fs.Path(root)
    dir.getFileSystem(conf).mkdirs(dir)
    (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "extra")
      .coalesce(1).write.mode("append").parquet(root)
    (50 until 100).map(i => Tuple1(i.toLong)).toDF("id")
      .coalesce(1).write.mode("append").parquet(root)
    VersionedTable.adopt(root)

    RefTableMutations.deleteWhere(spark, root, col("id") % 10L === 0L)
    val cur = {
      val c = VersionedTable.resolve(root, conf).get
      spark.read.option("mergeSchema", "true")
        .parquet(SnapshotFiles.list(c).map(_.path): _*)
    }
    assert(cur.columns.sorted.toSeq == Seq("extra", "id"))
    assert(cur.count() == 90)
    // wide-file rows keep their extra values through the rewrite
    assert(cur.filter(col("id") === 7L).select("extra").first().getString(0) == "v7")

    RefTableMutations.upsert(spark, root,
      Seq((7L, "SEVEN"), (200L, "new")).toDF("id", "extra"), Seq("id"))
    val cur2 = {
      val c = VersionedTable.resolve(root, conf).get
      spark.read.option("mergeSchema", "true")
        .parquet(SnapshotFiles.list(c).map(_.path): _*)
    }
    assert(cur2.columns.sorted.toSeq == Seq("extra", "id"))
    assert(cur2.filter(col("id") === 7L).select("extra").first().getString(0) == "SEVEN")
    assert(cur2.filter(col("id") === 55L).select("extra").first().isNullAt(0),
      "narrow-file rows read as null extra, never dropped")
    assert(cur2.count() == 91)
  }

  /** The stage names and job descriptions of the jobs `body` starts on
    * this thread. A marker job after `body` proves every earlier job-start
    * event was delivered: the listener bus delivers one listener's events
    * in order.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobsOf"
    val tag = java.util.UUID.randomUUID().toString
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) =>
            e.stageInfos.foreach(si => names.add(si.name))
            Option(e.properties.getProperty("spark.job.description")).foreach(names.add(_))
          case Some(t) if t == s"$tag-end" => delivered.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body
      finally {
        sc.setLocalProperty(key, s"$tag-end")
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty(key, null)
      }
      assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "job-start events were not delivered")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    names.asScala.toSeq
  }

  /** The data files a version stages in its own (flat) directory. */
  private def stagedFiles(root: String): Seq[String] = {
    val cur = new org.apache.hadoop.fs.Path(VersionedTable.resolve(root, conf).get)
    cur.getFileSystem(conf).listStatus(cur).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSeq
  }

  test("a flat upsert reads its base schema from footers and stages byte-sized files") {
    import spark.implicits._
    val root = tmpDir("sized")
    // eight files whose key ranges all overlap: the upsert narrows to all
    // of them, and its rewrite unions eight file reads with the source
    val df = (0 until 20000).map(i => (i.toLong, i.toLong * 2, s"s$i")).toDF("id", "a", "s")
    VersionedTable.publish(df.repartition(8), root)
    assert(stagedFiles(root).size == 8)
    val src = (0 until 1000).map(i => (i.toLong * 20, -1L, s"u$i")).toDF("id", "a", "s")

    val jobs = jobsOf(RefTableMutations.upsert(spark, root, src, Seq("id")))
    assert(!jobs.exists(_.startsWith("parquet at RefTableMutations")),
      s"a schema-inference job ran: ${jobs.mkString(", ")}")
    // ~300 KB of narrowed files and source at the default 128 MB target
    assert(stagedFiles(root).size == 1, s"staged ${stagedFiles(root)}")
    val cur = readCurrent(root)
    assert(cur.count() == 20000)
    assert(cur.filter(col("a") === -1L).count() == 1000)
    assert(cur.filter(col("id") === 21L).select("a").first().getLong(0) == 42L)
  }

  test("a rewrite of a mixed-schema base keeps the mergeSchema read's schema and values") {
    import spark.implicits._
    val root = tmpDir("mixedmerge")
    val dir = new org.apache.hadoop.fs.Path(root)
    dir.getFileSystem(conf).mkdirs(dir)
    (0 until 40).map(i => Tuple1(i.toLong)).toDF("id")
      .coalesce(1).write.mode("append").parquet(root)
    (40 until 80).map(i => (i.toLong, i * 1.5, s"w$i")).toDF("id", "x", "w")
      .coalesce(1).write.mode("append").parquet(root)
    VersionedTable.adopt(root)
    val base = SnapshotFiles.list(VersionedTable.resolve(root, conf).get).map(_.path)
    // what a mergeSchema read of the base gives, less the deleted rows
    val expected = spark.read.option("mergeSchema", "true").parquet(base: _*)
      .filter(!(col("id") % 4L === 0L))

    RefTableMutations.deleteWhere(spark, root, col("id") % 4L === 0L)
    val staged = stagedFiles(root).map(n => s"${VersionedTable.resolve(root, conf).get}/$n")
    assert(staged.nonEmpty, "every base file may match: the delete rewrites")
    val rewritten = spark.read.parquet(staged: _*)
    assert(rewritten.schema == expected.schema)
    assert(rewritten.orderBy("id").collect().toSeq == expected.orderBy("id").collect().toSeq)
    // the narrow file's rows carry the columns it lacked as nulls
    val r5 = rewritten.filter(col("id") === 5L).first()
    assert(r5.isNullAt(r5.fieldIndex("x")) && r5.isNullAt(r5.fieldIndex("w")))
    assert(rewritten.filter(col("id") === 41L).select("w").first().getString(0) == "w41")
  }

  test("a base with many uncached files merges its schema in Spark's footer job, to the same schema") {
    import spark.implicits._
    val root = tmpDir("jobmerge")
    (0 until 3).foreach { i =>
      val df = if (i == 1) (0 until 10).map(j => (j.toLong, s"w$j")).toDF("id", "w")
        else (0 until 10).map(j => Tuple1(j.toLong)).toDF("id")
      df.coalesce(1).write.mode("append").parquet(root)
    }
    VersionedTable.adopt(root)
    val files = SnapshotFiles.list(VersionedTable.resolve(root, conf).get)
    val expected = spark.read.option("mergeSchema", "true").parquet(files.map(_.path): _*).schema
    // uncached and past a zero driver budget: the footer job merges
    val inJob = RefTableColumnarReader.mergedSchema(spark, files, conf, driverReads = 0)
    // the same files again, now read on the driver and cached
    val onDriver = RefTableColumnarReader.mergedSchema(spark, files, conf)
    assert(inJob.contains(expected))
    assert(onDriver.contains(expected))
  }

  test("a change stages as many files as Spark splits a scan of its bytes into") {
    val (mb, open) = (1L << 20, 4L << 20)
    def files(bytes: Long, cores: Int, max: Long = 128 * mb) =
      RefTableMutations.stagedFiles(BigInt(bytes), max, open, cores)
    // a small upsert stages one file whatever the core count
    assert(files(300 * 1024, 4) == 1 && files(300 * 1024, 32) == 1)
    // a 100 MB rewrite keeps a task per core down to the 4 MB open cost
    assert(files(100 * mb, 32) == 25)
    assert(files(100 * mb, 4) == 4)
    // past maxPartitionBytes per core the target caps at it
    assert(files(10240 * mb, 4) == 80)
    assert(files(10 * 1024, 4, max = 2048) == 5)
    assert(files(0, 4) == 1)
  }

  test("history is metadata-only and vacuum never deletes the current version") {
    import spark.implicits._
    val root = tmpDir("hist")
    val df1 = (0 until 100).map(i => (i.toLong, i.toString)).toDF("id", "s")
    // generous retention so versions accumulate for the vacuum below
    VersionedTable.publish(df1.repartition(2), root, keepVersions = 10)
    VersionedTable.publish(df1.filter(col("id") < 40L).repartition(1), root, keepVersions = 10)
    VersionedTable.publish(df1.filter(col("id") < 10L).repartition(1), root, keepVersions = 10)
    val h = VersionedTable.history(spark, root)
      .orderBy("version_idx")
      .collect()
      .map(r => (r.getInt(0), r.getInt(2), r.getLong(4), r.getBoolean(5)))
    assert(h.toSeq == Seq((0, 2, 100L, false), (1, 1, 40L, false), (2, 1, 10L, true)))

    val deleted = VersionedTable.vacuum(root, keepVersions = 2)
    assert(deleted.size == 1, s"expected exactly the oldest version deleted, got $deleted")
    val left = VersionedTable.versionDirs(root, conf)
    assert(left.size == 2 && !left.contains(deleted.head))
    // current still resolves and reads the latest state
    assert(spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, s STRING").load().count() == 10)
  }

  test("readers pinned to the pre-mutation version are unaffected") {
    import spark.implicits._
    val root = tmpDir("pin")
    val df = (0 until 400).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 4))
    val v1 = VersionedTable.versionDirs(root, conf).last
    RefTableMutations.deleteWhere(spark, root, col("id") < 200L)
    // time travel to v1 still sees every row
    val pinned = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, v DOUBLE")
      .option("version", v1).load()
    assert(pinned.count() == 400)
    val cur = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, v DOUBLE").load()
    assert(cur.count() == 200)
  }

  test("merge applies update/delete/insert clauses from a source-side op marker") {
    import spark.implicits._
    val root = tmpDir("merge3")
    val base = (0L until 100L).map(i => (i, i * 10)).toDF("id", "v")
    VersionedTable.publish(base, root, layout = Layout.Clustered(Seq("id"))(files = 4))
    // op marker is NOT a table column; matched 'i' rows must be ignored
    val src = Seq(
      (5L, 999L, "u"), (6L, 0L, "d"), (200L, 42L, "i"),
      (7L, -1L, "i") // key exists, but no matched clause fires for 'i'
    ).toDF("id", "v", "op")
    RefTableMutations.merge(spark, root, src, Seq("id"),
      matchedUpdate = Some(col("op") === "u"),
      matchedDelete = Some(col("op") === "d"),
      notMatchedInsert = Some(col("op") =!= "d"))
    val got = readCurrent(root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) == 999L, "matched 'u' row updates")
    assert(!got.contains(6L), "matched 'd' row deletes")
    assert(got(200L) == 42L, "unmatched non-'d' row inserts")
    assert(got(7L) == 70L, "matched 'i' row is untouched (no clause fires)")
    assert(got.size == 100, "99 kept + 1 insert")
    // the narrow source key range left the upper files carried over
    assert(!readCurrent(root)
      .columns.contains("op"), "the op marker never lands in the table")
  }

  test("applyChanges replays a SnapshotDiff changefeed onto a replica exactly") {
    import spark.implicits._
    val rootB = tmpDir("replica")
    val before = (0L until 50L).map(i => (i, s"v$i")).toDF("id", "s")
    val after = (0L until 50L).filter(_ % 9 != 0).map(i =>
      (i, if (i % 4 == 0) s"upd$i" else s"v$i")).toDF("id", "s")
      .unionAll(Seq((100L, "new")).toDF("id", "s"))
    VersionedTable.publish(before, rootB)
    val changes = graft.operators.SnapshotDiff.diff(before, after, Seq("id"))
    RefTableMutations.applyChanges(spark, rootB, changes, Seq("id"))
    val got = readCurrent(rootB)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = after.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expect, "replica must equal the after state")
  }

  test("bucketed layout: a scattered-key upsert rewrites only the keys' buckets") {
    import spark.implicits._
    val root = tmpDir("bucket")
    // keys deliberately SCATTERED across the whole range: [min,max]
    // narrowing keeps every file, bucket narrowing keeps 3
    val df = (0L until 8000L).map(i => (i, s"v$i")).toDF("id", "s")
    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    val v1files = fileNames(root)
    assert(v1files.size == 16, s"16 bucket files, got ${v1files.size}")

    val src = Seq((3L, "A"), (4000L, "B"), (7999L, "C")).toDF("id", "s")
    RefTableMutations.upsert(spark, root, src, Seq("id"))

    val cur = VersionedTable.resolve(root, conf).get
    val staged = SnapshotFiles.listPhysical(cur, Nil)
    // staged file count follows the rewrite's output partitioning (scan
    // splits + AQE), not exactly the bucket count — the load-bearing claim
    // is that it scales with TOUCHED buckets (3), not the table (16)
    assert(staged.size <= 8, s"rewrite must stay O(touched buckets), staged ${staged.size}")
    val carried = fileNames(root).intersect(v1files)
    assert(carried.size >= 13, s"untouched buckets carried by reference: ${carried.size}")

    val got = readCurrent(root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(3L) == "A" && got(4000L) == "B" && got(7999L) == "C")
    assert(got.size == 8000 && got(5L) == "v5")

    // a second upsert: the current version is now manifest-referenced
    // without the marker, so narrowing falls back to stats — correctness
    // must be unchanged (layout drift, restored by a bucketed re-publish)
    RefTableMutations.upsert(spark, root, Seq((3L, "A2")).toDF("id", "s"), Seq("id"))
    assert(readCurrent(root).filter(col("id") === 3L).head().getString(1) == "A2")

    // merge narrows the same way on a fresh bucketed publish
    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    val before = fileNames(root)
    RefTableMutations.merge(spark, root,
      Seq((7L, "upd")).toDF("id", "s"), Seq("id"))
    val carried2 = fileNames(root).intersect(before)
    assert(carried2.size >= 15, s"merge must keep >= 15 of 16 buckets: ${carried2.size}")

    // predicate mutations narrow too: point DELETE (IN) and point UPDATE
    // touch only the named keys' buckets — unclustered bucket files span
    // the whole id range, so stats narrowing alone keeps everything
    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    val b3 = fileNames(root)
    RefTableMutations.deleteWhere(spark, root, col("id").isin(11L, 6002L))
    val carried3 = fileNames(root).intersect(b3)
    assert(carried3.size >= 14, s"point delete must keep >= 14 buckets: ${carried3.size}")
    assert(readCurrent(root).count() == 7998)

    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    val b4 = fileNames(root)
    RefTableMutations.updateWhere(spark, root, Map("s" -> lit("X")), col("id") === 13L)
    val carried4 = fileNames(root).intersect(b4)
    assert(carried4.size >= 15, s"point update must keep >= 15 buckets: ${carried4.size}")
    assert(readCurrent(root).filter(col("id") === 13L).head().getString(1) == "X")
  }

  test("bucket narrowing hashes under the TABLE's key types, not the source's") {
    import spark.implicits._
    val root = tmpDir("buckettype")
    val df = (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "s") // id BIGINT
    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    // source key typed INT: Murmur3 hash(3:int) != hash(3L:bigint), so
    // hashing the source's types picks the WRONG buckets — the files
    // holding the matched keys get carried unrewritten and the anti-join
    // never removes the old rows (silent duplicate keys)
    val src = Seq((3, "A"), (1234, "B")).toDF("id", "s")
    RefTableMutations.upsert(spark, root, src, Seq("id"))
    val rows = readCurrent(root).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 4000, s"no duplicate/stale keys expected, got ${rows.length} rows")
    val m = rows.toMap
    assert(m(3L) == "A" && m(1234L) == "B" && m(5L) == "v5")

    // merge path narrows through the same cast
    VersionedTable.publish(df, root, layout = Layout.Bucketed(Seq("id"), 16))
    RefTableMutations.merge(spark, root, Seq((7, "upd")).toDF("id", "s"), Seq("id"))
    val rows2 = readCurrent(root).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows2.length == 4000, s"merge must not duplicate keys, got ${rows2.length}")
    assert(rows2.toMap.apply(7L) == "upd")
  }

  test("delete-everything leaves a mutable empty table; upsert repopulates it") {
    import spark.implicits._
    val root = tmpDir("delall2")
    val df = (0 until 100).map(i => (i.toLong, s"s$i")).toDF("id", "s")
    VersionedTable.publish(df.repartition(2), root)
    RefTableMutations.deleteWhere(spark, root, lit(true))
    val cur = VersionedTable.resolve(root, conf).get
    val files = SnapshotFiles.list(cur)
    // the empty state must still read as 0 rows through the normal path
    if (files.nonEmpty)
      assert(spark.read.parquet(files.map(_.path): _*).count() == 0)
    // and the empty version must accept further mutations
    RefTableMutations.upsert(spark, root, Seq((1L, "x")).toDF("id", "s"), Seq("id"))
    assert(readCurrent(root).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "x")))
  }

  test("composite-key upsert narrows to may-match files (per-column bounds conjunction)") {
    import spark.implicits._
    val root = tmpDir("ck_narrow")
    // clustered by (t, id): the files tile the two-column key space
    val df = (0 until 4000).map(i => (i / 500L, (i % 500).toLong, s"v$i")).toDF("t", "id", "s")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("t", "id"))(files = 8))
    val before = fileNames(root)
    assert(before.size == 8)

    // a batch local to tenant 3: the t-bounds alone must prune most files
    val src = Seq((3L, 100L, "A"), (3L, 110L, "B")).toDF("t", "id", "s")
    RefTableMutations.upsert(spark, root, src, Seq("t", "id"))

    val carried = before.intersect(fileNames(root))
    assert(carried.size >= 6,
      s"composite-key narrowing failed: only ${carried.size} of 8 files carried")
    assert(carried.size < 8, "the matching file must have been rewritten")
    val rows = readCurrent(root).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(rows.size == 4000 && rows((3L, 100L)) == "A" && rows((3L, 110L)) == "B")
  }

  test("composite-key MoR apply: sidecars name only may-match files") {
    import spark.implicits._
    val root = tmpDir("ck_mor")
    val df = (0 until 4000).map(i => (i / 500L, (i % 500).toLong, i.toDouble)).toDF("t", "id", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("t", "id"))(files = 8))
    val changes = Seq(
      (5L, 10L, -1.0, "update"), (5L, 20L, 0.0, "delete"), (99L, 1L, 7.0, "insert"))
      .toDF("t", "id", "v", "change_type")
    RefTableMutations.applyChangesMergeOnRead(spark, root, changes, Seq("t", "id"))
    val cur = VersionedTable.resolve(root, conf).get
    // the position pass was bounded by the (t, id) bounds conjunction:
    // only tenant-5-range files may appear in the sidecars
    val touched = DeletionVectors.positionsByFile(cur, conf).keySet
    assert(touched.size <= 2, s"narrowing failed, sidecars name: $touched")
    val got = spark.read.format("reftable").option("path", root)
      .option("schema", "t BIGINT, id BIGINT, v DOUBLE").load()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 4000, s"expected 4000 rows, got ${got.size}")
    assert(got((5L, 10L)) == -1.0 && !got.contains((5L, 20L)) && got((99L, 1L)) == 7.0)
  }

  test("composite-key upsert with a partially-null key batch stays correct") {
    import spark.implicits._
    val root = tmpDir("ck_null")
    val df = (0 until 100).map(i => (Some(i / 10L), (i % 10).toLong, s"v$i")).toDF("t", "id", "s")
    VersionedTable.publish(df, root)
    // one row null on t, one real match, one fresh key: null-key rows are
    // pure inserts (equi-join keys never match NULL), the real match updates
    val src = Seq((Option.empty[Long], 3L, "N"), (Some(4L), 4L, "U"), (Some(50L), 0L, "F"))
      .toDF("t", "id", "s")
    RefTableMutations.upsert(spark, root, src, Seq("t", "id"))
    val rows = readCurrent(root).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 102)
    assert(rows.contains((-1L, 3L, "N")) && rows.contains((4L, 4L, "U")) &&
      rows.contains((50L, 0L, "F")))
  }

  // ---- Hive-partitioned layouts: mutations with declared partitionColumns --

  private def readCurrentPartitioned(
      root: String, pcols: Seq[String],
      ptypes: Map[String, org.apache.spark.sql.types.DataType]): org.apache.spark.sql.DataFrame = {
    val cur = VersionedTable.resolve(root, conf).get
    val files = SnapshotFiles.list(cur, pcols)
    if (files.isEmpty) return spark.emptyDataFrame
    // group by hosting version dir exactly like the mutation reader: a
    // manifest version's files live in several dirs, each its own basePath
    val byHost = files.groupBy(f =>
      new org.apache.hadoop.fs.Path(f.path).getParent.getParent.toString)
    byHost.toSeq.map { case (host, group) =>
      spark.read.option("basePath", host).parquet(group.map(_.path): _*)
    }.reduce(_ unionByName _)
      .withColumns(pcols.map(c => c -> col(c).cast(ptypes(c))).toMap)
  }

  test("partitioned deleteWhere rewrites only matching partitions; the rest ride the manifest") {
    import spark.implicits._
    val root = tmpDir("pdel")
    val df = (0 until 900).map(i => (i.toLong, i.toDouble, s"p${i % 3}")).toDF("id", "v", "p")
    VersionedTable.publish(df.repartition(2), root, layout = Layout.Partitioned(Seq("p")))
    val before = SnapshotFiles.list(VersionedTable.resolve(root, conf).get, Seq("p"))
    assert(before.size >= 3, "at least one file per partition")

    RefTableMutations.deleteWhere(spark, root, col("p") === "p1" && col("v") < 300.0,
      partitionColumns = Seq("p"))

    val cur = VersionedTable.resolve(root, conf).get
    val curP = new org.apache.hadoop.fs.Path(cur)
    val curQ = curP.getFileSystem(conf).makeQualified(curP).toString
    val after = SnapshotFiles.list(cur, Seq("p"))
    // p0/p2 files carried over by reference under their original paths
    // (listings are fs-qualified; qualify the version dir before comparing)
    val carriedPartitions = after.filterNot(_.path.startsWith(curQ)).map(_.partitionValues("p")).toSet
    assert(carriedPartitions == Set("p0", "p2"),
      s"only untouched partitions may be carried, got $carriedPartitions")
    // the new version dir physically holds ONLY rewritten p1 files
    val staged = SnapshotFiles.listPhysical(cur, Seq("p"))
    assert(staged.nonEmpty && staged.forall(_.partitionValues("p") == "p1"),
      s"new version must physically hold only partition p1, got ${staged.map(_.path)}")

    val got = readCurrentPartitioned(root, Seq("p"),
      Map("p" -> org.apache.spark.sql.types.StringType))
      .select("id").as[Long].collect().sorted.toSeq
    val expect = (0 until 900).filterNot(i => i % 3 == 1 && i < 300).map(_.toLong)
    assert(got == expect)
  }

  test("partitioned upsert round-trips typed partition values and carries disjoint partitions") {
    import spark.implicits._
    val root = tmpDir("pups")
    val df = (0 until 400).map(i => (i.toLong, s"s$i", i % 4)).toDF("id", "s", "b")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("b")))
    val ptypes = Map[String, org.apache.spark.sql.types.DataType](
      "b" -> org.apache.spark.sql.types.IntegerType)

    val src = Seq((2L, "UP2", 2), (1000L, "NEW", 9)).toDF("id", "s", "b")
    RefTableMutations.upsert(spark, root, src, Seq("id"),
      partitionColumns = Seq("b"), partitionTypes = ptypes)

    val got = readCurrentPartitioned(root, Seq("b"), ptypes)
    assert(got.schema("b").dataType == org.apache.spark.sql.types.IntegerType)
    val byId = got.collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(byId(2L) == ("UP2", 2), "matched key updates in place")
    assert(byId(1000L) == ("NEW", 9), "new key inserts, creating partition b=9")
    assert(byId.size == 401)
    val cur = VersionedTable.resolve(root, conf).get
    assert(SnapshotFiles.list(cur, Seq("b")).exists(_.partitionValues("b") == "9"),
      "the new partition directory must surface in the listing")
  }

  test("partitioned updateWhere moves rows across partition directories") {
    import spark.implicits._
    val root = tmpDir("pmove")
    val df = (0 until 300).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "p")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("p")))

    // p is a DATA column during the rewrite, so SET p = 'p9' re-buckets the
    // rewritten rows under their new directory — partition migration for free
    RefTableMutations.updateWhere(spark, root, Map("p" -> lit("p9")),
      col("p") === "p0" && col("id") < 150L, partitionColumns = Seq("p"))

    val got = readCurrentPartitioned(root, Seq("p"),
      Map("p" -> org.apache.spark.sql.types.StringType))
      .groupBy("p").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val movedFromP0 = (0 until 300).count(i => i % 3 == 0 && i < 150)
    assert(got("p9") == movedFromP0)
    assert(got("p0") == 100 - movedFromP0)
    assert(got("p1") == 100 && got("p2") == 100)
  }

  test("two successive partitioned mutations chain manifests over partitioned hosts") {
    import spark.implicits._
    val root = tmpDir("pchain")
    val df = (0 until 600).map(i => (i.toLong, i.toDouble, s"d${i % 2}")).toDF("id", "v", "d")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("d")))
    RefTableMutations.deleteWhere(spark, root, col("d") === "d0" && col("id") < 100L,
      partitionColumns = Seq("d"))
    RefTableMutations.upsert(spark, root,
      Seq((50L, 5.5, "d0"), (2000L, 9.9, "d1")).toDF("id", "v", "d"), Seq("id"),
      partitionColumns = Seq("d"))
    val got = readCurrentPartitioned(root, Seq("d"),
      Map("d" -> org.apache.spark.sql.types.StringType))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(!got.contains(48L), "deleted even id below 100 stays deleted through the chain")
    assert(got(50L) == (5.5, "d0"), "upsert re-inserts a previously deleted key")
    assert(got(2000L) == (9.9, "d1"))
    assert(got.size == 600 - 50 + 2, "600 - 50 deleted evens + re-insert + new insert")
  }

  test("narrow mutations of a 200-file table start no leaf-listing job") {
    import spark.implicits._
    val root = tmpDir("scale")
    // above both the parallel-listing threshold (32 paths) and the driver
    // footer budget (64 misses)
    VersionedTable.publish(spark.range(0, 2000, 1, 200).toDF("id").withColumn("v", col("id")), root)
    assert(stagedFiles(root).size == 200)
    val before = fileNames(root)
    val jobs = jobsOf {
      RefTableMutations.deleteWhere(spark, root, col("id") === 7L)
      RefTableMutations.upsert(spark, root, Seq((1234L, -1L)).toDF("id", "v"), Seq("id"))
    }
    assert(!jobs.exists(_.startsWith("Listing leaf files")),
      s"a listing job ran: ${jobs.filter(_.startsWith("Listing")).mkString(", ")}")
    assert((before -- fileNames(root)).size == 2, "each mutation rewrites its one file")
    val cur = readCurrent(root)
    assert(cur.count() == 1999)
    assert(cur.filter(col("id") === 1234L).select("v").first().getLong(0) == -1L)
  }

  test("a literal that needs a cast narrows: Int literals on a bigint column") {
    val root = tmpDir("intlit")
    VersionedTable.publish(spark.range(0, 200, 1, 20).toDF("id"), root)
    def rewrites(condition: org.apache.spark.sql.Column): Int = {
      val before = fileNames(root)
      RefTableMutations.deleteWhere(spark, root, condition)
      (before -- fileNames(root)).size
    }
    assert(rewrites(col("id") === 7) == 1)
    assert(rewrites(col("id") < 3) == 1)
    assert(rewrites(col("id").isin(55, 56)) == 1)
    assert(readCurrent(root).count() == 200 - 1 - 3 - 2)
  }

  /** Registers a reftable catalog `cat` with namespace `db`; returns its warehouse. */
  private def catalog(cat: String): String = {
    val wh = tmpDir(s"${cat}_wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    wh
  }

  test("internal reads of a Hive-partitioned table keep its partition column") {
    import spark.implicits._
    val cat = "gpcols"
    val wh = catalog(cat)
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT, p STRING) USING reftable " +
      "OPTIONS (partitionColumns 'p')")
    val root = s"$wh/db/t"
    VersionedTable.publish((0 until 40).map(i => (i.toLong, i.toLong, s"p${i % 4}"))
      .toDF("id", "v", "p"), root, layout = Layout.Partitioned(Seq("p")))
    val v0 = new org.apache.hadoop.fs.Path(VersionedTable.resolve(root, conf).get).getName
    RefTableMutations.upsert(spark, root, Seq((5L, -5L, "p1"), (100L, 100L, "p9"))
      .toDF("id", "v", "p"), Seq("id"), partitionColumns = Seq("p"))
    val scanned = spark.table(s"$cat.db.t").as[(Long, Long, String)].collect()
      .map { case (id, _, p) => id -> p }.toMap

    val changes = VersionedTable.changes(spark, root, Seq("id"), v0)
    assert(changes.columns.toSeq == Seq("id", "v", "p", "change_type"))
    assert(changes.select("id", "p").as[(Long, String)].collect().toMap ==
      Map(5L -> scanned(5L), 100L -> scanned(100L)))
    val images = VersionedTable.changesImages(spark, root, Seq("id"), v0)
    assert(images.filter(col("id") === 5L).select("p_before", "p_after")
      .as[(String, String)].collect().toSeq == Seq(("p1", "p1")))
    // the whole-version read `CALL expect` (and a maintenance restore) takes
    val audit = spark.sql(s"CALL $cat.system.expect(table => 'db.t', rules => 'has_p:p IS NOT NULL')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(audit == Seq(("has_p", 0L, 41L)))
  }

  test("compaction after REMOVE partitioning keeps the column at its stored type") {
    val cat = "gremp"
    catalog(cat)
    val t = s"$cat.db.t"
    spark.sql(s"CREATE TABLE $t (id BIGINT, bucket INT, v BIGINT) USING reftable " +
      "OPTIONS (partitionColumns 'bucket')")
    spark.sql(s"INSERT INTO $t VALUES (1, 7, 10), (2, 9, 20)")
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('option.partitionColumns')")
    spark.sql(s"INSERT INTO $t VALUES (3, 5, 30)")
    // old files hold `bucket` only in their directories, the new one in its data pages
    spark.sql(s"CALL $cat.system.compact(table => 'db.t')")
    val rows = spark.table(t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 7, 10L), (2L, 9, 20L), (3L, 5, 30L)))
  }
}
