package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hidden partitioning ([[RefTableTransforms]], a [[Layout.Hidden]]
  * publish): the layout lives under DERIVED directories while the source
  * column stays in the files — a plain predicate on the source column must
  * prune directories at listing time, results must equal the unpartitioned
  * read exactly (including NULL source values), appended files without the
  * transform dirs must stay visible (Unknown keeps them), INSERT OVERWRITE
  * must re-derive the directories, and the option grammar must validate at
  * analysis time.
  */
class RefTableHiddenPartitionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_hidden_$name").toString

  private def readRef(root: String, schema: String, hidden: String) =
    spark.read.format("reftable").option("path", root)
      .option("schema", schema).option("hiddenPartitions", hidden).load()

  private def optsFor(root: String, schema: String, hidden: String): RefTableOptions = {
    val m = new java.util.HashMap[String, String]()
    m.put("path", root); m.put("schema", schema); m.put("hiddenPartitions", hidden)
    RefTableOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
  }

  test("days(ts): range predicate on ts prunes day directories exactly") {
    val root = tmpDir("days")
    import spark.implicits._
    // 10 days x 10 events, plus 3 null-ts rows
    val df = (0 until 100).map { i =>
      (i.toLong, Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z").plusSeconds(i / 10 * 86400L + i * 7))))
    }.toDF("id", "ts")
      .unionByName(Seq((900L, None: Option[java.sql.Timestamp]),
        (901L, None), (902L, None)).toDF("id", "ts"))
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("days(ts)")))

    val schema = "id BIGINT, ts TIMESTAMP"
    val opts = optsFor(root, schema, "days(ts)")
    // physical layout: one ts_day dir per day + the Hive default dir
    val all = SnapshotFiles.list(VersionedTable.resolve(root).get, opts.physicalNesting)
    assert(all.map(_.partitionValues("ts_day")).distinct.size == 11)

    // a 2-day band filter must keep exactly those days' files (+ nothing)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-03T00:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-04T23:59:59Z"))
    val kept = SnapshotFiles.pruned(opts, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
      org.apache.spark.sql.sources.LessThanOrEqual("ts", hi)))
    assert(kept.map(_.partitionValues("ts_day")).distinct.sorted ==
      Seq("2024-03-03", "2024-03-04"))

    // and the query result equals the plain replay (residuals exact)
    val got = readRef(root, schema, "days(ts)")
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .select("id").as[Long].collect().sorted
    val expected = df.filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .select("id").as[Long].collect().sorted
    assert(got.sameElements(expected) && got.nonEmpty)
  }

  test("days(ts): IS NULL / IS NOT NULL prune via the default directory") {
    val root = tmpDir("daysnull")
    import spark.implicits._
    val df = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))),
      (2L, None: Option[java.sql.Timestamp])).toDF("id", "ts")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("days(ts)")))
    val opts = optsFor(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
    val nullFiles = SnapshotFiles.pruned(opts, Seq(org.apache.spark.sql.sources.IsNull("ts")))
    assert(nullFiles.forall(
      _.partitionValues("ts_day") == RefTablePartitioning.HiveDefaultPartition))
    assert(readRef(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
      .filter(col("ts").isNull).count() == 1)
  }

  test("bucket(n, col): equality prunes to one bucket; ranges stay conservative") {
    val root = tmpDir("bucket")
    import spark.implicits._
    val df = (1L to 1000L).toDF("user_id").withColumn("v", col("user_id") * 2)
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("bucket(8, user_id)")))
    val schema = "user_id BIGINT, v BIGINT"
    val opts = optsFor(root, schema, "bucket(8, user_id)")
    val eq = SnapshotFiles.pruned(opts,
      Seq(org.apache.spark.sql.sources.EqualTo("user_id", 417L)))
    assert(eq.map(_.partitionValues("user_id_bucket")).distinct.size == 1,
      s"equality should prune to one bucket, kept: ${eq.map(_.partitionValues)}")
    // the kept bucket actually contains the row
    assert(readRef(root, schema, "bucket(8, user_id)")
      .filter(col("user_id") === 417L).count() == 1)
    // a range predicate cannot use buckets — the BUCKET layer keeps every
    // bucket (only footer stats may narrow further), and the result is exact
    val rng = SnapshotFiles.pruned(opts,
      Seq(org.apache.spark.sql.sources.GreaterThan("user_id", 990L)))
    assert(rng.nonEmpty)
    assert(readRef(root, schema, "bucket(8, user_id)")
      .filter(col("user_id") > 990L).count() == 10)
  }

  test("truncate on strings and ints: prefix/band pruning, exact results") {
    val root = tmpDir("trunc")
    import spark.implicits._
    val df = Seq("alpha", "alpine", "beta", "betamax", "gamma", "delta")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("truncate(3, name)")))
    val opts = optsFor(root, "id BIGINT, name STRING", "truncate(3, name)")
    val eq = SnapshotFiles.pruned(opts,
      Seq(org.apache.spark.sql.sources.EqualTo("name", "alpine")))
    assert(eq.map(_.partitionValues("name_trunc")).distinct == Seq("alp"))
    val lt = SnapshotFiles.pruned(opts,
      Seq(org.apache.spark.sql.sources.LessThan("name", "bz")))
    assert(lt.map(_.partitionValues("name_trunc")).distinct.sorted == Seq("alp", "bet"))

    val rootI = tmpDir("trunci")
    val dfi = (0L until 100L).toDF("n").withColumn("x", col("n") + 1)
    VersionedTable.publish(dfi, rootI, layout = Layout.Hidden(Seq("truncate(10, n)")))
    val optsI = optsFor(rootI, "n BIGINT, x BIGINT", "truncate(10, n)")
    val band = SnapshotFiles.pruned(optsI, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("n", 35L),
      org.apache.spark.sql.sources.LessThan("n", 52L)))
    assert(band.map(_.partitionValues("n_trunc")).distinct.map(_.toLong).sorted == Seq(30L, 40L, 50L))
    assert(spark.read.format("reftable").option("path", rootI)
      .option("schema", "n BIGINT, x BIGINT").option("hiddenPartitions", "truncate(10, n)")
      .load().filter(col("n") >= 35L && col("n") < 52L).count() == 17)
  }

  test("hours(ts): hour-band predicates prune hour directories") {
    val root = tmpDir("hours")
    import spark.implicits._
    val df = (0 until 48).map(i =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:30:00Z").plusSeconds(i * 3600L))))
      .toDF("id", "ts")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("hours(ts)")))
    val opts = optsFor(root, "id BIGINT, ts TIMESTAMP", "hours(ts)")
    val all = SnapshotFiles.list(VersionedTable.resolve(root).get, opts.physicalNesting)
    assert(all.map(_.partitionValues("ts_hour")).distinct.size == 48)
    val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T05:00:00Z"))
    val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T07:59:00Z"))
    val kept = SnapshotFiles.pruned(opts, Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
      org.apache.spark.sql.sources.LessThanOrEqual("ts", hi)))
    assert(kept.map(_.partitionValues("ts_hour")).distinct.sorted ==
      Seq("2024-03-01-05", "2024-03-01-06", "2024-03-01-07"))
    assert(readRef(root, "id BIGINT, ts TIMESTAMP", "hours(ts)")
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi)).count() == 3)
  }

  test("appended flat files (no transform dirs) survive every prune") {
    val root = tmpDir("append")
    import spark.implicits._
    val df = (0 until 20).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-03-${"%02d".format(i % 5 + 1)} 08:00:00")))
      .toDF("id", "ts")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("days(ts)")))
    // an ordinary SQL append stages flat files with no ts_day dirs
    val tbl = "hidden_append_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
      "schema 'id BIGINT, ts TIMESTAMP', hiddenPartitions 'days(ts)')")
    spark.sql(s"INSERT INTO $tbl VALUES (1000, timestamp'2024-03-02 09:00:00')")
    val opts = optsFor(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
    val kept = SnapshotFiles.pruned(opts, Seq(org.apache.spark.sql.sources.EqualTo(
      "ts", java.sql.Timestamp.valueOf("2024-03-02 09:00:00"))))
    // the appended file has no ts_day value -> Unknown -> kept
    assert(kept.exists(_.partitionValues.isEmpty), "flat appended file was wrongly pruned")
    assert(readRef(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
      .filter(col("ts") === lit(java.sql.Timestamp.valueOf("2024-03-02 09:00:00")))
      .count() == 1) // exactly the appended row, read from the flat file
    // the original day-02 rows all survive alongside
    assert(readRef(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-03-02")))
      .count() == 5) // 4 original at 08:00 + the appended at 09:00
  }

  test("INSERT OVERWRITE keeps the hidden layout: files carry their day directories") {
    val root = tmpDir("overwrite")
    import spark.implicits._
    val tbl = "hidden_overwrite_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING reftable OPTIONS (path '$root', " +
      "schema 'id BIGINT, ts TIMESTAMP', hiddenPartitions 'days(ts)')")
    // 40 events over 5 days, arriving in 8 input partitions
    (0 until 40).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-03-0${i % 5 + 1} 08:00:00")))
      .toDF("id", "ts").repartition(8).createOrReplaceTempView("hidden_overwrite_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT id, ts FROM hidden_overwrite_src")
    val opts = optsFor(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
    val all = SnapshotFiles.pruned(opts, Nil)
    assert(all.nonEmpty && all.forall(_.partitionValues.contains("ts_day")),
      s"every overwritten file must carry a ts_day value: ${all.map(_.path)}")
    val kept = SnapshotFiles.pruned(opts, Seq(org.apache.spark.sql.sources.EqualTo(
      "ts", java.sql.Timestamp.valueOf("2024-03-02 08:00:00"))))
    assert(kept.nonEmpty && kept.forall(_.partitionValues("ts_day") == "2024-03-02"),
      s"a one-day filter keeps only that day's files: ${kept.map(_.path)}")
    assert(readRef(root, "id BIGINT, ts TIMESTAMP", "days(ts)")
      .filter(col("ts") === lit(java.sql.Timestamp.valueOf("2024-03-02 08:00:00")))
      .count() == 8)
  }

  test("streaming scan with a declared filter prunes transform directories") {
    val root = tmpDir("stream")
    import spark.implicits._
    val df = (0 until 50).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-03-${"%02d".format(i % 5 + 1)} 08:00:00")))
      .toDF("id", "ts")
    VersionedTable.publish(df, root, layout = Layout.Hidden(Seq("days(ts)")))
    val stream = spark.readStream.format("reftable")
      .option("path", root).option("schema", "id BIGINT, ts TIMESTAMP")
      .option("hiddenPartitions", "days(ts)")
      .option("filter", "ts >= timestamp'2024-03-04 00:00:00'")
      .load()
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-04 00:00:00")))
    val q = stream.writeStream.format("memory").queryName("hidden_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("hidden_stream").count() == 20) // days 04 and 05
  }

  test("option grammar validates: bad spec, unknown column, exclusivity") {
    def expectErr(opts: Map[String, String], fragment: String): Unit = {
      val m = new java.util.HashMap[String, String]()
      opts.foreach { case (k, v) => m.put(k, v) }
      val e = intercept[IllegalArgumentException](
        RefTableOptions.from(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)))
      assert(e.getMessage.contains(fragment), e.getMessage)
    }
    val base = Map("path" -> "/tmp/x", "schema" -> "id BIGINT, ts TIMESTAMP, p STRING")
    expectErr(base + ("hiddenPartitions" -> "weeks(ts)"), "cannot parse")
    expectErr(base + ("hiddenPartitions" -> "days(nope)"), "not in the schema")
    expectErr(base + ("hiddenPartitions" -> "days(id)"), "timestamp/date")
    expectErr(base + ("hiddenPartitions" -> "bucket(0, id)"), "positive")
    expectErr(base + ("hiddenPartitions" -> "days(ts)", "partitionColumns" -> "p"),
      "mutually exclusive")
  }
}
