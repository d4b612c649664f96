package graft

import java.nio.file.Files

import graft.sources.reftable._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** `changefeed` read mode ([[RefTableChangefeedStream]]): each generation's
  * micro-batch is the key-level delta between the previous pinned version
  * and the current one — insert/update/delete + row image — with the
  * previous generation recoverable across restarts from the checkpoint's
  * version pins, MoR deletion-vector growth surfacing as deletes, and
  * no-op rewrites (compaction) cancelling to an empty delta.
  */
class RefTableChangefeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_cf_$name").toString

  /** One AvailableNow drain of the changefeed (foreachBatch — the memory
    * sink cannot recover from a checkpoint); returns the rows THIS run
    * emitted. Sleeps past the 1s refresh boundary first so a restarted
    * stream always sees a new generation.
    */
  private def drain(root: String, schema: String, keyCols: String, ckpt: String,
      name: String, extra: Map[String, String] = Map.empty): DataFrame = {
    Thread.sleep(1200)
    var r = spark.readStream.format("reftable")
      .option("path", root).option("schema", schema)
      .option("changefeed", "true").option("keyColumns", keyCols)
      .option("refreshInterval", "1s")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val src = r.load()
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val q = src.writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        rows.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.createDataFrame(rows, src.schema)
  }

  test("bootstrap emits the snapshot as inserts; next run emits the exact delta") {
    import spark.implicits._
    val root = tmpDir("basic")
    val ckpt = tmpDir("basic_ck")
    VersionedTable.publish(
      (1L to 100L).toDF("id").withColumn("v", col("id") * 10), root)

    val first = drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cf_first")
    assert(first.count() == 100)
    assert(first.select("change_type").distinct().collect().map(_.getString(0)).toSeq == Seq("insert"))

    // mutate: one update, one delete, one insert — then restart the stream
    RefTableMutations.upsert(spark, root, Seq((5L, -50L), (500L, 1L)).toDF("id", "v"), Seq("id"))
    RefTableMutations.deleteWhere(spark, root, col("id") === 7L)
    val second = drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cf_second")
    val got = second.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((5L, -50L, "update"), (7L, 70L, "delete"), (500L, 1L, "insert")),
      s"got: $got")
  }

  test("MoR deletes surface as deletes (deletion-vector growth path)") {
    import spark.implicits._
    val root = tmpDir("mor")
    val ckpt = tmpDir("mor_ck")
    VersionedTable.publish((1L to 50L).toDF("id"), root)
    drain(root, "id BIGINT", "id", ckpt, "cf_mor_boot")
    RefTableMutations.deleteWhereMergeOnRead(spark, root, col("id") > 45L)
    val delta = drain(root, "id BIGINT", "id", ckpt, "cf_mor_delta")
    val got = delta.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == (46L to 50L).map(i => (i, "delete")), s"got: $got")
  }

  test("MoR upsert emits update for the matched key and insert for the fresh one") {
    import spark.implicits._
    val root = tmpDir("morup")
    val ckpt = tmpDir("morup_ck")
    VersionedTable.publish((1L to 30L).toDF("id").withColumn("v", lit(0L)), root)
    drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cf_up_boot")
    RefTableMutations.upsertMergeOnRead(spark, root,
      Seq((3L, 33L), (1000L, 1L)).toDF("id", "v"), Seq("id"))
    val delta = drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cf_up_delta")
    val got = delta.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((3L, 33L, "update"), (1000L, 1L, "insert")), s"got: $got")
  }

  test("compaction between generations cancels to an empty delta") {
    import spark.implicits._
    val root = tmpDir("compact")
    val ckpt = tmpDir("compact_ck")
    VersionedTable.publish((1L to 40L).toDF("id").repartition(4), root)
    drain(root, "id BIGINT", "id", ckpt, "cf_c_boot")
    VersionedTable.compact(spark, root) // rewrites every file, changes no row
    val delta = drain(root, "id BIGINT", "id", ckpt, "cf_c_delta")
    assert(delta.count() == 0, "a no-op rewrite must cancel out of the changefeed")
  }

  test("three-generation chain: each restart diffs against ITS pinned predecessor") {
    import spark.implicits._
    val root = tmpDir("chain")
    val ckpt = tmpDir("chain_ck")
    VersionedTable.publish((1L to 20L).toDF("id"), root)
    drain(root, "id BIGINT", "id", ckpt, "cf_g1")
    RefTableMutations.upsert(spark, root, Seq(100L).toDF("id"), Seq("id"))
    val d2 = drain(root, "id BIGINT", "id", ckpt, "cf_g2")
    assert(d2.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((100L, "insert")))
    RefTableMutations.deleteWhere(spark, root, col("id") === 100L)
    val d3 = drain(root, "id BIGINT", "id", ckpt, "cf_g3")
    assert(d3.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((100L, "delete")),
      "the third generation must diff against gen 2, not re-bootstrap")
  }

  test("genColumn rides the changefeed; key-as-field mapping applies") {
    import spark.implicits._
    val root = tmpDir("gen")
    val ckpt = tmpDir("gen_ck")
    VersionedTable.publish((1L to 10L).toDF("k").withColumn("v", lit(1L)), root)
    val first = drain(root, "rk BIGINT NOT NULL, v BIGINT", "rk", ckpt, "cf_gen",
      Map("rowField" -> "rk", "keyColumn" -> "k", "genColumn" -> "g"))
    assert(first.columns.toSeq == Seq("rk", "v", "change_type", "g"))
    assert(first.count() == 10)
    assert(first.select("g").distinct().count() == 1)
  }

  test("a renamed column (columnMapping) streams under its logical name") {
    // the delta scratch stores output-named columns, so the scan over it
    // must not resolve the logical name through the table's mapping again
    import spark.implicits._
    val root = tmpDir("colmap")
    VersionedTable.publish((1L to 20L).toDF("id").withColumn("amount", col("id") * 3), root)
    val got = drain(root, "id BIGINT, price BIGINT", "id", tmpDir("colmap_ck"), "cf_colmap",
      Map("columnMapping" -> "price:amount"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == (1L to 20L).map(i => (i, i * 3, "insert")), s"got: $got")
  }

  test("validation: changefeed option misuse fails at analysis time") {
    def load(opts: Map[String, String]) = {
      var r = spark.readStream.format("reftable")
        .option("path", "/tmp/nope").option("schema", "id BIGINT")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load()
    }
    val e1 = intercept[IllegalArgumentException](load(Map("changefeed" -> "true")))
    assert(e1.getMessage.contains("keyColumns"))
    val e2 = intercept[IllegalArgumentException](load(Map(
      "changefeed" -> "true", "keyColumns" -> "id", "maxFilesPerTrigger" -> "2")))
    assert(e2.getMessage.contains("maxFilesPerTrigger"))
    val e3 = intercept[IllegalArgumentException](load(Map(
      "changefeed" -> "true", "keyColumns" -> "id", "emitMode" -> "trigger")))
    assert(e3.getMessage.contains("emitMode"))
    // standalone keyColumns is legal (the declared merge key for the
    // catalog's $changefeed suffix) but membership still validates
    val e4 = intercept[IllegalArgumentException](load(Map("keyColumns" -> "nope")))
    assert(e4.getMessage.contains("nope"))
    val e5 = intercept[IllegalArgumentException](load(Map(
      "changefeed" -> "true", "keyColumns" -> "nope")))
    assert(e5.getMessage.contains("nope"))
  }

  test("catalog surface: t$changefeed streams deltas; per-scan version pins batch reads") {
    val cat = "gcfcat"
    val wh = Files.createTempDirectory("graft_cfcat_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[RefTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // the merge key declared once, in DDL — $changefeed consumes it
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT) USING reftable " +
      "OPTIONS (keyColumns 'id', refreshInterval '1s')")
    spark.sql(s"INSERT INTO $cat.db.t SELECT explode(sequence(1, 20))")
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val q = spark.readStream.table(s"$cat.db.`t$$changefeed`")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.addAll(java.util.Arrays.asList(b.collect(): _*)); ()
      }
      .option("checkpointLocation", tmpDir("cfcat_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == (1L to 20L).map(i => (i, "insert")), s"got: $got")

    // per-scan schema-preserving override: version time travel by .option
    val v1 = new org.apache.hadoop.fs.Path(VersionedTable.resolve(s"$wh/db/t").get).getName
    spark.sql(s"DELETE FROM $cat.db.t WHERE id <= 15")
    assert(spark.read.option("version", v1).table(s"$cat.db.t").count() == 20)
    assert(spark.table(s"$cat.db.t").count() == 5)

    // schema-EXTENDING options refuse as per-scan reads, naming the remedy
    val e = intercept[UnsupportedOperationException](
      spark.read.option("changefeed", "true").table(s"$cat.db.t").collect())
    assert(e.getMessage.contains("changefeed"), e.getMessage)
    // $changefeed without a declared key names the missing option
    spark.sql(s"CREATE TABLE $cat.db.nokey (id BIGINT) USING reftable")
    val e2 = intercept[IllegalArgumentException](
      spark.readStream.table(s"$cat.db.`nokey$$changefeed`"))
    assert(e2.getMessage.contains("keyColumns"), e2.getMessage)
  }

  test("batch read under changefeed refuses with the snapshot remedy") {
    import spark.implicits._
    val root = tmpDir("batch")
    VersionedTable.publish(Seq(1L).toDF("id"), root)
    val df = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT")
      .option("changefeed", "true").option("keyColumns", "id").load()
    val e = intercept[Exception](df.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("streaming read mode")), s"got: ${msgs(e)}")
  }

  test("changefeedFrom=latest skips the bootstrap; deltas start at the next change") {
    import spark.implicits._
    val root = tmpDir("fromlatest")
    val ckpt = tmpDir("fromlatest_ck")
    VersionedTable.publish((1L to 50L).toDF("id").withColumn("v", col("id")), root)
    val first = drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cfl_first",
      Map("changefeedFrom" -> "latest"))
    assert(first.count() == 0, "latest: no initial-load batch")
    RefTableMutations.upsert(spark, root, Seq((3L, -3L), (99L, 99L)).toDF("id", "v"), Seq("id"))
    val second = drain(root, "id BIGINT, v BIGINT", "id", ckpt, "cfl_second",
      Map("changefeedFrom" -> "latest"))
    val got = second.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((3L, -3L, "update"), (99L, 99L, "insert")), s"got: $got")
  }

  test("changefeedFrom=<version> streams the delta FROM that retained version") {
    import spark.implicits._
    val root = tmpDir("fromver")
    VersionedTable.publish((1L to 20L).toDF("id").withColumn("v", col("id")), root)
    val v1 = VersionedTable.resolve(root, new org.apache.hadoop.conf.Configuration())
      .map(p => new java.io.File(p).getName).get
    RefTableMutations.upsert(spark, root, Seq((2L, -2L)).toDF("id", "v"), Seq("id"))
    RefTableMutations.deleteWhere(spark, root, col("id") === 9L)
    // first batch = exactly the v1→current delta, not a bootstrap
    val first = drain(root, "id BIGINT, v BIGINT", "id", tmpDir("fromver_ck"), "cfv",
      Map("changefeedFrom" -> v1))
    val got = first.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((2L, -2L, "update"), (9L, 9L, "delete")), s"got: $got")

    // a gone version fails LOUDLY (a silent bootstrap would replay the
    // corpus into a consumer that asked for a delta)
    val e = intercept[Exception] {
      drain(root, "id BIGINT, v BIGINT", "id", tmpDir("fromver_ck2"), "cfv2",
        Map("changefeedFrom" -> "v0000000000000000001_deadbeef"))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("changefeedFrom")), s"got: ${msgs(e)}")

    // option validation: changefeedFrom without changefeed, junk values
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("reftable")
        .option("path", root).option("schema", "id BIGINT, v BIGINT")
        .option("changefeedFrom", "latest").load()
    }
    assert(e2.getMessage.contains("requires 'changefeed'"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      spark.readStream.format("reftable")
        .option("path", root).option("schema", "id BIGINT, v BIGINT")
        .option("changefeed", "true").option("keyColumns", "id")
        .option("changefeedFrom", "yesterday").load()
    }
    assert(e3.getMessage.contains("changefeedFrom"), e3.getMessage)
  }
}
