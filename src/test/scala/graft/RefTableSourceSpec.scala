package graft

import java.nio.file.Files

import graft.sources.reftable.{RefTableColumnarReader, RefTableMicroBatchStream, RefTableOffset,
  RefTableOptions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Behavioral spec for the reftable DSv2 source — the Spark-native analogue
  * of the reference's end-to-end pipeline test (PipelineTest.java): initial
  * snapshot visible, new rows visible after a refresh boundary, and restart
  * recovery picking up current table state (PipelineTest.java:151-177).
  */
class RefTableSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeTable(dir: String, rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("id", "name").repartition(1).write.mode("overwrite").parquet(dir)
  }

  private val ddl = "id BIGINT, name STRING"

  /** Reads planned input partitions the way a scan task does: through the
    * factory's columnar reader, one row per live row of each batch.
    */
  private def readPartitions(o: RefTableOptions,
      parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val factory = new graft.sources.reftable.RefTableReaderFactory(
      o, o.outputSchema, Array.empty, None, graft.sources.reftable.HadoopConf.broadcast(spark))
    parts.flatMap { p =>
      val rdr = factory.createColumnarReader(p)
      try Iterator.continually(rdr).takeWhile(_.next())
        .flatMap(_ => rdr.get().rowIterator().asScala.map(_.copy())).toList
      finally rdr.close()
    }.toSeq
  }

  test("batch read matches parquet contents") {
    val dir = Files.createTempDirectory("reftable_batch_").toString
    writeTable(dir, Seq((1L, "a"), (2L, "b")))
    val got = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("column pruning reaches the reader") {
    val dir = Files.createTempDirectory("reftable_prune_").toString
    writeTable(dir, Seq((1L, "a")))
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
      .select("name")
    val scanLine = df.queryExecution.executedPlan.toString()
    assert(scanLine.contains("cols=[name]"), s"expected pruned scan, got:\n$scanLine")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("rowField projects the key column under the declared field name") {
    val dir = Files.createTempDirectory("reftable_rowfield_").toString
    writeTable(dir, Seq((7L, "x")))
    val df = spark.read.format("reftable")
      .option("path", dir)
      .option("schema",
        """{"type":"record","name":"r","fields":[
          |  {"name":"row_key","type":"long"},
          |  {"name":"name","type":["string","null"]}]}""".stripMargin)
      .option("rowField", "row_key").option("keyColumn", "id")
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("row_key", "name"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "x")))
  }

  test("streaming: snapshot per refresh generation + new rows after boundary") {
    // Each phase drains with Trigger.AvailableNow and terminates, so table
    // mutations never race an active trigger (the underlying overwrite is not
    // atomic — a refresh landing mid-overwrite could pin files that are
    // deleted a moment later, which is an environment property, not source
    // semantics). Phases 2/3 restart from the same checkpoint — the
    // reference's restart-recovery behavior (PipelineTest.java:151-177).
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("reftable_stream_").toString
    writeTable(dir, Seq((1L, "a"), (2L, "b")))
    val ck = Files.createTempDirectory("reftable_ck_").toString
    val df = spark.readStream.format("reftable")
      .option("path", dir).option("schema", ddl)
      .option("refreshInterval", "1s").option("genColumn", "_gen")
      .load()
    // foreachBatch sink: supports checkpoint recovery (memory sink does not),
    // so every drain after the first is a true restart-from-checkpoint.
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    def drainOnce(): Unit = {
      val q = df.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = batch.select("_gen", "id", "name")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          seen.synchronized { seen ++= rows }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    def latest(): Set[(Long, String)] = seen.synchronized {
      val g = seen.map(_._1).max
      seen.filter(_._1 == g).map(t => (t._2, t._3)).toSet
    }
    drainOnce()
    assert(latest() == Set((1L, "a"), (2L, "b")))

    // mutate the table; after the refresh boundary the full new snapshot is emitted
    writeTable(dir, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    Thread.sleep(1200)
    drainOnce()
    assert(latest() == Set((1L, "a"), (2L, "b"), (3L, "c")))

    // and again after another mutation: restart reloads current table state
    writeTable(dir, Seq((9L, "z")))
    Thread.sleep(1200)
    drainOnce()
    assert(latest() == Set((9L, "z")))
  }

  test("trigger emit mode: the full snapshot is re-emitted every micro-batch") {
    // the reference's DStream cadence (SURVEY §1.4 #1 / §2c Q4): each batch
    // carries the entire current table, identically, until a refresh.
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("reftable_trigger_").toString
    writeTable(dir, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, String)]]
    val df = spark.readStream.format("reftable")
      .option("path", dir).option("schema", ddl)
      .option("refreshInterval", "1h").option("emitMode", "trigger")
      .load()
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        batches.synchronized { batches += rows }
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("reftable_trigger_ck_").toString)
      .trigger(Trigger.ProcessingTime(150))
      .start()
    val deadline = System.currentTimeMillis() + 30000
    while (batches.synchronized(batches.size) < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.stop()
    val got = batches.synchronized(batches.toList)
    assert(got.size >= 3, s"expected >=3 micro-batches, got ${got.size}")
    val expected = Set((1L, "a"), (2L, "b"), (3L, "c"))
    got.foreach(b => assert(b == expected, s"every batch must be the full snapshot, got $b"))
  }

  test("offset arithmetic: refresh mode holds, trigger mode advances") {
    val dir = Files.createTempDirectory("reftable_off_").toString
    writeTable(dir, Seq((1L, "a")))
    def mk(mode: String): RefTableMicroBatchStream = {
      val o = RefTableOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h", "emitMode" -> mode).asJava))
      new RefTableMicroBatchStream(o, o.outputSchema)
    }
    val refresh = mk("refresh")
    val o1 = refresh.latestOffset().asInstanceOf[RefTableOffset]
    val o2 = refresh.latestOffset().asInstanceOf[RefTableOffset]
    assert(o1.batch == 0 && o2 == o1, "refresh mode: offset stable within a generation")

    val trigger = mk("trigger")
    val t1 = trigger.latestOffset().asInstanceOf[RefTableOffset]
    val t2 = trigger.latestOffset().asInstanceOf[RefTableOffset]
    assert(t2.batch == t1.batch + 1 && t2.gen == t1.gen,
      "trigger mode: every trigger re-emits the current snapshot")

    // offsets round-trip through JSON (checkpoint format)
    assert(RefTableOffset.fromJson(t2.json()) == t2)
  }

  test("empty snapshot: an ensureTable-created table streams zero rows cleanly") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val dir = Files.createTempDirectory("reftable_empty_").toString + "/tbl"
    Tables.ensureTable(spark, dir, schema)
    // batch: empty, correct schema
    val batch = spark.read.format("reftable").option("path", dir).option("schema", ddl).load()
    assert(batch.count() == 0)
    // streaming: one empty generation, query drains without error
    var rows = -1L
    val q = spark.readStream.format("reftable")
      .option("path", dir).option("schema", ddl).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => rows = b.count(); () }
      .option("checkpointLocation", Files.createTempDirectory("reftable_empty_ck_").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    assert(rows == 0, s"expected an empty snapshot batch, got $rows rows")
  }

  test("ensureTable: create-if-missing, idempotent, tolerant of existing data") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val dir = Files.createTempDirectory("ensure_").toString + "/tbl"
    Tables.ensureTable(spark, dir, schema)
    assert(spark.read.parquet(dir).count() == 0) // created empty with schema
    assert(spark.read.parquet(dir).schema.fieldNames.toSeq == Seq("id", "name"))
    Tables.ensureTable(spark, dir, schema) // second call: no-op
    writeTable(dir, Seq((1L, "a")))
    Tables.ensureTable(spark, dir, schema) // existing data untouched
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("filter pushdown: filters reach the scan and results stay correct") {
    val dir = Files.createTempDirectory("reftable_filter_").toString
    import spark.implicits._
    (1L to 100L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
      .filter(col("id") > 90 && col("id") <= 95)
    // pushed into the scan (visible in the plan description)...
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("PushedFilters: [") && planStr.contains("GreaterThan(id,90)"),
      s"expected pushed filters in:\n$planStr")
    // ...and correct, including when the filter column is pruned from output
    assert(df.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      (91L to 95L).map(i => s"name_$i"))
    // unsupported filter shapes stay residual and still evaluate correctly
    val residual = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
      .filter(length(col("name")) === lit(6)) // name_1..name_9
    assert(residual.count() == 9)
  }

  test("pushed != and IN honor SQL three-valued logic on nullable columns") {
    // parquet-mr record-level notEq KEEPS nulls and eq(c, null) MATCHES
    // nulls; SQL `a != v` / `a IN (...)` must drop null rows. The pushed
    // translation guards these (RefTableFilters), and the disjunction case
    // is the dangerous one: Spark infers no IsNotNull constraint there.
    val dir = Files.createTempDirectory("reftable_nulls_").toString
    import spark.implicits._
    Seq((1L, Option("x")), (2L, Option("y")), (3L, Option.empty[String]),
        (4L, Option.empty[String]), (5L, Option("x")))
      .toDF("id", "name").repartition(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(df.filter(col("name") =!= "x")) == Seq(2L))
    assert(ids(df.filter(col("name") =!= "x" || col("id") > 100)) == Seq(2L))
    assert(ids(df.filter(col("name").isin("x", null))) == Seq(1L, 5L))
    assert(ids(df.filter(col("name").isNull)) == Seq(3L, 4L))
  }

  test("a multi-row-group file splits into multiple partitions and reads identically") {
    val dir = Files.createTempDirectory("reftable_split_").toString
    import spark.implicits._
    (1L to 20000L).map(i => (i, s"name_$i")).toDF("id", "name")
      .repartition(1).write.option("parquet.block.size", "65536")
      .mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try {
      val df = spark.read.format("reftable")
        .option("path", dir).option("schema", ddl).load()
      assert(df.rdd.getNumPartitions > 1,
        s"expected byte-range splits, got ${df.rdd.getNumPartitions} partition(s)")
      assert(df.count() == 20000L)
      assert(df.agg(sum("id")).first().getLong(0) == 20000L * 20001L / 2)
      // a pushed filter skips row groups inside each split; the rest decode
      assert(df.filter(col("id") > 15000L).select("id").collect().map(_.getLong(0)).sorted
        .toSeq == (15001L to 20000L))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("the footer cache evicts its least recently used entry and loads each miss once") {
    val cache = new RefTableColumnarReader.FooterCache[String](2)
    val loads = new java.util.concurrent.atomic.AtomicInteger()
    def get(k: String) = cache.get(k) { loads.incrementAndGet(); Thread.sleep(20); k }
    get("a"); get("b"); get("a"); get("c")
    assert(cache.contains("a") && !cache.contains("b") && cache.contains("c"))
    loads.set(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(() => get("d")))
      assert(fs.map(_.get()) == Seq.fill(4)("d"))
    } finally pool.shutdown()
    assert(loads.get() == 1)
  }

  test("the scan is columnar: vectorized batches with ColumnarToRow above") {
    val dir = Files.createTempDirectory("reftable_columnar_").toString
    writeTable(dir, Seq((1L, "a"), (2L, "b")))
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("ColumnarToRow"), s"expected a columnar scan:\n$p")
  }

  test("TIMESTAMP(NANOS) storage decodes to microsecond timestamps") {
    // the driver testdata stores event timestamps as parquet TIMESTAMP(NANOS),
    // which Spark's own reader refuses as a timestamp; the reftable columnar
    // path reads them as longs and serves a floorDiv(ns,1000) timestamp view
    val dir = "/root/testdata/sf0.001"
    val viaRef = spark.read.format("reftable")
      .option("path", Tables.path(dir, "events"))
      .option("schema", "event_id BIGINT, ts TIMESTAMP")
      .load()
    val expected = Tables.load(spark, dir, "events").select("event_id", "ts")
    assert(viaRef.count() == expected.count())
    assert(viaRef.exceptAll(expected).count() == 0 && expected.exceptAll(viaRef).count() == 0)
  }

  test("decimal and date columns decode on both the columnar and row paths") {
    val dir = Files.createTempDirectory("reftable_dec_").toString
    import spark.implicits._
    Seq((1L, BigDecimal("123.45"), java.sql.Date.valueOf("2020-01-02")),
        (2L, BigDecimal("-7.89"), java.sql.Date.valueOf("1969-12-31")))
      .toDF("id", "amt", "d")
      .withColumn("amt", col("amt").cast("decimal(12,2)"))
      .repartition(1).write.mode("overwrite").parquet(dir)
    val decDdl = "id BIGINT, amt DECIMAL(12,2), d DATE"
    // columnar (default) path
    val got = spark.read.format("reftable")
      .option("path", dir).option("schema", decDdl).load()
    val exp = spark.read.parquet(dir).select("id", "amt", "d")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
  }

  test("admission control: a generation chunks at maxFilesPerTrigger with the gen pinned") {
    val dir = Files.createTempDirectory("reftable_adm_").toString
    import spark.implicits._
    (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(5).write.mode("overwrite").parquet(dir)
    val nFiles = graft.sources.reftable.SnapshotFiles.list(dir).size
    assert(nFiles == 5)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h",
      "maxFilesPerTrigger" -> "2").asJava))
    val s = new RefTableMicroBatchStream(o, o.outputSchema)
    val start = s.initialOffset()
    val o1 = s.latestOffset(start, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o1.upTo == 2)
    assert(s.planInputPartitions(start, o1).length == 2)
    val o2 = s.latestOffset(o1, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen == o1.gen && o2.upTo == 4, "generation must stay pinned across chunks")
    assert(s.planInputPartitions(o1, o2).length == 2)
    val o3 = s.latestOffset(o2, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o3.gen == o1.gen && o3.upTo == 5)
    assert(s.planInputPartitions(o2, o3).length == 1)
    // fully emitted + no refresh boundary crossed -> offset holds
    val o4 = s.latestOffset(o3, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o4 == o3)
  }

  test("restart mid-generation abandons the partial gen instead of stitching listings") {
    val dir = Files.createTempDirectory("reftable_abandon_").toString
    import spark.implicits._
    (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(5).write.mode("overwrite").parquet(dir)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h",
      "maxFilesPerTrigger" -> "2").asJava))
    val s1 = new RefTableMicroBatchStream(o, o.outputSchema)
    val o1 = s1.latestOffset(s1.initialOffset(), s1.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o1.upTo == 2)
    // "restart": a fresh instance knows only the checkpointed offset — its
    // pinned listing is gone, so continuing at upTo=2 could stitch chunks
    // of two different listings into one snapshot
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema)
    s2.deserializeOffset(o1.json())
    val o2 = s2.latestOffset(null, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen > o1.gen, s"partial generation must be abandoned, got $o2")
    assert(o2.upTo == 2, "the fresh generation restarts chunking from file 0")
    assert(s2.planInputPartitions(o1, o2).length == 2)
    // the abandoned-gen offset records the true wall-clock generation
    // separately: gen ran ahead (prev.gen + 1 > floor(now/1h)), and a later
    // refresh decision must compare against wall, not the synthetic gen
    assert(o2.wall >= 0 && o2.wall < o2.gen,
      s"abandon must record wall-clock gen alongside the synthetic gen, got $o2")
  }

  test("a chunked offset from a dead driver is abandoned even if it looks complete") {
    val dir = Files.createTempDirectory("reftable_trunc_").toString
    import spark.implicits._
    (1L to 9L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h",
      "maxFilesPerTrigger" -> "1").asJava))
    val s1 = new RefTableMicroBatchStream(o, o.outputSchema)
    val o1 = s1.latestOffset(s1.initialOffset(), s1.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o1.upTo == 1) // 1 of 3 emitted, then "crash"
    // the table shrinks to exactly upTo files before the restart: the old
    // listing's total is unknowable, so upTo == new-listing-size must NOT
    // be read as "generation complete" — the emission was truncated
    Seq((100L, "x")).toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(graft.sources.reftable.SnapshotFiles.list(dir).size == 1)
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema)
    s2.deserializeOffset(o1.json())
    // Spark replays the uncommitted batch BEFORE polling for a new offset
    // on restart; the replay pins a fresh listing under prev.gen, which
    // must not make the generation look continuable (it is not "ours")
    s2.planInputPartitions(s2.initialOffset(), o1)
    val o2 = s2.latestOffset(null, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen > o1.gen, s"a dead driver's chunked offset must be abandoned, got $o2")
    assert(o2.upTo == 1 && s2.planInputPartitions(o1, o2).length == 1)
  }

  test("a refresh boundary after an abandon re-lists instead of reusing the pinned listing") {
    val dir = Files.createTempDirectory("reftable_relist_").toString
    import spark.implicits._
    (1L to 4L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1s",
      "maxFilesPerTrigger" -> "1").asJava))
    // a manual clock drives the refresh boundaries
    var now = 1700000000500L
    // crash mid-generation, restart, abandon: gen now runs one ahead of
    // wall-clock, and the abandoned listing sits pinned under that number
    val s1 = new RefTableMicroBatchStream(o, o.outputSchema, clock = () => now)
    val o1 = s1.latestOffset(s1.initialOffset(), s1.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema, clock = () => now)
    s2.deserializeOffset(o1.json())
    val o2 = s2.latestOffset(null, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen > o1.gen && o2.upTo == 1)
    val o2b = s2.latestOffset(o2, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2b.gen == o2.gen && o2b.upTo == 2, "drain the abandoned generation first")
    // the table changes; the NEXT boundary lands exactly on the pinned
    // gen number — it must re-list (3 files), not re-emit the stale 2
    (1L to 9L).map(i => (i, s"m$i")).toDF("id", "name")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val deadline = now + 10000
    var nxt = o2b
    while (nxt.gen == o2b.gen && now < deadline) {
      now += 100
      nxt = s2.latestOffset(nxt, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    }
    assert(nxt.gen > o2b.gen, "a refresh boundary must fire within the deadline")
    // drain the new generation fully and count its files
    var endO = nxt
    while (endO.upTo < 3) {
      val n = s2.latestOffset(endO, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
      assert(n.gen == nxt.gen, s"generation must stay pinned while draining, got $n vs $nxt")
      endO = n
    }
    assert(endO.upTo == 3,
      s"the post-abandon boundary must emit the CURRENT 3-file listing, got $endO")
  }

  test("a synthetic run-ahead generation does not suppress the next real refresh") {
    val dir = Files.createTempDirectory("reftable_runahead_").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(dir)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1s").asJava))
    var now = 1700000000500L // a manual clock
    val s = new RefTableMicroBatchStream(o, o.outputSchema, clock = () => now)
    // a restart-abandon can leave gen far ahead of wall-clock; simulate the
    // checkpointed aftermath directly: gen = wall + 1000
    val wallNow = now / 1000L
    val prev = RefTableOffset(batch = 3L, gen = wallNow + 1000L, upTo = -1L, wall = wallNow)
    now += 1100 // cross at least one real refresh boundary
    val nxt = s.latestOffset(prev, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(nxt.batch == prev.batch + 1 && nxt.gen == prev.gen + 1,
      s"the boundary after an abandon must still emit (monotonic gen), got $nxt")
    assert(nxt.wall > prev.wall && nxt.wall < nxt.gen,
      s"wall-clock gen must advance independently of the synthetic gen, got $nxt")
    assert(s.planInputPartitions(prev, nxt).length == 1)
  }

  test("hive-partitioned snapshot: listing, value decode, and driver-side pruning") {
    import graft.sources.reftable.{RefTablePartitioning, SnapshotFiles}
    import org.apache.spark.sql.sources.{EqualTo, In, IsNull, Not}
    val dir = Files.createTempDirectory("reftable_part_").toString
    import spark.implicits._
    Seq((1L, "a", "red"), (2L, "b", "red"), (3L, "c", "blue"), (4L, "d", null))
      .toDF("id", "name", "color")
      .repartition(1).write.mode("overwrite").partitionBy("color").parquet(dir)
    val pddl = "id BIGINT, name STRING, color STRING"
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> dir, "schema" -> pddl, "partitionColumns" -> "color").asJava))

    // listing: every leaf file carries its directory value (null → sentinel)
    val files = SnapshotFiles.list(dir, Seq("color"))
    assert(files.size == 3)
    assert(files.flatMap(_.partitionValues.get("color")).toSet ==
      Set("red", "blue", RefTablePartitioning.HiveDefaultPartition))

    // equality / IN prune exactly; null partitions survive only IsNull;
    // a negated equality prunes BOTH the matching and the null partition
    // (NULL can never satisfy the predicate) — the possible-outcome algebra
    def vals(fs: Seq[graft.sources.reftable.SnapshotFile]) =
      fs.map(_.partitionValues("color")).toSet
    assert(vals(RefTablePartitioning.prune(files, o, Seq(EqualTo("color", "red")))) == Set("red"))
    assert(vals(RefTablePartitioning.prune(files, o, Seq(In("color", Array("red", "blue"))))) ==
      Set("red", "blue"))
    assert(vals(RefTablePartitioning.prune(files, o, Seq(IsNull("color")))) ==
      Set(RefTablePartitioning.HiveDefaultPartition))
    assert(vals(RefTablePartitioning.prune(files, o, Seq(Not(EqualTo("color", "red"))))) == Set("blue"))
    // a filter over a non-partition column never prunes
    assert(RefTablePartitioning.prune(files, o, Seq(EqualTo("id", 1L))).size == 3)

    // end-to-end: partition values decode; filter results match; the scan
    // under a partition filter plans only the pruned files
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", pddl).option("partitionColumns", "color").load()
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "red"), (2L, "red"), (3L, "blue"), (4L, null)))
    val filtered = df.filter(col("color") === "red")
    assert(filtered.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty && scans.head.partitions.size == 1,
      s"partition filter must prune the listing to the one matching file, " +
        s"got ${scans.map(_.partitions.size)}")
  }

  test("versioned table: atomic pointer swap, pinned listings survive publishes") {
    import graft.sources.reftable.{SnapshotFiles, VersionedTable}
    val root = Files.createTempDirectory("reftable_ver_").toString + "/tbl"
    import spark.implicits._
    val v1 = VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    val df = spark.read.format("reftable").option("path", root).option("schema", ddl)
    assert(df.load().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // pin a listing (as a streaming generation would), then publish v2:
    // the pinned v1 files must still exist — no delete-under-reader
    val pinned = SnapshotFiles.list(root)
    assert(pinned.forall(_.path.contains(v1)))
    val v2 = VersionedTable.publish(Seq((3L, "c")).toDF("id", "name"), root)
    assert(pinned.forall(f => new java.io.File(new java.net.URI(
      if (f.path.startsWith("file:")) f.path else "file:" + f.path)).exists()),
      "files of a retained version must survive a publish")
    // a fresh resolve sees exactly v2 — never a mix
    assert(df.load().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(SnapshotFiles.list(root).forall(_.path.contains(v2)))
    // pruning keeps the newest keepVersions directories, current included
    VersionedTable.publish(Seq((4L, "d")).toDF("id", "name"), root, keepVersions = 2)
    val v4 = VersionedTable.publish(Seq((5L, "e")).toDF("id", "name"), root, keepVersions = 2)
    val dirs = VersionedTable.versionDirs(root)
    assert(dirs.size == 2 && dirs.contains(v4), s"expected 2 retained versions, got $dirs")
    assert(df.load().collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("schema evolution: columns absent from older files null-fill when allowed") {
    val dir = Files.createTempDirectory("reftable_evolve_").toString
    import spark.implicits._
    // an old 2-column file and a new 3-column file in one table
    Seq((1L, "a")).toDF("id", "name").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").coalesce(1)
      .write.mode("append").parquet(dir)
    val evolved = "id BIGINT, name STRING, score DOUBLE"
    def read(allow: Boolean) = spark.read.format("reftable")
      .option("path", dir).option("schema", evolved)
      .option("allowMissingColumns", allow.toString).load()
    // strict mode: the old file errors loudly
    val strictErr = intercept[org.apache.spark.SparkException](read(false).collect())
    assert(strictErr.getMessage.contains("not found") ||
      Option(strictErr.getCause).exists(_.getMessage.contains("not found")))
    // evolution mode: old rows null-fill the new column (columnar path)
    val rows = read(true).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(rows == Seq((1L, None), (2L, Some(9.5))))
    // a filter on the evolved column is exact over null-filled rows
    assert(read(true).filter(col("score") > 5).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(read(true).filter(col("score").isNull).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("time travel and version changefeeds on a versioned root") {
    import graft.sources.reftable.VersionedTable
    val root = Files.createTempDirectory("reftable_tt_").toString + "/tbl"
    import spark.implicits._
    val v1 = VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    VersionedTable.publish(Seq((2L, "B"), (3L, "c")).toDF("id", "name"), root)
    def read(version: Option[String]) = {
      val r = spark.read.format("reftable").option("path", root).option("schema", ddl)
      version.fold(r)(v => r.option("version", v)).load()
        .orderBy("id").collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    }
    assert(read(None) == Seq((2L, "B"), (3L, "c")), "default read resolves the pointer")
    assert(read(Some(v1)) == Seq((1L, "a"), (2L, "b")), "version option time-travels")
    val ch = VersionedTable.changes(spark, root, Seq("id"), v1)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(ch == Set((1L, "delete"), (2L, "update"), (3L, "insert")))
  }

  test("aggregate pushdown honors time travel and schema evolution") {
    import graft.sources.reftable.VersionedTable
    import spark.implicits._
    // time travel: pushed count must read the PINNED version, not current
    val root = Files.createTempDirectory("reftable_aggver_").toString + "/tbl"
    val v1 = VersionedTable.publish((1L to 3L).map(i => (i, s"n$i")).toDF("id", "name"), root)
    VersionedTable.publish(Seq((9L, "z")).toDF("id", "name"), root)
    val pinned = spark.read.format("reftable")
      .option("path", root).option("schema", ddl).option("version", v1).load()
      .agg(count(lit(1)).as("n"))
    assert(pinned.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    assert(pinned.collect().head.getLong(0) == 3L,
      "pushed aggregates must respect the version option")
    // evolution: an old file lacking the column contributes 0 / nothing
    val dir = Files.createTempDirectory("reftable_aggev_").toString
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.mode("overwrite").parquet(dir)
    Seq((2L, "b", 9.5), (3L, "c", 1.5)).toDF("id", "name", "score").coalesce(1)
      .write.mode("append").parquet(dir)
    val agg = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, name STRING, score DOUBLE")
      .option("allowMissingColumns", "true").load()
      .agg(count(lit(1)).as("n"), count(col("score")).as("ns"),
        min("score").as("mn"), max("score").as("mx"))
    assert(agg.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)) == (3L, 2L, 1.5, 9.5),
      s"evolved-column aggregates must treat missing columns as all-null, got $r")
  }

  test("versioned compaction preserves a Hive-partitioned layout") {
    import graft.sources.reftable.{Layout, SnapshotFiles, VersionedTable}
    val root = Files.createTempDirectory("reftable_cpart_").toString + "/tbl"
    import spark.implicits._
    VersionedTable.publish(
      Seq((1L, "x", "red"), (2L, "y", "blue"), (3L, "z", "red")).toDF("id", "name", "color")
        .repartition(4), root, layout = Layout.Partitioned(Seq("color")))
    VersionedTable.compact(spark, root, partitionColumns = Seq("color"))
    // still a valid partitioned layout, values intact
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, name STRING, color STRING")
      .option("partitionColumns", "color").load()
      .orderBy("id").collect().map(x => (x.getLong(0), x.getString(2))).toSeq
    assert(got == Seq((1L, "red"), (2L, "blue"), (3L, "red")))
    assert(SnapshotFiles.list(root, Seq("color")).nonEmpty)
  }

  test("full-stack integration: versioned + partitioned + genColumn + admission + restart") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.reftable.{Layout, VersionedTable}
    val root = Files.createTempDirectory("reftable_full_").toString + "/tbl"
    import spark.implicits._
    VersionedTable.publish(
      Seq((1L, "a", "red"), (2L, "b", "blue"), (3L, "c", "red")).toDF("id", "name", "color"),
      root, layout = Layout.Partitioned(Seq("color")))
    val ck = Files.createTempDirectory("reftable_full_ck_").toString
    def drainOnce(): Seq[(Long, String, Long)] = {
      val acc = scala.collection.mutable.ListBuffer.empty[(Long, String, Long)]
      val q = spark.readStream.format("reftable")
        .option("path", root)
        .option("schema", "id BIGINT, name STRING, color STRING")
        .option("partitionColumns", "color")
        .option("genColumn", "_gen")
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          acc.synchronized {
            acc ++= b.collect().map(r =>
              (r.getAs[Long]("id"), r.getAs[String]("color"), r.getAs[Long]("_gen")))
          }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
      acc.synchronized(acc.toList)
    }
    val run1 = drainOnce()
    // chunked batches (1 file each) reassemble exactly one generation of v1
    assert(run1.map(_._3).distinct.size == 1, s"one generation expected, got $run1")
    assert(run1.map(r => (r._1, r._2)).sorted ==
      Seq((1L, "red"), (2L, "blue"), (3L, "red")))
    // publish v2 and restart from the same checkpoint: a fresh generation
    // of exactly the new version's content (partition values intact)
    VersionedTable.publish(
      Seq((4L, "d", "green"), (5L, "e", "red")).toDF("id", "name", "color"),
      root, layout = Layout.Partitioned(Seq("color")))
    val run2 = drainOnce()
    assert(run2.nonEmpty && run2.map(_._3).distinct.size == 1)
    assert(run2.map(_._3).head > run1.map(_._3).head, "the restart emits a newer generation")
    assert(run2.map(r => (r._1, r._2)).sorted == Seq((4L, "green"), (5L, "red")))
  }

  test("complete-mode stream publishes a versioned snapshot table (closed loop)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.sources.reftable.VersionedTable
    import spark.implicits._
    val in = Files.createTempDirectory("reftable_loop_in_")
    val root = Files.createTempDirectory("reftable_loop_out_").toString + "/tbl"
    val ck = Files.createTempDirectory("reftable_loop_ck_").toString
    Seq((1L, "red"), (2L, "red"), (3L, "blue")).toDF("id", "color")
      .coalesce(1).write.parquet(in.toString + "/b0")
    def drain(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("id", LongType), StructField("color", StringType))))
        .option("recursiveFileLookup", "true")
        .parquet(in.toString)
        .groupBy("color").agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("complete")
        .foreachBatch(VersionedTable.completeModePublisher(root))
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      q.stop()
    }
    drain()
    def readBack() = spark.read.format("reftable")
      .option("path", root).option("schema", "color STRING, n BIGINT").load()
      .orderBy("color").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(readBack() == Seq(("blue", 1L), ("red", 2L)))
    // more input, another drain: the snapshot table advances a version
    Seq((4L, "blue"), (5L, "green")).toDF("id", "color")
      .coalesce(1).write.parquet(in.toString + "/b1")
    drain()
    assert(readBack() == Seq(("blue", 2L), ("green", 1L), ("red", 2L)))
    assert(VersionedTable.versionDirs(root).size >= 2)
  }

  test("rebase decision: legacy markers OR a pre-3.x writer version mean LEGACY") {
    import graft.sources.reftable.RefTableColumnarReader
    import org.apache.parquet.hadoop.metadata.FileMetaData
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { optional int64 ts; }")
    def meta(kv: (String, String)*): FileMetaData =
      new FileMetaData(schema, kv.toMap.asJava, "test")
    def spec(kv: (String, String)*): (String, String) = {
      val (dt, _, i96, _) = RefTableColumnarReader.rebaseSpec(meta(kv: _*))
      (dt, i96)
    }
    // explicit markers always win
    assert(spec("org.apache.spark.legacyDateTime" -> "",
      "org.apache.spark.version" -> "3.5.0") == ("LEGACY", "CORRECTED"))
    assert(spec("org.apache.spark.legacyINT96" -> "")._2 == "LEGACY")
    // Spark <=2.x predates the markers: version alone forces LEGACY
    assert(spec("org.apache.spark.version" -> "2.4.5") == ("LEGACY", "LEGACY"))
    // 3.0 wrote INT96 legacy without a marker, datetimes corrected
    assert(spec("org.apache.spark.version" -> "3.0.1") == ("CORRECTED", "LEGACY"))
    // modern Spark and non-Spark writers: corrected
    assert(spec("org.apache.spark.version" -> "3.5.0") == ("CORRECTED", "CORRECTED"))
    assert(spec() == ("CORRECTED", "CORRECTED"))
  }

  test("partitioned compaction preserves string partition values verbatim") {
    import graft.sources.reftable.{Layout, VersionedTable}
    val root = Files.createTempDirectory("reftable_cstr_").toString + "/tbl"
    import spark.implicits._
    VersionedTable.publish(
      Seq((1L, "007"), (2L, "10")).toDF("id", "bucket"), root,
      layout = Layout.Partitioned(Seq("bucket")))
    VersionedTable.compact(spark, root, partitionColumns = Seq("bucket"))
    // type inference would have rewritten bucket=007 -> bucket=7
    val got = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, bucket STRING")
      .option("partitionColumns", "bucket").load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "007"), (2L, "10")),
      "compaction must not re-type numeric-looking string partition values")
  }

  test("complete-mode publisher is idempotent across batch replays") {
    import graft.sources.reftable.VersionedTable
    val root = Files.createTempDirectory("reftable_idem_").toString + "/tbl"
    import spark.implicits._
    val sink = VersionedTable.completeModePublisher(root)
    sink(Seq((1L, "a")).toDF("id", "name"), 0L)
    val afterFirst = VersionedTable.versionDirs(root)
    // foreachBatch replays the same batch id after a crash: no new version
    sink(Seq((1L, "a")).toDF("id", "name"), 0L)
    assert(VersionedTable.versionDirs(root) == afterFirst,
      "a replayed batch must not publish a duplicate version")
    sink(Seq((2L, "b")).toDF("id", "name"), 1L)
    assert(VersionedTable.versionDirs(root).size == afterFirst.size + 1)
    // a NEW publisher instance (fresh checkpoint, batch ids reset) must
    // still publish its batch 0 — the marker is instance-scoped
    val sink2 = VersionedTable.completeModePublisher(root)
    sink2(Seq((3L, "c")).toDF("id", "name"), 0L)
    assert(VersionedTable.versionDirs(root).size == afterFirst.size + 2,
      "a restarted stream's first batch must not be skipped")
  }

  test("versioned layer rejects misuse loudly") {
    import graft.sources.reftable.VersionedTable
    import spark.implicits._
    val plain = Files.createTempDirectory("reftable_misuse_").toString
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(plain)
    intercept[IllegalArgumentException](VersionedTable.compact(spark, plain))
    intercept[IllegalArgumentException](
      VersionedTable.changes(spark, plain, Seq("id"), "v0000000000000000000_00000000"))
    intercept[IllegalArgumentException](
      VersionedTable.publish(Seq((1L, "a")).toDF("id", "name"), plain + "/v", keepVersions = 1))
  }

  test("versioned compaction: many small files become few, content unchanged") {
    import graft.sources.reftable.{SnapshotFiles, VersionedTable}
    val root = Files.createTempDirectory("reftable_compact_").toString + "/tbl"
    import spark.implicits._
    VersionedTable.publish(
      (1L to 64L).map(i => (i, s"n$i")).toDF("id", "name").repartition(16), root)
    assert(SnapshotFiles.list(root).size == 16)
    VersionedTable.compact(spark, root) // 64 tiny rows -> 1 file
    assert(SnapshotFiles.list(root).size == 1)
    val got = spark.read.format("reftable").option("path", root).option("schema", ddl)
      .load().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 64L))
  }

  test("limit pushdown: readers stop early; filtered limits fall back") {
    val dir = Files.createTempDirectory("reftable_limit_").toString
    import spark.implicits._
    (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val base = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
    val limited = base.limit(5)
    assert(limited.collect().length == 5)
    val planStr = limited.queryExecution.executedPlan.toString()
    assert(planStr.contains("PushedLimit: 5"), s"expected a pushed limit, got:\n$planStr")
    // with a filter the limit must NOT push (per-partition caps could
    // starve the residual filter); result still correct
    val filtered = base.filter(col("id") > 90).limit(5)
    assert(!filtered.queryExecution.executedPlan.toString().contains("PushedLimit"))
    assert(filtered.collect().map(_.getLong(0)).forall(_ > 90))
  }

  test("SQL DDL: CREATE TABLE ... USING reftable works end-to-end") {
    val dir = Files.createTempDirectory("reftable_ddl_").toString
    writeTable(dir, Seq((1L, "a"), (2L, "b")))
    spark.sql("DROP TABLE IF EXISTS graft_ddl_t")
    spark.sql(
      s"""CREATE TABLE graft_ddl_t USING reftable
         |OPTIONS (path '$dir', schema 'id BIGINT, name STRING')""".stripMargin)
    try {
      val got = spark.sql("SELECT id, name FROM graft_ddl_t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a"), (2L, "b")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_t")
  }

  test("aggregate pushdown: count/min/max answered from footer statistics only") {
    val dir = Files.createTempDirectory("reftable_aggpd_").toString
    import spark.implicits._
    Seq((1L, 10.5, "a"), (2L, -3.25, "b"), (3L, 99.0, null), (4L, 7.0, "d"))
      .toDF("id", "v", "s")
      .repartition(2).write.mode("overwrite").parquet(dir)
    val nFiles = graft.sources.reftable.SnapshotFiles.list(dir).size
    assert(nFiles == 2)
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, v DOUBLE, s STRING").load()
      .agg(count(lit(1)).as("n"), count(col("s")).as("ns"),
        min("id").as("min_id"), max("id").as("max_id"),
        min("v").as("min_v"), max("v").as("max_v"))
    val row = df.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getDouble(4), row.getDouble(5)) == (4L, 3L, 1L, 4L, -3.25, 99.0))
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("PushedAggregates"),
      s"expected the footer-statistics scan, got:\n$planStr")
    // min/max over a STRING column must NOT push (truncatable stats):
    // falls back to the normal scan and still answers correctly
    val strAgg = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, v DOUBLE, s STRING").load()
      .agg(min("s").as("min_s"), max("s").as("max_s"))
    assert(!strAgg.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    assert(strAgg.collect().head.toSeq == Seq("a", "d"))
    // a filtered aggregate must not push either (stats ignore the filter)
    val filtered = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, v DOUBLE, s STRING").load()
      .filter(col("id") > 1).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    assert(filtered.collect().head.getLong(0) == 3L)
  }

  test("grouped aggregate pushdown: GROUP BY partition columns served from pv + footer stats") {
    val dir = Files.createTempDirectory("reftable_gaggpd_").toString
    import spark.implicits._
    // multiple files per partition (repartition 2 inside each color dir)
    // and a NULL partition value (the __HIVE_DEFAULT_PARTITION__ dir)
    Seq((1L, 10.0, "red"), (2L, 20.0, "red"), (3L, 5.0, "blue"),
      (4L, 7.0, "blue"), (5L, -1.0, "red"), (6L, 3.0, null))
      .toDF("id", "v", "color")
      .repartition(2).write.mode("overwrite").partitionBy("color").parquet(dir)
    def read() = spark.read.format("reftable")
      .option("path", dir).option("schema", "id BIGINT, v DOUBLE, color STRING")
      .option("partitionColumns", "color").load()
    val df = read().groupBy("color")
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("v").as("max_v"))
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("PushedAggregates") && planStr.contains("PushedGroupBy"),
      s"expected the grouped footer-statistics scan, got:\n$planStr")
    val got = df.collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      (Some("red"), 3L, 1L, 20.0),
      (Some("blue"), 2L, 3L, 7.0),
      (None, 1L, 6L, 3.0)), got.toString)
    // grouping by a non-partition column has no per-file constant: fall
    // back to the real scan and still answer correctly
    val nonPart = read().groupBy("id").agg(count(lit(1)).as("n"))
    assert(!nonPart.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    assert(nonPart.collect().map(_.getLong(1)).sum == 6L)
  }

  test("grouped pushdown over a days() hidden transform: CAST(ts AS DATE) served from dirs") {
    val root = Files.createTempDirectory("reftable_gaggday_").toString
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1 + i % 7, i % 24, 5)), i * 1.5)
    }
    graft.sources.reftable.VersionedTable.publish(
      rows.toDF("id", "ts", "v"), root,
      layout = graft.sources.reftable.Layout.Hidden(Seq("days(ts)")))
    def read() = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, ts TIMESTAMP, v DOUBLE")
      .option("hiddenPartitions", "days(ts)").load()
    val df = read().groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("v").as("mx"))
    val planStr = df.queryExecution.executedPlan.toString()
    assert(planStr.contains("PushedGroupBy: [CAST(ts AS DATE)]"),
      s"expected the day-transform grouped footer scan, got:\n$planStr")
    // values == the raw computation over the same rows
    val raw = rows.toDF("id", "ts", "v").groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("v").as("mx"))
      .orderBy("day").collect().toSeq
    assert(df.orderBy("day").collect().toSeq == raw)
    // to_date(ts) compiles to the same cast — also served
    val viaToDate = read().groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
    assert(viaToDate.queryExecution.executedPlan.toString().contains("PushedGroupBy"),
      "to_date(ts) group must push like the explicit cast")
    // a TIMESTAMP source is only servable under a UTC session: the dirs
    // were derived in UTC, and the cast reads the session timezone
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val shifted = read().groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("n"))
      assert(!shifted.queryExecution.executedPlan.toString().contains("PushedAggregates"),
        "non-UTC session must fall back to the real scan")
      // and the fallback is CORRECT for the shifted timezone (00:05
      // timestamps land on the previous local day)
      val shiftedRaw = rows.toDF("id", "ts", "v")
        .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("n"))
        .orderBy("day").collect().toSeq
      assert(shifted.orderBy("day").collect().toSeq == shiftedRaw)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // grouping by the raw ts itself has no per-file constant: falls back
    val byTs = read().groupBy("ts").agg(count(lit(1)).as("n"))
    assert(!byTs.queryExecution.executedPlan.toString().contains("PushedAggregates"))
    assert(byTs.collect().map(_.getLong(1)).sum == 200L)
  }

  test("dynamic partition pruning: a join prunes the partitioned scan at runtime") {
    val dir = Files.createTempDirectory("reftable_dpp_").toString
    import spark.implicits._
    Seq((1L, "a", "red"), (2L, "b", "red"), (3L, "c", "blue"), (4L, "d", "green"))
      .toDF("id", "name", "color")
      .repartition(1).write.mode("overwrite").partitionBy("color").parquet(dir)
    val fact = spark.read.format("reftable")
      .option("path", dir)
      .option("schema", "id BIGINT, name STRING, color STRING")
      .option("partitionColumns", "color").load()
    // a selective dim side: the join key values are only known at run time
    // (a real scan + filter — a LocalRelation gets constant-folded and no
    // longer counts as a "selective predicate" for the DPP heuristic)
    val dimDir = Files.createTempDirectory("reftable_dpp_dim_").toString
    Seq(("red", 1), ("yellow", 1), ("blue", 2)).toDF("color", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === 1)
    val joined = fact.join(broadcast(dim), Seq("color"))
    val got = joined.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("color"))).toSet
    assert(got == Set((1L, "red"), (2L, "red")))
    val planStr = joined.queryExecution.executedPlan.toString()
    assert(planStr.contains("RuntimeFilters: [dynamicpruning"),
      s"expected a runtime filter on the reftable scan:\n$planStr")
    // the green and blue partitions were never read: the scan's row count
    // is the red partition only (AQE hides stage subtrees, so recurse)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s } ++
        p.collect { case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q }
          .flatMap(q => scans(q.plan))
    val scan = (joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case p => scans(p)
    }).head
    assert(scan.metrics("numOutputRows").value == 2,
      s"runtime pruning should limit the scan to the red partition, " +
        s"read ${scan.metrics("numOutputRows").value} rows")
  }

  test("two-level partitioning: nested listing and pruning on both levels") {
    import graft.sources.reftable.{RefTablePartitioning, SnapshotFiles}
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan}
    val dir = Files.createTempDirectory("reftable_part2_").toString
    import spark.implicits._
    Seq((1L, "red", 1), (2L, "red", 2), (3L, "blue", 1), (4L, "blue", 2))
      .toDF("id", "color", "bucket")
      .repartition(1).write.mode("overwrite").partitionBy("color", "bucket").parquet(dir)
    val pddl = "id BIGINT, color STRING, bucket INT"
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> dir, "schema" -> pddl, "partitionColumns" -> "color,bucket").asJava))
    val files = SnapshotFiles.list(dir, Seq("color", "bucket"))
    assert(files.size == 4)
    assert(files.forall(f => f.partitionValues.keySet == Set("color", "bucket")))
    val kept = RefTablePartitioning.prune(files, o,
      Seq(And(EqualTo("color", "red"), GreaterThan("bucket", 1))))
    assert(kept.map(_.partitionValues).toSet == Set(Map("color" -> "red", "bucket" -> "2")))
    // end-to-end: both partition columns decode typed
    val df = spark.read.format("reftable")
      .option("path", dir).option("schema", pddl).option("partitionColumns", "color,bucket").load()
      .filter(col("color") === "red" && col("bucket") > 1)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((2L, "red", 2)))
  }

  test("partitioned snapshot streams with pruned generations") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("reftable_part_stream_").toString
    import spark.implicits._
    Seq((1L, "a", "red"), (2L, "b", "blue"), (3L, "c", "blue"))
      .toDF("id", "name", "color")
      .repartition(1).write.mode("overwrite").partitionBy("color").parquet(dir)
    val pddl = "id BIGINT, name STRING, color STRING"
    var got: Seq[(Long, String)] = Nil
    val q = spark.readStream.format("reftable")
      .option("path", dir).option("schema", pddl).option("partitionColumns", "color").load()
      .filter(col("color") === "blue")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got = b.collect().map(r => (r.getLong(0), r.getString(2))).toSeq.sorted
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("reftable_part_ck_").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    assert(got == Seq((2L, "blue"), (3L, "blue")))
  }

  test("trigger emit mode honors admission caps: chunked re-emission cycles") {
    val dir = Files.createTempDirectory("reftable_trigcap_").toString
    import spark.implicits._
    (1L to 10L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(5).write.mode("overwrite").parquet(dir)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h",
      "emitMode" -> "trigger", "maxFilesPerTrigger" -> "2").asJava))
    val s = new RefTableMicroBatchStream(o, o.outputSchema)
    var prev = s.initialOffset()
    val upTos = (1 to 5).map { _ =>
      val nxt = s.latestOffset(prev, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
      val n = s.planInputPartitions(prev, nxt).length
      prev = nxt
      (nxt.upTo, n)
    }
    // 2,2 / 4,2 / 5,1 completes the snapshot; the next trigger re-starts
    // the cycle at the cap, never the whole snapshot in one batch
    assert(upTos == Seq((2L, 2), (4L, 2), (5L, 1), (2L, 2), (4L, 2)), s"got $upTos")
  }

  test("admission control end-to-end: chunked batches reassemble the snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("reftable_adm_e2e_").toString
    import spark.implicits._
    (1L to 9L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(3).write.mode("overwrite").parquet(dir)
    assert(graft.sources.reftable.SnapshotFiles.list(dir).size == 3)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    val q = spark.readStream.format("reftable")
      .option("path", dir).option("schema", ddl)
      .option("refreshInterval", "1h").option("genColumn", "_gen")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("_gen", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        batches.synchronized { batches += rows }
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("reftable_adm_ck_").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    val got = batches.synchronized(batches.toList)
    assert(got.size == 3, s"expected 3 single-file micro-batches, got ${got.size}")
    assert(got.forall(_.nonEmpty), s"each chunk carries one file: ${got.map(_.size)}")
    assert(got.map(_.map(_._2).toSet).reduce(_ ++ _).size == got.map(_.size).sum,
      "chunks must be disjoint")
    assert(got.flatten.map(_._1).toSet.size == 1, "all chunks must carry the same generation")
    assert(got.flatten.map(_._2).toSet == (1L to 9L).toSet)
  }

  test("stream-static enrichment tracks lookup mutations across generations (one query)") {
    // SURVEY §7.4 risk 4: during ONE continuous query, the joined output of
    // each refresh generation must equal the batch join against that
    // generation's snapshot. The lookup side mutates mid-query via a
    // delete+rename swap of a single staged file. A plain-parquet directory
    // has no snapshot isolation (a listing can pin a file the swap is about
    // to delete — the same hazard any non-transactional table rewrite has),
    // so the swap runs only once the CURRENT wall-clock generation's batch
    // has shown v1 with at least 2s left before the next 5s boundary (the
    // next listing); a batch that lands late in its generation waits for
    // the next generation's.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = Files.createTempDirectory("reftable_multigen_").toString
    import spark.implicits._
    def lookupDf(version: Int) = {
      val n = if (version == 1) 3L else 5L
      (1L to n).map(i => (i, s"v${version}_$i")).toDF("id", "name")
    }
    lookupDf(1).repartition(1).write.mode("overwrite").parquet(dir)
    val events = (1L to 10L).map(i => (100L + i, 1L + (i % 5))).toDF("ev_id", "id")
    val expected: Map[Int, Set[(Long, Long, String)]] = (1 to 2).map { v =>
      v -> events.join(lookupDf(v), Seq("id")).select("ev_id", "id", "name")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }.toMap

    val lookupStream = spark.readStream.format("reftable")
      .option("path", dir).option("schema", ddl)
      .option("refreshInterval", "5s").option("genColumn", "_gen")
      .load()
    val joined = lookupStream.join(events, Seq("id"))
      .select(col("_gen"), col("ev_id"), col("id"), col("name"))
    val perGen = scala.collection.mutable.LinkedHashMap.empty[Long, Set[(Long, Long, String)]]
    val q = joined.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
        perGen.synchronized { rows.groupBy(_._1).foreach { case (g, rs) => perGen(g) = rs.map(_._2).toSet } }
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("reftable_mg_ck_").toString)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    def waitFor(cond: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + 30000
      var ok = cond
      while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(100); ok = cond }
      ok
    }
    // stage the v2 file up front so the post-observation swap is two
    // metadata ops (delete + rename), microseconds against the 5s margin
    val staging = Files.createTempDirectory("reftable_mg_staging_").toString
    lookupDf(2).repartition(1).write.mode("overwrite").parquet(staging)
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val staged = fs.listStatus(new HPath(staging))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    def v1SafeToSwap: Boolean = {
      val now = System.currentTimeMillis()
      val gen = now / 5000L
      (gen + 1) * 5000L - now >= 2000L &&
        perGen.synchronized(perGen.get(gen).contains(expected(1)))
    }
    assert(waitFor(v1SafeToSwap), "v1 generation never observed early in its generation")
    fs.listStatus(new HPath(dir)).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(s => fs.delete(s.getPath, false))
    fs.rename(staged, new HPath(dir, "data_v2.parquet"))
    assert(waitFor(perGen.synchronized(perGen.values.exists(_ == expected(2)))),
      s"v2 generation never observed after the swap; perGen=${perGen.synchronized(perGen.toList)} " +
        s"qex=${q.exception} files=${graft.sources.reftable.SnapshotFiles.list(dir)}")
    q.stop()
    val gens = perGen.synchronized(perGen.toList)
    // every generation's join equals the batch join against v1 or v2 (an
    // empty set is tolerated only for a listing that raced the swap window)
    gens.foreach { case (g, rows) =>
      assert(rows == expected(1) || rows == expected(2) || rows.isEmpty,
        s"gen $g joined output matches neither snapshot: $rows")
    }
    assert(gens.last._2 == expected(2), "final generation must reflect the mutated lookup")
  }

  test("a small snapshot is auto-broadcast in joins (statistics reported)") {
    // without SupportsReportStatistics a DSv2 relation sizes to Long.Max
    // and can never be the build side — the reference's entire lookup-join
    // purpose requires the snapshot to broadcast on its own
    val dir = Files.createTempDirectory("reftable_stats_").toString
    writeTable(dir, (1L to 100L).map(i => (i, s"n$i")))
    val lookup = spark.read.format("reftable")
      .option("path", dir).option("schema", ddl).load()
    import spark.implicits._
    val facts = (1L to 10000L).map(i => (i, 1L + i % 100)).toDF("fact_id", "id")
    val joined = facts.join(lookup, Seq("id"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"snapshot must auto-broadcast:\n$p")
  }

  test("generation snapshot is pinned: same gen replans identical files") {
    val dir = Files.createTempDirectory("reftable_pin_").toString
    writeTable(dir, Seq((1L, "a")))
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> dir, "schema" -> ddl, "refreshInterval" -> "1h").asJava))
    val s = new RefTableMicroBatchStream(o, o.outputSchema)
    val start = s.initialOffset()
    val end = s.latestOffset()
    val p1 = s.planInputPartitions(start, end)
    writeTable(dir, Seq((2L, "b"))) // overwrite mid-generation
    val p2 = s.planInputPartitions(start, end)
    assert(p1.map(_.toString).toSeq == p2.map(_.toString).toSeq,
      "within a generation the pinned file list must not change")
  }

  test("partitioned stream reads a manifest-referenced (mutated) version with pruning") {
    // after a partitioned COW mutation the current version NAMES files
    // hosted across version dirs, each carrying partition values from the
    // manifest — the streaming listing must surface them and the declared
    // filter must still prune partitions before admission
    import graft.sources.reftable.{RefTableMutations, VersionedTable}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("reftable_pmstream_").toString + "/tbl"
    (0L until 300L).map(i => (i, s"n$i", (i % 3).toInt)).toDF("id", "name", "b")
      .write.format("reftable").option("path", root)
      .option("schema", "id BIGINT, name STRING, b INT")
      .option("partitionColumns", "b").mode("overwrite").save()
    RefTableMutations.deleteWhere(spark, root, col("b") === 1 && col("id") < 150L,
      partitionColumns = Seq("b"),
      partitionTypes = Map("b" -> org.apache.spark.sql.types.IntegerType))

    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> root, "schema" -> "id BIGINT, name STRING, b INT",
      "partitionColumns" -> "b", "refreshInterval" -> "1h",
      "filter" -> "b = 1").asJava))
    // the scan builder adds the declared filters to the pushed set; driving
    // the stream directly, we pass them the same way
    val s = new RefTableMicroBatchStream(o, o.outputSchema,
      graft.sources.reftable.RefTableFilters.declared(o).toArray)
    val end = s.latestOffset(s.initialOffset(), s.getDefaultReadLimit)
    val ids = readPartitions(o, s.planInputPartitions(s.initialOffset(), end))
      .map(_.getLong(0)).sorted
    assert(ids == (150L until 300L).filter(_ % 3 == 1).toSeq,
      "the stream must see the post-mutation b=1 partition exactly")
    assert(VersionedTable.resolve(root).isDefined)
  }

  test("a generation pinned mid-drain survives concurrent mutations + vacuum of its hosts") {
    // The retention contract on the STREAMING path: a reader that pinned its
    // generation listing keeps draining the exact pre-mutation snapshot even
    // after (a) COW mutations retract files from newer listings, (b) the
    // pinned version's own commit expires under minimum retention, and
    // (c) vacuum runs — reference-counted protection keeps the hosting dirs
    // alive because newer manifests still name their files. Rows deleted by
    // the mutations MUST still be emitted (snapshot isolation), and only
    // commit() releases the pin.
    import graft.sources.reftable.{Layout, RefTableMutations, VersionedTable}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = Files.createTempDirectory("reftable_pinvac_").toString + "/tbl"
    val df = (0L until 500L).map(i => (i, s"n$i")).toDF("id", "name")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 5))

    val o = RefTableOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> root, "schema" -> ddl, "refreshInterval" -> "1h",
        "maxFilesPerTrigger" -> "2").asJava))
    val s = new RefTableMicroBatchStream(o, o.outputSchema)
    val start = s.initialOffset()
    val o1 = s.latestOffset(start, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    val chunk1 = s.planInputPartitions(start, o1)
    assert(chunk1.length == 2, "gen pinned, first 2 of 5 files admitted")

    // two COW deletes under minimum retention expire the base commit, then
    // vacuum — the pinned dirs must survive via manifest references
    RefTableMutations.deleteWhere(spark, root, col("id") === 5L, keepVersions = 2)
    RefTableMutations.deleteWhere(spark, root, col("id") === 205L, keepVersions = 2)
    VersionedTable.vacuum(root, keepVersions = 2)

    val o2 = s.latestOffset(o1, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen == o1.gen, "mid-drain: the generation must stay pinned")
    val o3 = s.latestOffset(o2, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    val parts = chunk1 ++ s.planInputPartitions(o1, o2) ++ s.planInputPartitions(o2, o3)
    assert(parts.length == 5, "the full pinned listing must still be drainable")
    val ids = readPartitions(o, parts).map(_.getLong(0)).sorted
    assert(ids == (0L until 500L),
      "the pinned snapshot must emit rows the mutations deleted (snapshot isolation)")
    s.commit(o3) // release the pin

    // a fresh generation sees the post-mutation state (drain all chunks)
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema)
    var prev = s2.initialOffset()
    var cur = s2.latestOffset(prev, s2.getDefaultReadLimit)
    val ids2 = scala.collection.mutable.Set[Long]()
    while (cur != prev) {
      readPartitions(o, s2.planInputPartitions(prev, cur)).foreach(r => ids2 += r.getLong(0))
      prev = cur
      cur = s2.latestOffset(prev, s2.getDefaultReadLimit)
    }
    assert(!ids2.contains(5L) && !ids2.contains(205L) && ids2.size == 498)
  }

  test("generation property (manual clock): monotonic gens, one pinning per generation, boundaries emit") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import RefTableSourceSpec._
    val opGen: Gen[GenOp] = Gen.frequency(
      3 -> Gen.choose(0L, 2500L).map(Advance),
      5 -> Gen.const(Poll),
      2 -> Gen.const(Commit),
      1 -> Gen.const(Restart),
      2 -> Gen.choose(1, 4).map(Rewrite))
    val caseGen = for {
      maxFiles <- Gen.oneOf(None, Some(1), Some(2))
      trigger <- Gen.oneOf(false, true)
      n <- Gen.choose(5, 30)
      ops <- Gen.listOfN(n, opGen)
    } yield (maxFiles, trigger, ops)

    val prop = Prop.forAllNoShrink(caseGen) { case (maxFiles, trigger, ops) =>
      val dir = Files.createTempDirectory("reftable_genprop_").toFile
      try {
        // each rewrite replaces the table's files with a new set named by
        // the write: a file's name tells which listing (pinning) it is from.
        // Planning reads no file content, so the files are placeholders.
        var writes = 0
        def rewrite(n: Int): Unit = {
          dir.listFiles().foreach(_.delete())
          writes += 1
          (0 until n).foreach(i => Files.write(
            new java.io.File(dir, f"w$writes%03d-$i.parquet").toPath, Array.fill[Byte](16 + i)(0)))
        }
        rewrite(2)
        val o = RefTableOptions.from(new CaseInsensitiveStringMap((Map(
          "path" -> dir.toString, "schema" -> ddl, "refreshInterval" -> "1s",
          "emitMode" -> (if (trigger) "trigger" else "refresh")) ++
          maxFiles.map(m => "maxFilesPerTrigger" -> m.toString)).asJava))
        var now = 1700000000500L
        def instance() = new RefTableMicroBatchStream(o, o.outputSchema, clock = () => now)
        var s = instance()
        var end = s.initialOffset().asInstanceOf[RefTableOffset]
        val pinningsOf = scala.collection.mutable.Map.empty[Long, Set[String]]
        def check(ok: Boolean, what: => String): Unit =
          if (!ok) throw new AssertionError(
            s"$what (maxFiles=$maxFiles trigger=$trigger) after ops:\n  ${ops.mkString("\n  ")}")
        ops.foreach {
          case Advance(ms) => now += ms
          case Rewrite(n) => rewrite(n)
          case Commit => s.commit(end)
          case Restart =>
            s.stop()
            s = instance()
            s.deserializeOffset(end.json())
          case Poll =>
            val clockGen = o.generationAt(now)
            val next = s.latestOffset(end, s.getDefaultReadLimit).asInstanceOf[RefTableOffset]
            if (!trigger && end.batch >= 0 && clockGen > end.wallGen)
              check(next != end, s"a crossed boundary emitted nothing: $end at clock gen $clockGen")
            if (next != end) {
              check(next.batch == end.batch + 1, s"batch ids skip: $end -> $next")
              check(next.gen == end.gen || !pinningsOf.contains(next.gen),
                s"generation ${next.gen} emitted again after ${end.gen}")
              check(next.gen >= end.gen, s"generation went backwards: $end -> $next")
              check(next.wallGen <= clockGen, s"wall ${next.wallGen} ahead of clock gen $clockGen")
              val pinnings = s.planInputPartitions(end, next).map { p =>
                val name = new org.apache.hadoop.fs.Path(
                  p.asInstanceOf[graft.sources.reftable.RefTableInputPartition].path).getName
                name.takeWhile(_ != '-')
              }.toSet
              pinningsOf(next.gen) = pinningsOf.getOrElse(next.gen, Set.empty[String]) ++ pinnings
              check(pinningsOf(next.gen).size <= 1,
                s"generation ${next.gen} mixes listings ${pinningsOf(next.gen)}")
              end = next
            }
        }
        s.stop()
        true
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
    val seed = 20261019L
    val params = Test.Parameters.default.withMinSuccessfulTests(60)
      .withWorkers(1).withInitialSeed(Seed(seed))
    val result = Test.check(params, prop)
    result.status match {
      case Test.PropException(_, e, _) => throw e
      case other => assert(result.passed, s"seed $seed: $other")
    }
  }

  /** A changefeed stream on a manual clock, over a versioned table. */
  private def changefeedFixture(name: String) = {
    import spark.implicits._
    val root = Files.createTempDirectory(s"reftable_cfkind_$name").toString + "/t"
    val ck = Files.createTempDirectory(s"reftable_cfkind_${name}_ck").toString
    graft.sources.reftable.VersionedTable.publish(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), root)
    val o = RefTableOptions.from(new CaseInsensitiveStringMap(Map(
      "path" -> root, "schema" -> ddl, "refreshInterval" -> "1s",
      "changefeed" -> "true", "keyColumns" -> "id").asJava))
    (root, ck, o)
  }

  /** The (id, name, change_type) rows of one changefeed batch. */
  private def changes(s: RefTableMicroBatchStream, start: RefTableOffset,
      end: RefTableOffset): Seq[(Long, String, String)] = {
    val factory = s.createReaderFactory()
    s.planInputPartitions(start, end).toSeq.flatMap { p =>
      val rdr = factory.createColumnarReader(p)
      try Iterator.continually(rdr).takeWhile(_.next())
        .flatMap(_ => rdr.get().rowIterator().asScala
          .map(r => (r.getLong(0), r.getUTF8String(1).toString, r.getUTF8String(2).toString)))
        .toList
      finally rdr.close()
    }.sorted
  }

  test("changefeed kind: a restarted instance emits nothing before the next boundary") {
    val (_, ck, o) = changefeedFixture("restart")
    var now = 1700000000500L
    val s1 = new RefTableMicroBatchStream(o, o.outputSchema, checkpointLocation = Some(ck),
      clock = () => now)
    val start = s1.initialOffset().asInstanceOf[RefTableOffset]
    val o1 = s1.latestOffset(start, s1.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o1.batch == 0 && o1.upTo == -1, s"a changefeed generation is emitted whole, got $o1")
    assert(changes(s1, start, o1) == Seq((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")))
    s1.commit(o1)
    s1.stop()
    // the pin lives in the checkpoint: a restart inside the same generation
    // neither abandons nor re-emits it, however the clock moves within it
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema, checkpointLocation = Some(ck),
      clock = () => now)
    s2.deserializeOffset(o1.json())
    assert(s2.latestOffset(o1, s2.getDefaultReadLimit) == o1)
    now += 400
    assert(s2.latestOffset(o1, s2.getDefaultReadLimit) == o1)
    assert(s2.metrics(java.util.Optional.of(o1)).get("generation") == o1.gen.toString)
    now += 600
    val o2 = s2.latestOffset(o1, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.batch == o1.batch + 1 && o2.gen == o1.gen + 1, s"the boundary emits, got $o2")
    assert(changes(s2, o1, o2).isEmpty, "an unchanged table emits an empty delta")
    s2.stop()
  }

  test("changefeed kind: after the boundary a restart diffs against the pinned predecessor") {
    import spark.implicits._
    val (root, ck, o) = changefeedFixture("diff")
    var now = 1700000000500L
    val s1 = new RefTableMicroBatchStream(o, o.outputSchema, checkpointLocation = Some(ck),
      clock = () => now)
    val start = s1.initialOffset().asInstanceOf[RefTableOffset]
    val o1 = s1.latestOffset(start, s1.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(changes(s1, start, o1).size == 3)
    val pinned = s1.metrics(java.util.Optional.of(o1)).get("pinnedVersion")
    assert(pinned != null, "the metric names the pinned version")
    s1.commit(o1)
    s1.stop()
    // the table changes; only the checkpoint remembers what gen o1 pinned
    graft.sources.reftable.RefTableMutations.upsert(
      spark, root, Seq((2L, "B"), (4L, "d")).toDF("id", "name"), Seq("id"))
    val s2 = new RefTableMicroBatchStream(o, o.outputSchema, checkpointLocation = Some(ck),
      clock = () => now)
    s2.deserializeOffset(o1.json())
    assert(s2.metrics(java.util.Optional.of(o1)).get("pinnedVersion") == pinned)
    now += 1000
    val o2 = s2.latestOffset(o1, s2.getDefaultReadLimit).asInstanceOf[RefTableOffset]
    assert(o2.gen > o1.gen)
    assert(changes(s2, o1, o2) == Seq((2L, "B", "update"), (4L, "d", "insert")),
      "the delta is against the predecessor's pinned version, not a re-bootstrap")
    assert(s2.metrics(java.util.Optional.of(o2)).get("pinnedVersion") != pinned)
    s2.stop()
  }
}

object RefTableSourceSpec {
  /** One step of the generation property. */
  sealed trait GenOp
  final case class Advance(ms: Long) extends GenOp
  case object Poll extends GenOp
  case object Commit extends GenOp
  case object Restart extends GenOp
  final case class Rewrite(files: Int) extends GenOp
}
