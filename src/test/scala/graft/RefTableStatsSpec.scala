package graft

import java.nio.file.{Files, Paths}

import graft.sources.reftable._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Random

/** File skipping from `_STATS.json` manifests (RefTableStats) and the
  * range-clustered publish that makes it effective.
  *
  * The load-bearing test is the randomized equivalence: for every random
  * filter tree, reading through the source WITH skipping must return
  * exactly what Spark returns reading every file — over data that
  * deliberately contains nulls, NaN and -0.0, the three classic
  * footer-stats traps. A false skip is a silently missing row in
  * production, so this gets random trees, not examples.
  */
class RefTableStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val conf = new Configuration()

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft_stats_$name").toString

  private def opts(pairs: (String, String)*): RefTableOptions =
    RefTableOptions.from(new CaseInsensitiveStringMap(pairs.toMap.asJava))

  // deterministic corpus hitting the traps: ~1/7 null v, NaN rows, -0.0 rows
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

  test("manifest round-trip records bounds, null counts, and skips unstatable types") {
    import spark.implicits._
    val dir = tmpDir("roundtrip")
    Seq(
      (1L, 10, 2.5d, java.sql.Date.valueOf("2024-01-03"), "aa", Some(7L)),
      (5L, -2, -1.5d, java.sql.Date.valueOf("2024-06-01"), "zz", None),
      (3L, 0, 0.75d, java.sql.Date.valueOf("2024-03-15"), "mm", None))
      .toDF("id", "k", "v", "d", "s", "maybe")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    RefTableStats.writeManifest(dir, conf)
    val m = RefTableStats.load(dir, conf).get
    assert(m.size == 1)
    val fileStats = m.values.head
    assert(fileStats.rows == 3)
    val id = fileStats.cols("id")
    assert(id.min.get.asLong == 1L && id.max.get.asLong == 5L && id.nulls == 0L)
    assert(fileStats.cols("k").min.get.asLong == -2L)
    assert(fileStats.cols("v").min.get.asDouble == -1.5d)
    // date bounds are epoch days
    assert(fileStats.cols("d").min.get.asLong ==
      java.sql.Date.valueOf("2024-01-03").toLocalDate.toEpochDay)
    // strings are recorded since round 17 (truncated enclosing bounds);
    // short values pass through exact
    val sCol = fileStats.cols("s")
    assert(sCol.min.get.asText == "aa" && sCol.max.get.asText == "zz" && sCol.nulls == 0L)
    val maybe = fileStats.cols("maybe")
    assert(maybe.nulls == 2L && maybe.min.get.asLong == 7L)
  }

  test("truncatedStringBounds: prefix lower, incremented upper, code-point safe") {
    import RefTableStats.{incrementLastCp, truncatedStringBounds}
    // short strings pass through exact
    assert(truncatedStringBounds("aa", "zz") == Some(("aa", "zz")))
    // long max: 16-cp truncation, last code point incremented
    val got = truncatedStringBounds("a" * 20, "a" * 20).get
    assert(got._1 == "a" * 16 && got._2 == "a" * 15 + "b")
    // surrogate gap skipped: U+D7FF + 1 → U+E000 (UTF-8 cannot encode the gap)
    assert(incrementLastCp("x퟿") == Some("x"))
    // supplementary characters count as ONE code point (no surrogate split)
    val emoji = "😀" * 20
    val b = truncatedStringBounds(emoji, emoji).get
    assert(b._1 == "😀" * 16)
    assert(b._2 == "😀" * 15 + new String(Character.toChars(0x1F601)))
    // an un-incrementable tail walks left; all-U+10FFFF cannot bound at all
    val top = new String(Character.toChars(0x10FFFF))
    assert(incrementLastCp("a" + top) == Some("b"))
    assert(incrementLastCp(top) == None)
    // bound validity: lo <= original <= hi in UTF-8 byte order
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    for ((mn, mx) <- Seq(("a" * 30 + "q", "a" * 30 + "z"), (emoji + "tail", emoji + "zz"),
        ("short", "x" * 40))) {
      val (lo, hi) = truncatedStringBounds(mn, mx).get
      assert(u(lo).compareTo(u(mn)) <= 0, s"lo '$lo' !<= min '$mn'")
      assert(u(hi).compareTo(u(mx)) >= 0, s"hi '$hi' !>= max '$mx'")
    }
  }

  test("string truncated bounds: range, prefix and point predicates skip, never wrongly") {
    import spark.implicits._
    val root = tmpDir("strbounds")
    // url-like high-cardinality key sharing a long common prefix, so the
    // 16-code-point truncation genuinely engages (discrimination at cp 8)
    val rows = (0 until 400).map { i =>
      val dom = ('a' + i / 50).toChar // 8 domains a..h -> 8 clustered files
      (i.toLong, s"https://$dom-site.example/very/long/path/resource-$i")
    }
    VersionedTable.publish(rows.toDF("id", "url"), root,
      layout = Layout.Clustered(Seq("url"))(files = 8))
    val o = opts("path" -> root, "schema" -> "id BIGINT, url STRING")
    val all = SnapshotFiles.pruned(o, Nil)
    assert(all.size == 8)
    val ranged = SnapshotFiles.pruned(o, Seq(And(
      GreaterThanOrEqual("url", "https://c"), LessThan("url", "https://e"))))
    assert(ranged.size <= 3, s"range over the key must plan a fraction of 8, got ${ranged.size}")
    val prefixed = SnapshotFiles.pruned(o, Seq(StringStartsWith("url", "https://g-site")))
    assert(prefixed.size <= 2, s"prefix predicate must prune, got ${prefixed.size}")
    val point = SnapshotFiles.pruned(o,
      Seq(EqualTo("url", "https://a-site.example/very/long/path/resource-3")))
    assert(point.size <= 2, s"point lookup must prune via bounds, got ${point.size}")
    // equivalence: skipping on/off returns identical rows through the source
    def read(skip: Boolean) = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, url STRING")
      .option("statsPruning", skip.toString).load()
    val preds: Seq[Column] = Seq(
      col("url") >= "https://c" && col("url") < "https://e",
      col("url").startsWith("https://g-site"),
      col("url") === "https://a-site.example/very/long/path/resource-3",
      !col("url").startsWith("https://b"),
      col("url") > "https://h-site.example/very/long/path/resource-399")
    for (p <- preds) {
      val on = read(skip = true).filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val off = read(skip = false).filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(on == off, s"skip-on differs from skip-off under $p")
    }
    // values equal THROUGH the truncation point must never skip their file:
    // keys differ only after cp 16, so every file's truncated bounds look
    // identical on the first 16 cps — equality inside must keep the file
    val root2 = tmpDir("strbounds_deep")
    val deep = (0 until 200).map(i => (i.toLong, f"prefix-0123456789-$i%03d"))
    VersionedTable.publish(deep.toDF("id", "url"), root2,
      layout = Layout.Clustered(Seq("url"))(files = 4))
    val o2 = opts("path" -> root2, "schema" -> "id BIGINT, url STRING")
    val hit = spark.read.format("reftable")
      .option("path", root2).option("schema", "id BIGINT, url STRING").load()
      .filter(col("url") === "prefix-0123456789-117").select("id").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(117L),
      "truncation-blind equality must still find its row")
  }

  test("clustered publish skips files a range filter cannot match, result-identically") {
    val root = tmpDir("cluster")
    VersionedTable.publish(corpus(), root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val o = opts("path" -> root, "schema" -> "id BIGINT, b INT, v DOUBLE")
    val all = SnapshotFiles.pruned(o, Nil)
    assert(all.size == 8)
    // a 5%-of-keyspace range must plan a fraction of the files
    val narrow = SnapshotFiles.pruned(o,
      Seq(And(GreaterThanOrEqual("id", 100L), LessThan("id", 150L))))
    assert(narrow.size <= 2, s"expected <=2 of 8 files, planned ${narrow.size}")
    // disabling the option reads the manifest not at all
    val off = opts("path" -> root, "schema" -> "id BIGINT, b INT, v DOUBLE",
      "statsPruning" -> "false")
    assert(SnapshotFiles.pruned(off,
      Seq(And(GreaterThanOrEqual("id", 100L), LessThan("id", 150L)))).size == 8)
    // the skipped plan returns exactly the unskipped result
    def read(enabled: Boolean) = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, b INT, v DOUBLE")
      .option("statsPruning", enabled.toString).load()
      .filter(col("id") >= 100L && col("id") < 150L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(read(enabled = true)) == ids(read(enabled = false)))
    assert(ids(read(enabled = true)) == (100L until 150L))
    // and the DataFrame path really plans the skipped listing, not just
    // the internal API: the executed scan carries <=2 input partitions
    val scans = read(enabled = true).queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty && scans.head.partitions.size <= 2,
      s"stats pruning must reach the planned scan, got ${scans.map(_.partitions.size)}")
  }

  test("random filter trees: skipping never changes the result (nulls, NaN, -0.0 present)") {
    val root = tmpDir("equiv")
    VersionedTable.publish(corpus(), root, layout = Layout.Clustered(Seq("id"))(files = 6))
    val baseline = spark.read.parquet(
      SnapshotFiles.resolveDir(root, None, conf))
    def viaSource = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, b INT, v DOUBLE").load()

    def leaf(rnd: Random): (Column, Unit) = rnd.nextInt(10) match {
      case 0 => (col("id") >= rnd.nextInt(1200).toLong, ())
      case 1 => (col("id") < rnd.nextInt(1200).toLong, ())
      case 2 => (col("id") === rnd.nextInt(1200).toLong, ())
      case 3 => (col("b").isin(rnd.nextInt(10), rnd.nextInt(12)), ())
      case 4 => (col("v") > (rnd.nextInt(2000) - 1000).toDouble, ())
      case 5 => (col("v") <= (rnd.nextInt(2000) - 1000).toDouble, ())
      case 6 => (col("v") === 0.0d, ())
      case 7 => (col("v") === Double.NaN, ())
      case 8 => (col("v").isNull, ())
      case 9 => (col("v").isNotNull, ())
    }
    def tree(rnd: Random, depth: Int): Column =
      if (depth <= 0) leaf(rnd)._1
      else rnd.nextInt(8) match {
        case 0 | 1 | 2 => leaf(rnd)._1
        case 3 | 4 => tree(rnd, depth - 1) && tree(rnd, depth - 1)
        case 5 | 6 => tree(rnd, depth - 1) || tree(rnd, depth - 1)
        case 7 => !tree(rnd, depth - 1)
      }

    val rnd = new Random(20260812)
    (1 to 30).foreach { i =>
      val predicate = tree(rnd, 3)
      val want = baseline.filter(predicate).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = viaSource.filter(predicate).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"tree $i ($predicate): skipping changed the result")
    }
  }

  test("mixed partition + data-column predicates prune on both dimensions") {
    import spark.implicits._
    val root = tmpDir("mixed")
    val df = (0 until 400).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    VersionedTable.publish(df, root, layout = Layout.Partitioned(Seq("par")))
    val o = opts("path" -> root, "schema" -> "id BIGINT, par STRING",
      "partitionColumns" -> "par")
    val all = SnapshotFiles.pruned(o, Nil)
    // one And filter mixing a partition leaf and a stats leaf: partition
    // pruning alone can't use it (mixed references), stats eval must
    val mixed = SnapshotFiles.pruned(o,
      Seq(And(EqualTo("par", "even"), GreaterThan("id", 10000L))))
    assert(mixed.isEmpty, s"expected 0 files of ${all.size}, planned ${mixed.size}")
    val half = SnapshotFiles.pruned(o, Seq(EqualTo("par", "odd")))
    assert(half.nonEmpty && half.size < all.size)
  }

  test("a stale manifest entry (length mismatch) never skips that file") {
    import spark.implicits._
    val dir = tmpDir("stale")
    Seq((1L, 5.0d), (2L, 6.0d)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    RefTableStats.writeManifest(dir, conf)
    // replace the data file in place under the same name: new content far
    // outside the recorded bounds, different length
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val swap = tmpDir("stale_new")
    (0 until 64).map(i => (1000L + i, 500.0d + i)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(swap)
    val newFile = Files.list(Paths.get(swap)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(newFile, part, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val o = opts("path" -> dir, "schema" -> "id BIGINT, v DOUBLE")
    // stats say id<=2, the replaced file holds id>=1000: must still be read
    val kept = SnapshotFiles.pruned(o, Seq(GreaterThan("id", 900L)))
    assert(kept.size == 1, "length-mismatched file must be kept despite its stats entry")
  }

  test("an unreadable manifest fails open") {
    import spark.implicits._
    val dir = tmpDir("corrupt")
    Seq((1L, 2L)).toDF("id", "x").coalesce(1).write.mode("overwrite").parquet(dir)
    Files.writeString(Paths.get(dir, RefTableStats.ManifestName), "{not json")
    val o = opts("path" -> dir, "schema" -> "id BIGINT, x BIGINT")
    assert(RefTableStats.load(dir, conf).isEmpty)
    assert(SnapshotFiles.pruned(o, Seq(EqualTo("id", 999L))).size == 1)
  }

  test("date bounds prune date filters") {
    import spark.implicits._
    val dir = tmpDir("dates")
    Seq("2024-01-01", "2024-01-05").map(java.sql.Date.valueOf).toDF("d")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Seq("2025-06-01", "2025-06-09").map(java.sql.Date.valueOf).toDF("d")
      .coalesce(1).write.mode("append").parquet(dir)
    RefTableStats.writeManifest(dir, conf)
    val o = opts("path" -> dir, "schema" -> "d DATE")
    assert(SnapshotFiles.pruned(o, Nil).size == 2)
    val kept = SnapshotFiles.pruned(o,
      Seq(GreaterThan("d", java.sql.Date.valueOf("2025-01-01"))))
    assert(kept.size == 1)
    // LocalDate literals (java8 datetime API) prune identically
    val kept8 = SnapshotFiles.pruned(o,
      Seq(LessThan("d", java.time.LocalDate.parse("2024-06-01"))))
    assert(kept8.size == 1)
  }

  test("z-order clustering prunes on every clustered dimension; lexicographic only on the first") {
    import spark.implicits._
    // 256x256 uniform grid: the worst case for lexicographic trailing
    // columns (every x-file spans all of y) and the textbook case for z
    val grid = (0 until 65536).map(i => (i % 256, i / 256, i.toLong)).toDF("x", "y", "id")
    val zRoot = tmpDir("zorder")
    val lexRoot = tmpDir("lex")
    VersionedTable.publish(grid, zRoot, layout = Layout.ZOrdered(Seq("x", "y"))(files = 16))
    VersionedTable.publish(grid, lexRoot, layout = Layout.Clustered(Seq("x", "y"))(files = 16))
    val ddl = "x INT, y INT, id BIGINT"
    def planned(root: String, filters: Seq[Filter]) =
      SnapshotFiles.pruned(opts("path" -> root, "schema" -> ddl), filters).size
    assert(planned(zRoot, Nil) == 16 && planned(lexRoot, Nil) == 16)
    val onX = Seq(And(GreaterThanOrEqual("x", 10), LessThan("x", 20)))
    val onY = Seq(And(GreaterThanOrEqual("y", 10), LessThan("y", 20)))
    // leading column: both layouts prune
    assert(planned(lexRoot, onX) <= 2)
    assert(planned(zRoot, onX) <= 8, s"z on x planned ${planned(zRoot, onX)}")
    // trailing column: lexicographic is blind, z still prunes
    assert(planned(lexRoot, onY) == 16)
    assert(planned(zRoot, onY) <= 8, s"z on y planned ${planned(zRoot, onY)}")
    // and a box on both dimensions compounds
    assert(planned(zRoot, onX ++ onY) <= 4)
    // skipping never changes results (the box straddles file boundaries)
    def ids(root: String, skip: Boolean) = spark.read.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("statsPruning", skip.toString).load()
      .filter(col("x") >= 10 && col("x") < 20 && col("y") >= 10 && col("y") < 20)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(zRoot, skip = true) == ids(zRoot, skip = false))
    assert(ids(zRoot, skip = true).size == 100)
  }

  test("z-order on a date column prunes date filters") {
    import spark.implicits._
    val root = tmpDir("zdate")
    val grid = (0 until 4000).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i % 200)),
        i % 50, i.toLong)
    }.toDF("d", "k", "id")
    VersionedTable.publish(grid, root, layout = Layout.ZOrdered(Seq("d", "k"))(files = 8))
    val o = opts("path" -> root, "schema" -> "d DATE, k INT, id BIGINT")
    assert(SnapshotFiles.pruned(o, Nil).size == 8)
    val onDate = Seq(And(
      GreaterThanOrEqual("d", java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19010))),
      LessThan("d", java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19030)))))
    assert(SnapshotFiles.pruned(o, onDate).size <= 4,
      s"planned ${SnapshotFiles.pruned(o, onDate).size}")
    // result identity under the same box
    def ids(skip: Boolean) = spark.read.format("reftable")
      .option("path", root).option("schema", "d DATE, k INT, id BIGINT")
      .option("statsPruning", skip.toString).load()
      .filter(col("d") >= "2022-01-13" && col("k") < 10)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(skip = true) == ids(skip = false))
  }

  test("streaming reads prune generations with the manifest and return exact results") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("streamskip")
    VersionedTable.publish(corpus(), root, layout = Layout.Clustered(Seq("id"))(files = 6))
    val ck = Files.createTempDirectory("graft_streamskip_ck").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("reftable")
      .option("path", root).option("schema", "id BIGINT, b INT, v DOUBLE")
      .option("refreshInterval", "1h").load()
      .filter(col("id") >= 100L && col("id") < 150L)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= batch.select("id").collect().map(_.getLong(0)) }; ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    q.stop()
    assert(got.sorted.toSeq == (100L until 150L))
  }

  test("admission control slices the PRUNED listing of a z-ordered stream, not the raw one") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // mirror of the q93/q100 shape: a 2-D box filter over a z-ordered
    // version, streamed with maxFilesPerTrigger=1. Spark never pushes
    // Catalyst filters into streaming DSv2 scans, so the predicate is
    // DECLARED via the `filter` option; pinning then prunes first
    // (filesOf -> SnapshotFiles.pruned), and the generation must drain in
    // exactly `pruned` single-file batches — at 100 TB that is the
    // difference between chunking over O(matching) and O(all) files.
    val grid = (0 until 65536).map(i => (i % 256, i / 256, i.toLong)).toDF("x", "y", "id")
    val root = tmpDir("zstream")
    VersionedTable.publish(grid, root, layout = Layout.ZOrdered(Seq("x", "y"))(files = 16))
    val ddl = "x INT, y INT, id BIGINT"
    val box = Seq(
      And(GreaterThanOrEqual("x", 10), LessThan("x", 20)),
      And(GreaterThanOrEqual("y", 10), LessThan("y", 20)))
    val pruned = SnapshotFiles.pruned(opts("path" -> root, "schema" -> ddl), box).size
    assert(pruned < 16, s"box filter must prune, planned $pruned of 16")
    val ck = Files.createTempDirectory("graft_zstream_ck").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("reftable")
      .option("path", root).option("schema", ddl)
      .option("refreshInterval", "1h")
      .option("filter", "x >= 10 AND x < 20 AND y >= 10 AND y < 20")
      .option("maxFilesPerTrigger", "1").load()
      .filter(col("x") >= 10 && col("x") < 20 && col("y") >= 10 && col("y") < 20)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet()
        got.synchronized { got ++= batch.select("id").collect().map(_.getLong(0)) }; ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    // exact rows (pruning + residual filter), in one batch per PRUNED file
    assert(got.sorted.toSeq ==
      (0 until 65536).filter(i => i % 256 >= 10 && i % 256 < 20 && i / 256 >= 10 && i / 256 < 20)
        .map(_.toLong).sorted)
    assert(batches.get == pruned,
      s"expected $pruned single-file batches over the pruned listing, got ${batches.get}")
  }

  test("categorical value sets prune string predicates exactly") {
    import spark.implicits._
    val root = tmpDir("cat")
    // 5 segments, clustered by segment → ~1 value per file; seg is null
    // for a slice of rows
    val df = (0 until 1000).map { i =>
      val seg = if (i % 97 == 0) null else s"seg${i % 5}"
      (i.toLong, seg, s"payload$i")
    }.toDF("id", "seg", "payload")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("seg"))(files = 5))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    RefTableStats.augmentCategorical(spark, resolved, Seq("seg"))
    val o = opts("path" -> root, "schema" -> "id BIGINT, seg STRING, payload STRING")
    val all = SnapshotFiles.pruned(o, Nil).size
    def planned(fs: Filter*) = SnapshotFiles.pruned(o, fs.toSeq).size
    assert(planned(EqualTo("seg", "seg3")) < all)
    assert(planned(In("seg", Array[Any]("seg0", "seg4"))) < all)
    assert(planned(StringStartsWith("seg", "seg1")) < all)
    assert(planned(EqualTo("seg", "nonexistent")) == 0)
    // a high-cardinality column never gets a VALUE SET: an in-range probe
    // keeps every file (no set, no bloom — only the round-17 truncated
    // bounds, which cannot exclude a value inside [min, max])
    RefTableStats.augmentCategorical(spark, resolved, Seq("payload"), maxDistinct = 16)
    assert(planned(EqualTo("payload", "payload501")) == all)
    // ...but a probe OUTSIDE every file's range now prunes via the
    // truncated string bounds (round 17) even without a set
    assert(planned(EqualTo("payload", "nope")) == 0)
    // and results are identical with skipping on and off, nulls included
    def rows(skip: Boolean, cond: org.apache.spark.sql.Column) = spark.read
      .format("reftable").option("path", root)
      .option("schema", "id BIGINT, seg STRING, payload STRING")
      .option("statsPruning", skip.toString).load()
      .filter(cond).select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (cond <- Seq(col("seg") === "seg2", col("seg").isNull,
        !(col("seg") === "seg2"), col("seg").startsWith("seg4"))) {
      assert(rows(skip = true, cond) == rows(skip = false, cond), s"cond $cond")
    }
  }

  test("bloom filters prune point lookups on high-cardinality columns, never falsely") {
    import spark.implicits._
    val root = tmpDir("bloom")
    // high-cardinality string token + long key, clustered by id so each
    // file holds a contiguous, distinct slice of both
    val df = (0 until 4000).map { i =>
      val tok = if (i % 131 == 0) null else s"tok_${i}_x"
      (i.toLong, tok)
    }.toDF("id", "tok")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 8))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    RefTableStats.augmentBloom(spark, resolved, Seq("id", "tok"), expectedItems = 1000)
    val o = opts("path" -> root, "schema" -> "id BIGINT, tok STRING")
    val all = SnapshotFiles.pruned(o, Nil).size
    assert(all == 8)
    def planned(fs: Filter*) = SnapshotFiles.pruned(o, fs.toSeq).size

    // an absent string value: every file's filter proves absence
    assert(planned(EqualTo("tok", "never_written")) == 0)
    // a present string value: exactly its file survives (± fpp on 7 others)
    assert(planned(EqualTo("tok", "tok_1234_x")) <= 2)
    // IN over absent values only
    assert(planned(In("tok", Array[Any]("nope1", "nope2"))) == 0)
    // long key point lookups prune too (bloom agrees with the range here)
    assert(planned(EqualTo("id", 123456L)) == 0)
    assert(planned(EqualNullSafe("tok", "never_written")) == 0)
    // a null literal never consults the bloom — the range algebra already
    // proves `= NULL` can never be TRUE, so every file is (correctly) skipped
    assert(planned(EqualTo("tok", null)) == 0)

    // never a false skip: every present value's file is always planned
    val rnd = new scala.util.Random(11)
    (0 until 50).foreach { _ =>
      val i = rnd.nextInt(4000)
      if (i % 131 != 0) {
        val kept = SnapshotFiles.pruned(o, Seq(EqualTo("tok", s"tok_${i}_x")))
        val hit = spark.read.parquet(kept.map(_.path): _*)
          .filter(col("tok") === s"tok_${i}_x").count()
        assert(hit == 1L, s"value tok_${i}_x lost by pruning")
      }
    }
    // results identical with skipping on and off, null semantics included
    def rows(skip: Boolean, cond: org.apache.spark.sql.Column) = spark.read
      .format("reftable").option("path", root)
      .option("schema", "id BIGINT, tok STRING")
      .option("statsPruning", skip.toString).load()
      .filter(cond).select("id").collect().map(_.getLong(0)).sorted.toSeq
    for (cond <- Seq(col("tok") === "tok_777_x", col("tok") === "never",
        !(col("tok") === "tok_777_x"), col("tok").isNull, col("id") === 399L)) {
      assert(rows(skip = true, cond) == rows(skip = false, cond), s"cond $cond")
    }
  }

  test("bloom filters work through the sharded manifest, distributed") {
    import spark.implicits._
    val root = tmpDir("bloomshard")
    val df = (0 until 2000).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 6))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    // force the sharded format, then bloom through the distributed splice
    RefTableStats.writeManifest(resolved, conf, shardThreshold = 0)
    RefTableStats.augmentBloom(spark, resolved, Seq("k"), expectedItems = 500)
    val o = opts("path" -> root, "schema" -> "id BIGINT, k STRING")
    assert(SnapshotFiles.pruned(o, Seq(EqualTo("k", "absent"))).isEmpty,
      "sharded bloom pruning must prove absence")
    val kept = SnapshotFiles.pruned(o, Seq(EqualTo("k", "k500")))
    assert(kept.size <= 2, s"present value keeps ~1 file, got ${kept.size}")
    assert(spark.read.parquet(kept.map(_.path): _*)
      .filter(col("k") === "k500").count() == 1L)
  }

  test("random trees over categorical + date columns: skipping never changes results") {
    import spark.implicits._
    val root = tmpDir("catequiv")
    val df = (0 until 1200).map { i =>
      val seg = if (i % 31 == 0) null else s"s${i % 6}"
      val d = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i % 120))
      (i.toLong, seg, d)
    }.toDF("id", "seg", "d")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("seg", "d"))(files = 6))
    val resolved = SnapshotFiles.resolveDir(root, None, conf)
    RefTableStats.augmentCategorical(spark, resolved, Seq("seg"))
    val baseline = spark.read.parquet(resolved)
    val src = spark.read.format("reftable")
      .option("path", root).option("schema", "id BIGINT, seg STRING, d DATE").load()

    def leaf(rnd: Random): Column = rnd.nextInt(9) match {
      case 0 => col("seg") === s"s${rnd.nextInt(8)}"
      case 1 => col("seg").isin(s"s${rnd.nextInt(8)}", s"s${rnd.nextInt(8)}")
      case 2 => col("seg").startsWith(if (rnd.nextBoolean()) "s" else "s1")
      case 3 => col("seg").isNull
      case 4 => col("seg").isNotNull
      case 5 => col("seg") > s"s${rnd.nextInt(8)}"
      case 6 => col("d") >= java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(18990 + rnd.nextInt(150)))
      case 7 => col("d") < java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(18990 + rnd.nextInt(150)))
      case 8 => col("id") < rnd.nextInt(1500).toLong
    }
    def tree(rnd: Random, depth: Int): Column =
      if (depth <= 0) leaf(rnd)
      else rnd.nextInt(8) match {
        case 0 | 1 | 2 => leaf(rnd)
        case 3 | 4 => tree(rnd, depth - 1) && tree(rnd, depth - 1)
        case 5 | 6 => tree(rnd, depth - 1) || tree(rnd, depth - 1)
        case 7 => !tree(rnd, depth - 1)
      }
    val rnd = new Random(20260813)
    (1 to 25).foreach { i =>
      val p = tree(rnd, 3)
      val want = baseline.filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      val got = src.filter(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"tree $i ($p): skipping changed the result")
    }
  }

  test("metadata-only profile equals the scanning profile on statable columns") {
    import spark.implicits._
    val root = tmpDir("statsprof")
    val df = (0 until 400).map { i =>
      (i.toLong, if (i % 5 == 0) null else Int.box(i % 17), i * 0.25 - 3.0)
    }.toDF("id", "k", "v")
    VersionedTable.publish(df, root, layout = Layout.Clustered(Seq("id"))(files = 3))
    val fromStats = graft.operators.Profiling.profileFromStats(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).sortBy(_._1).toSeq
    val scanned = graft.operators.Profiling.profile(df, Seq("id", "k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(4), r.getString(5))).sortBy(_._1).toSeq
    assert(fromStats == scanned)

    // schema evolution: a column absent from one file reports unknown nulls
    val dir = tmpDir("statsprof_evo")
    Seq((1L, 5)).toDF("id", "extra").coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(Tuple1(2L)).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    RefTableStats.writeManifest(dir, conf)
    val evo = graft.operators.Profiling.profileFromStats(spark, dir)
      .collect().map(r => (r.getString(0), r.isNullAt(2))).toMap
    assert(evo("id") == false && evo("extra") == true)
  }

  test("every publish carries a manifest; compaction re-derives it") {
    import spark.implicits._
    val root = tmpDir("publish")
    VersionedTable.publish((1 to 100).map(i => (i.toLong, i * 2.0d)).toDF("id", "v"), root)
    val v1 = SnapshotFiles.resolveDir(root, None, conf)
    assert(RefTableStats.load(v1, conf).nonEmpty)
    VersionedTable.compact(spark, root, targetFileBytes = 1L << 20)
    val v2 = SnapshotFiles.resolveDir(root, None, conf)
    assert(v2 != v1 && RefTableStats.load(v2, conf).nonEmpty)
  }
}
