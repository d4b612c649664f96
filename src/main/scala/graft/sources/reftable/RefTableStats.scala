package graft.sources.reftable

import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-file column statistics: a `_STATS.json` manifest written at publish
  * time, consumed at listing time to skip whole files.
  *
  * Parquet already skips row groups executor-side from footer statistics,
  * but by then every surviving file has cost a scheduled task and a footer
  * read. At 100k-file scale the win is pruning the task list on the driver:
  * one small manifest read replaces 100k footer opens, and files whose
  * [min,max] cannot satisfy the pushed filters never become tasks at all —
  * the Delta/Iceberg data-skipping pattern on plain storage. Combined with
  * a [[Layout.Clustered]] publish (range-clustered layout → tight,
  * disjoint per-file bounds) a selective range filter plans O(matching)
  * tasks instead of O(files).
  *
  * Pruning reuses [[RefTablePartitioning]]'s possible-outcome algebra with
  * range leaves: for each file the evaluator computes which SQL outcomes
  * (TRUE/FALSE/NULL) a predicate can take over rows bounded by the file's
  * [min,max] and null count, and keeps the file iff TRUE is possible. Leaves
  * over partition columns delegate to the exact directory-value evaluation,
  * so one pass handles predicates mixing partition and data columns.
  * Anything undecidable is Unknown = kept; a manifest entry whose recorded
  * length disagrees with the listed file (replaced in place) is ignored for
  * that file; a missing or unreadable manifest disables skipping entirely —
  * the layer can only ever remove provably-non-matching files.
  *
  * Types whose footer statistics are exact and losslessly ordered
  * participate directly: int/long/short/byte, float/double, boolean,
  * date, and timestamp stored as INT64 micros/nanos (exact integers; the
  * rebase caveat applies only to INT96/legacy files). UTF8 STRINGS
  * participate with TRUNCATED bounds (round 17): the manifest stores
  * Iceberg-style truncate-16 enclosing bounds — min's 16-code-point
  * prefix, max's prefix with the last code point incremented — which is
  * sound because the evaluator needs enclosure, not exactness (footer
  * binary bounds are themselves enclosing: the format requires truncating
  * writers to round max up, and parquet-mr drops ambiguous legacy binary
  * stats at read time). That closes range and prefix (`LIKE 'p%'`)
  * skipping over high-cardinality string keys (URLs, domains), which
  * Bloom filters (point-only) and categorical sets (≤ maxDistinct) never
  * covered. Decimals remain excluded (representation subtleties) —
  * filters over those columns simply don't skip. Float/double bounds are
  * sanitized
  * at write time: a NaN bound drops the column (parquet-mr's Double.compare
  * ordering lets NaN reach max, and SQL NaN-ordering would make pruning on
  * it wrong) and zero bounds are widened to [-0.0, +0.0] (SQL treats them
  * equal; the file must not be skipped for the other zero).
  */
object RefTableStats {

  val ManifestName = "_STATS.json"

  /** Sharded manifest: a `_STATS/` parquet directory with one row per data
    * file, written instead of the single JSON document when the version has
    * more files than [[ShardThreshold]]. A million-file version makes a
    * single JSON manifest a hundreds-of-MB driver parse per query; parquet
    * shards are read, filtered and evaluated as a distributed job, and the
    * driver materializes only the surviving file list (see
    * [[pruneSharded]]). Row schema: path STRING (relative), len BIGINT,
    * rows BIGINT, cols STRING (the per-column stats as JSON — the same
    * shape as the JSON manifest's `cols` object, so both formats share one
    * parser and one evaluator).
    */
  val ShardDirName = "_STATS"

  /** Above this file count a publish writes the sharded parquet manifest
    * (and reads footers as a distributed job) instead of the driver-side
    * JSON document.
    */
  val ShardThreshold = 4096

  /** Min/max stay as parsed JSON scalars; the declared Spark type of the
    * filtered column directs interpretation at evaluation time. `vals` is
    * the exact distinct non-null value set of a categorical STRING column
    * (added by [[augmentCategorical]]) — when present, predicates evaluate
    * over the finite set instead of a range, which is exact where string
    * min/max bounds cannot be trusted (writers truncate them). `bloom` is
    * a per-file Bloom filter over the column's non-null values (added by
    * [[augmentBloom]]): point lookups (`=`, `IN`, null-safe `=`) skip
    * files whose filter proves the value absent — the skipping story for
    * HIGH-cardinality columns, where a value set would be unbounded and
    * min/max are either untrusted (strings) or useless (uniformly spread
    * keys). One-sided by construction: `mightContain=false` is proof,
    * `true` proves nothing, so a false positive only costs a kept file.
    */
  final case class ColStats(
      min: Option[JsonNode], max: Option[JsonNode], nulls: Long,
      vals: Option[Seq[String]] = None,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      hll: Option[Array[Byte]] = None,
      kll: Option[Array[Byte]] = None)
  final case class FileStats(length: Long, rows: Long, cols: Map[String, ColStats])

  // ---- manifest write ------------------------------------------------------

  /** Write a statistics manifest covering every `*.parquet` under `dir`
    * (recursing through Hive `col=value` subdirectories). Keys are paths
    * relative to `dir`, so the manifest survives the versioned-publish
    * staging rename.
    *
    * Up to `shardThreshold` files this is the single `_STATS.json`
    * document, built with bounded-parallel driver-side footer reads — at
    * publish-file counts that is one cheap pass. Beyond the threshold
    * (and when a SparkSession is active) both the footer reads and the
    * manifest itself go distributed: a Spark job reads footers
    * executor-side and writes the `_STATS/` parquet shards, so a
    * million-file publish never funnels a million footers — or a
    * hundreds-of-MB JSON document — through the driver.
    */
  def writeManifest(
      dir: String, conf: Configuration = HadoopConf(),
      shardThreshold: Int = ShardThreshold): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val qualified = fs.makeQualified(base).toString
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toIndexedSeq.flatMap { s =>
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet")) Seq(s)
      else if (s.isDirectory && !name.startsWith("_") && !name.startsWith(".")) walk(s.getPath)
      else Nil
    }
    val files = walk(base)
    val spark = org.apache.spark.sql.SparkSession.getActiveSession
    if (files.size > shardThreshold && spark.isDefined) {
      writeManifestSharded(spark.get, dir, files, conf)
      return
    }
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(8, files.size)))
    val entries = try {
      files.map { st =>
        pool.submit(new Callable[(String, Long, Long, Map[String, (Any, Any, Long)])] {
          override def call() = {
            val full = st.getPath.toString
            val rel = if (full.startsWith(qualified + "/")) full.substring(qualified.length + 1) else full
            val (rows, cols) = fileColumnStats(st.getPath, conf)
            (rel, st.getLen, rows, cols)
          }
        })
      }.map(_.get())
    } finally pool.shutdown()

    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", 1)
    val filesNode = root.putObject("files")
    entries.foreach { case (rel, len, rows, cols) =>
      val f = filesNode.putObject(rel)
      f.put("len", len)
      f.put("rows", rows)
      f.set("cols", colsNode(mapper, cols))
      ()
    }
    LocalFs.createWrite(fs, new Path(base, ManifestName), mapper.writeValueAsBytes(root))
  }

  private def colsNode(
      mapper: ObjectMapper,
      cols: Map[String, (Any, Any, Long)]): com.fasterxml.jackson.databind.node.ObjectNode = {
    val cn = mapper.createObjectNode()
    cols.foreach { case (c, (mn, mx, nulls)) =>
      val o = cn.putObject(c)
      putScalar(o, "min", mn)
      putScalar(o, "max", mx)
      o.put("nulls", nulls)
    }
    cn
  }

  /** The distributed manifest write: footer reads happen executor-side
    * (one Spark task per ~[[ShardFilesPerTask]] files), results land as
    * parquet shards under `dir/_STATS`. Driver cost is the listing it
    * already holds plus the write job — independent of per-file stats
    * volume.
    */
  private val ShardFilesPerTask = 1024

  private[reftable] def writeManifestSharded(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      files: Seq[FileStatus], conf: Configuration): Unit = {
    import spark.implicits._
    val base = new Path(dir)
    val qualified = base.getFileSystem(conf).makeQualified(base).toString
    val paths: Seq[(String, Long)] = files.map { st =>
      val full = st.getPath.toString
      val rel = if (full.startsWith(qualified + "/")) full.substring(qualified.length + 1) else full
      (rel, st.getLen)
    }
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(conf))
    val tasks = math.max(1, (paths.size + ShardFilesPerTask - 1) / ShardFilesPerTask)
    val rows = spark.createDataset(paths)
      .repartition(tasks)
      .mapPartitions { it =>
        val c = confB.value.value
        val mapper = new ObjectMapper()
        it.map { case (rel, len) =>
          val (nRows, cols) = fileColumnStats(new Path(qualified, rel), c)
          (rel, len, nRows, mapper.writeValueAsString(colsNode(mapper, cols)))
        }
      }
      .toDF("path", "len", "rows", "cols")
    rows.write.mode("overwrite").parquet(new Path(base, ShardDirName).toString)
  }

  private def putScalar(o: com.fasterxml.jackson.databind.node.ObjectNode, k: String, v: Any): Unit =
    v match {
      case null => ()
      case b: java.lang.Boolean => o.put(k, b.booleanValue())
      case f: java.lang.Float   => o.put(k, f.doubleValue())
      case d: java.lang.Double  => o.put(k, d.doubleValue())
      case s: String            => o.put(k, s)
      case n: Number            => o.put(k, n.longValue())
      case other => throw new IllegalStateException(s"reftable stats: unexpected bound $other")
    }

  /** True when this parquet column's footer min/max are exact and ordered
    * the way the matching Spark type compares: plain signed ints, date
    * (INT32 epoch days), timestamp (INT64 micros or nanos — exact integers,
    * losslessly ordered; the rebase caveat only applies to INT96/legacy
    * files, which this writer never produces), float/double, boolean.
    * Everything else is skipped. TIMESTAMP(MILLIS) is excluded so the
    * manifest never stores a bound in a unit the evaluator would have to
    * rescale.
    */
  private def statable(pt: PrimitiveType): Boolean = {
    import PrimitiveType.PrimitiveTypeName._
    val logical = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case BOOLEAN | FLOAT | DOUBLE => logical == null
      case INT32 | INT64 => logical match {
        case null => true
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
      // UTF8 strings participate with TRUNCATED bounds (Iceberg's
      // truncate(16) shape, see truncatedStringBounds): footer min/max for
      // BINARY are trustworthy ENCLOSING bounds — the format requires a
      // truncating writer to round max_value up, parquet-mr's reader drops
      // ambiguous legacy binary stats — and the evaluator only needs
      // enclosure, not exactness (a widened bracket can only over-claim
      // possibility, which keeps a file, never skips one wrongly)
      case BINARY => logical match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
        case _ => false
      }
      case _ => false
    }
  }

  /** Code-point length cap for stored string bounds. 16 matches Iceberg's
    * default `write.metadata.metrics` truncation: long URL/domain keys — the
    * common high-cardinality LLM-corpus keys — prune on their leading
    * characters without the manifest carrying megabyte values.
    */
  private[graft] val StringBoundCp = 16

  /** [lo, hi] enclosing bounds from a file's exact string (min, max):
    * `lo` = the first [[StringBoundCp]] code points of min (a prefix is
    * ≤ the original in UTF-8 byte order), `hi` = max itself when short
    * enough, else its truncated prefix with the last code point
    * incremented (the next string ABOVE everything sharing the prefix —
    * skipping the surrogate gap, which UTF-8 cannot encode). None when no
    * code point of the prefix can increment (all U+10FFFF — practically
    * unreachable): a one-sided bound has no manifest slot, so the column
    * simply keeps no entry and never skips.
    */
  private[graft] def truncatedStringBounds(mn: String, mx: String): Option[(String, String)] = {
    def truncCp(s: String): String = {
      var i = 0
      var cps = 0
      while (i < s.length && cps < StringBoundCp) {
        i += Character.charCount(s.codePointAt(i)); cps += 1
      }
      s.substring(0, i)
    }
    val lo = truncCp(mn)
    val hiTrunc = truncCp(mx)
    val hi = if (hiTrunc.length == mx.length) Some(mx) else incrementLastCp(hiTrunc)
    hi.map(h => (lo, h))
  }

  /** The next string after every string prefixed by `s`: increment the
    * last incrementable code point, drop everything after it. None when
    * nothing can increment.
    */
  private[graft] def incrementLastCp(s: String): Option[String] = {
    var i = s.length
    while (i > 0) {
      val cp = s.codePointBefore(i)
      val start = i - Character.charCount(cp)
      if (cp < 0x10FFFF) {
        var next = cp + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000 // unencodable gap
        return Some(s.substring(0, start) + new String(Character.toChars(next)))
      }
      i = start
    }
    None
  }

  /** (rowCount, column → (min, max, nulls)) from one file's footer. A
    * column is omitted when any row group lacks usable statistics — unlike
    * aggregate pushdown this is a pure optimization, so silent omission is
    * the correct degradation (the file is simply never skipped on that
    * column). `nulls` is -1 when any row group leaves the null count unset.
    */
  private def fileColumnStats(path: Path, conf: Configuration): (Long, Map[String, (Any, Any, Long)]) = {
    val reader = HadoopConf.openParquet(path, conf)
    try {
      val md = reader.getFooter
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val fields = md.getFileMetaData.getSchema.getFields.asScala
        .filter(f => f.isPrimitive && statable(f.asPrimitiveType))
      val cols = fields.flatMap { field =>
        val name = field.getName
        val chunks = blocks.map(b =>
          (b.getRowCount, b.getColumns.asScala.find(_.getPath.toDotString == name)))
        if (chunks.exists(_._2.isEmpty)) None
        else {
          val stats = chunks.map { case (r, c) => (r, c.get.getStatistics) }
          if (stats.exists { case (r, s) =>
            s == null || (!s.hasNonNullValue && r > 0 && !(s.isNumNullsSet && s.getNumNulls == r))
          }) None // some chunk's bounds are simply unrecorded — unusable
          else {
            val bounds = stats.collect { case (_, s) if s.hasNonNullValue =>
              (s.genericGetMin(), s.genericGetMax())
            }
            val nulls =
              if (stats.forall(_._2.isNumNullsSet)) stats.map(_._2.getNumNulls).sum else -1L
            if (bounds.isEmpty) Some(name -> (null, null, nulls)) // all-null column
            else if (bounds.head._1.isInstanceOf[org.apache.parquet.io.api.Binary]) {
              // strings: pick min/max across row groups in UTF-8 byte
              // order (JVM String order diverges on supplementary chars),
              // then store the truncated enclosing bounds
              def u(v: Any) = org.apache.spark.unsafe.types.UTF8String
                .fromBytes(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              val mn = bounds.map(_._1).minBy(u).asInstanceOf[org.apache.parquet.io.api.Binary]
              val mx = bounds.map(_._2).maxBy(u).asInstanceOf[org.apache.parquet.io.api.Binary]
              truncatedStringBounds(mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                .map { case (lo, hi) => name -> ((lo: Any, hi: Any, nulls)) }
            } else {
              val mn = bounds.map(_._1).minBy(comparableKey)
              val mx = bounds.map(_._2).maxBy(comparableKey)
              sanitize(mn, mx).map { case (lo, hi) => name -> (lo, hi, nulls) }
            }
          }
        }
      }
      (rows, cols.toMap)
    } finally reader.close()
  }

  private def comparableKey(v: Any): Comparable[Any] = v.asInstanceOf[Comparable[Any]]

  /** Epoch micros of an instant; getEpochSecond floors and getNano is
    * always non-negative, so pre-1970 values stay exact.
    */
  private def instantMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** NaN bounds drop the column; zero bounds widen to [-0.0, +0.0]. */
  private def sanitize(mn: Any, mx: Any): Option[(Any, Any)] = (mn, mx) match {
    case (a: java.lang.Float, b: java.lang.Float) =>
      sanitizeFp(a.doubleValue(), b.doubleValue())
    case (a: java.lang.Double, b: java.lang.Double) =>
      sanitizeFp(a.doubleValue(), b.doubleValue())
    case other => Some(other)
  }

  private def sanitizeFp(lo: Double, hi: Double): Option[(Any, Any)] =
    if (lo.isNaN || hi.isNaN) None
    else Some((
      java.lang.Double.valueOf(if (lo == 0.0d) -0.0d else lo),
      java.lang.Double.valueOf(if (hi == 0.0d) 0.0d else hi)))

  /** Augment a snapshot's manifest with exact per-file distinct-value sets
    * for categorical STRING columns — the skipping story for the columns
    * min/max cannot cover (string footer bounds are truncatable). Two
    * passes over the published data, both narrow and both distributed: an
    * approx-distinct gate per (file, column) first, so `collect_set` only
    * ever runs where the set is provably small (a miscalled "categorical"
    * column costs the gate pass, not an executor OOM), then the exact sets
    * via a semi-join against the qualifying files — never an
    * `isin(files…)` literal, which would explode the plan at manifest
    * scale, and never a per-file driver collect beyond the value sets that
    * are themselves the manifest payload. Files whose set exceeds
    * `maxDistinct` keep no entry (→ never skipped on that column). Call
    * after publish on layouts clustered by the categorical column — an
    * unclustered layout has every value in every file and prunes nothing.
    * Null counts ride along (exact, from count(*) − count(col)).
    *
    * The rewrite is atomic for the JSON manifest (tmp file + OVERWRITE
    * rename, the [[VersionedTable]] pointer-swap pattern). The sharded
    * format swaps directories with two renames; the manifest is briefly
    * absent between them, which the fail-open reader tolerates (skipping
    * disables for that blink, results stay correct).
    */
  def augmentCategorical(
      spark: org.apache.spark.sql.SparkSession, dir: String, cols: Seq[String],
      maxDistinct: Int = 64, conf: Configuration = HadoopConf()): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "augmentCategorical needs at least one column")
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val qualified = fs.makeQualified(base).toString
    // content files only; partition-encoded columns never live in files
    val df = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    cols.foreach(c => require(df.columns.contains(c),
      s"categorical column '$c' not present in $dir"))
    val keyed = df.select(
      (input_file_name().as("__f") +: cols.map(c => col(c).cast("string").as(c))): _*)
    val gate = keyed.groupBy("__f")
      .agg(count(lit(1)).as("__rows"),
        cols.flatMap(c => Seq(
          approx_count_distinct(col(c), 0.05).as(s"__ad_$c"),
          (count(lit(1)) - count(col(c))).as(s"__nulls_$c"))): _*)
    def relOf0(abs: String): String = {
      val norm = new Path(abs).toString
      if (norm.startsWith(qualified + "/")) norm.substring(qualified.length + 1) else norm
    }
    // (rel file, column) -> (sorted distinct values, null count); one
    // collected row per QUALIFYING file — exactly the payload that will be
    // written into the manifest, nothing per-file beyond it
    val updates: Map[(String, String), (Seq[String], Long)] = cols.flatMap { c =>
      val qual = gate
        .filter(col(s"__ad_$c") <= maxDistinct * 2L) // 5%-rsd gate over-admits; exact check below
        .select(col("__f"), col(s"__nulls_$c").as("__nulls"))
      keyed.select(col("__f"), col(c))
        .join(qual.select("__f"), Seq("__f"), "left_semi")
        .groupBy("__f").agg(collect_set(col(c)).as("__vals"))
        .join(qual, Seq("__f"))
        .filter(size(col("__vals")) <= maxDistinct)
        .select(col("__f"), col("__vals"), col("__nulls"))
        .collect()
        .map(r => (relOf0(r.getString(0)), c) ->
          (r.getAs[scala.collection.Seq[String]]("__vals").toSeq.sorted, r.getAs[Long]("__nulls")))
    }.toMap

    splice(spark, fs, base, updates.map { case (k, (vals, nulls)) =>
      k -> (((cn: com.fasterxml.jackson.databind.node.ObjectNode) =>
        attach(cn, k._2, vals, nulls)): ColPatch)
    })
  }

  /** A serializable patch applied to one file's `cols` object node —
    * the shared splice currency of [[augmentCategorical]] and
    * [[augmentBloom]] (the sharded rewrite ships patches to executors).
    */
  private type ColPatch = com.fasterxml.jackson.databind.node.ObjectNode => Unit

  /** Attach `vals`/`nulls` updates to one file's `cols` object node. */
  private def attach(
      colsNode: com.fasterxml.jackson.databind.node.ObjectNode,
      c: String, vals: Seq[String], nulls: Long): Unit = {
    val cn = colChild(colsNode, c)
    val arr = cn.putArray("vals")
    vals.foreach(arr.add)
    cn.put("nulls", nulls)
    ()
  }

  private def colChild(
      colsNode: com.fasterxml.jackson.databind.node.ObjectNode,
      c: String): com.fasterxml.jackson.databind.node.ObjectNode =
    Option(colsNode.get(c)).collect {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
    }.getOrElse(colsNode.putObject(c))

  /** Apply per-(file, column) patches to whichever manifest format the
    * version carries, atomically (tmp + OVERWRITE rename for JSON; staged
    * dir swap for shards, with the fail-open blink documented on
    * [[augmentCategorical]]).
    */
  private def splice(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: Path,
      updates: Map[(String, String), ColPatch]): Unit = {
    if (fs.exists(new Path(base, ManifestName)))
      spliceJson(fs, base, updates)
    else if (fs.exists(new Path(base, ShardDirName)))
      spliceSharded(spark, fs, base, updates)
    else throw new IllegalStateException(
      s"manifest augmentation: no $ManifestName or $ShardDirName in $base — " +
        "regenerate the manifest first")
    manifestCache.clear() // the manifest changed under any cached key's mtime granularity
  }

  private def spliceJson(
      fs: org.apache.hadoop.fs.FileSystem, base: Path,
      updates: Map[(String, String), ColPatch]): Unit = {
    val mf = new Path(base, ManifestName)
    val in = fs.open(mf)
    val root = try new ObjectMapper().readTree(in)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    finally in.close()
    val filesNode = root.path("files").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    updates.foreach { case ((rel, _), patch) =>
      val fileNode = Option(filesNode.get(rel)).collect {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      }.getOrElse(throw new IllegalStateException(
        s"manifest augmentation: $rel not in $ManifestName — regenerate the manifest first"))
      patch(fileNode.path("cols")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    }
    // atomic replace via the store's commit primitive (tmp + OVERWRITE
    // rename, or whole-object PUT): a version dir is published (readers
    // may hold it), so the manifest must never be observable half-written
    CommitPrimitive.forPath(mf, fs.getConf)
      .overwrite(mf, new ObjectMapper().writeValueAsBytes(root), fs.getConf)
  }

  private def spliceSharded(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: Path,
      updates: Map[(String, String), ColPatch]): Unit = {
    import spark.implicits._
    val sd = new Path(base, ShardDirName)
    // rel -> patches; bounded by the qualifying files
    val byFile: Map[String, Seq[ColPatch]] =
      updates.toSeq.groupBy(_._1._1).map { case (rel, kvs) => rel -> kvs.map(_._2) }
    val byFileB = spark.sparkContext.broadcast(byFile)
    val merged = spark.read.parquet(shardFiles(sd, fs): _*)
      .select("path", "len", "rows", "cols").as[(String, Long, Long, String)]
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        val ups = byFileB.value
        it.map { case (rel, len, rows, colsJson) =>
          ups.get(rel) match {
            case None => (rel, len, rows, colsJson)
            case Some(patches) =>
              val cn = mapper.readTree(colsJson)
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
              patches.foreach(_(cn))
              (rel, len, rows, mapper.writeValueAsString(cn))
          }
        }
      }.toDF("path", "len", "rows", "cols")
    val tmp = new Path(base, s".${ShardDirName}.tmp${System.nanoTime()}")
    merged.write.parquet(tmp.toString)
    // two renames; the reader fails open during the gap
    val trash = new Path(base, s".${ShardDirName}.old${System.nanoTime()}")
    if (!fs.rename(sd, trash))
      throw new java.io.IOException(s"manifest augmentation: could not stage out $sd")
    if (!fs.rename(tmp, sd)) {
      fs.rename(trash, sd) // restore the original manifest
      throw new java.io.IOException(s"manifest augmentation: could not publish $tmp as $sd")
    }
    fs.delete(trash, true)
    ()
  }

  /** Augment a snapshot's manifest with per-file Bloom filters over
    * `cols` — point-lookup skipping for HIGH-cardinality columns, the
    * regime value sets refuse (`maxDistinct` caps them) and min/max can't
    * serve (strings are untrusted; uniformly-spread keys give useless
    * bounds). Integral and string columns only — the types point lookups
    * actually target; the filter hashes longs for integrals and UTF-8
    * bytes for strings, and the evaluator branches identically by the
    * declared type, so writer and reader can never disagree.
    *
    * One distributed pass: values group by file (the same single shuffle
    * the categorical pass pays), each group folds into a
    * `BloomFilter.create(expectedItems, fpp)` sized by the caller to the
    * layout's rows-per-file; exact null counts ride along. The driver
    * materializes one filter per (file, column) — the manifest payload
    * itself (~`1.2 * expectedItems * ln(1/fpp)` bits each; the 100k/3%
    * default is ~90 KB). Atomic rewrite, either manifest format, same as
    * [[augmentCategorical]].
    */
  def augmentBloom(
      spark: org.apache.spark.sql.SparkSession, dir: String, cols: Seq[String],
      expectedItems: Long = 100000L, fpp: Double = 0.03,
      conf: Configuration = HadoopConf()): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    require(cols.nonEmpty, "augmentBloom needs at least one column")
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val qualified = fs.makeQualified(base).toString
    val df = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach { c =>
      val dt = types.getOrElse(c,
        throw new IllegalArgumentException(s"bloom column '$c' not present in $dir"))
      dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"bloom column '$c' must be integral or string (point-lookup types), " +
            s"got ${other.simpleString}")
      }
    }
    def relOf0(abs: String): String = {
      val norm = new Path(abs).toString
      if (norm.startsWith(qualified + "/")) norm.substring(qualified.length + 1) else norm
    }
    val n = expectedItems
    val p = fpp
    def encode(bf: org.apache.spark.util.sketch.BloomFilter): String = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    val updates: Map[(String, String), ColPatch] = cols.flatMap { c =>
      val perFile: Array[(String, String, Long)] =
        if (types(c) == StringType)
          df.select(input_file_name().as("_1"), col(c).cast("string").as("_2"))
            .as[(String, String)].groupByKey(_._1).mapGroups { (file, it) =>
              val bf = org.apache.spark.util.sketch.BloomFilter.create(n, p)
              var nulls = 0L
              it.foreach { case (_, v) => if (v == null) nulls += 1 else bf.putString(v) }
              (file, encode(bf), nulls)
            }.collect()
        else
          df.select(input_file_name().as("_1"), col(c).cast("long").as("_2"))
            .as[(String, Option[Long])].groupByKey(_._1).mapGroups { (file, it) =>
              val bf = org.apache.spark.util.sketch.BloomFilter.create(n, p)
              var nulls = 0L
              it.foreach {
                case (_, None) => nulls += 1
                case (_, Some(v)) => bf.putLong(v)
              }
              (file, encode(bf), nulls)
            }.collect()
      perFile.map { case (f, b64, nulls) =>
        val colName = c
        (relOf0(f), c) -> (((cn: com.fasterxml.jackson.databind.node.ObjectNode) => {
          val child = colChild(cn, colName)
          child.put("bloom", b64)
          child.put("nulls", nulls)
          ()
        }): ColPatch)
      }
    }.toMap
    splice(spark, fs, base, updates)
  }

  /** Attach per-file NDV (distinct-count) HLL sketches for `cols` to the
    * stats manifest — the CBO's per-column NDV source. Sketches are
    * MERGEABLE (DataSketches HLL, lgK=12, ~1.6% RSE): the scan unions the
    * SURVIVING files' sketches at estimate time, so the reported NDV is
    * the pruned listing's, not a stale whole-table figure, and mutation
    * deltas only re-sketch the files they stage. One aggregation pass over
    * the named columns; the splice is shared with the categorical/bloom
    * passes (either manifest format, atomic rewrite).
    */
  def augmentNdv(
      spark: org.apache.spark.sql.SparkSession, dir: String, cols: Seq[String],
      conf: Configuration = HadoopConf()): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "augmentNdv needs at least one column")
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val qualified = fs.makeQualified(base).toString
    val df = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    cols.foreach(c => require(df.columns.contains(c),
      s"ndv column '$c' not present in $dir"))
    def relOf0(abs: String): String = {
      val norm = new Path(abs).toString
      if (norm.startsWith(qualified + "/")) norm.substring(qualified.length + 1) else norm
    }
    // numeric/date/timestamp ndv columns also land a mergeable KLL
    // quantile sketch (k=200, ~1.65% rank error) — the scan unions the
    // SURVIVING files' sketches into an equi-height histogram for CBO
    // range selectivity, the same pruned-listing freshness as the NDV
    // path. Sketch values use the CATALYST double representation
    // (EstimationUtils.toDouble of the internal value: micros for
    // timestamps, days for dates), so histogram bins compare against
    // FilterEstimation's literals exactly. Decimals are excluded (their
    // internal form is unscaled — a plain double cast would disagree).
    import org.apache.spark.sql.types._
    def kllInput(c: String): Option[org.apache.spark.sql.Column] = df.schema(c).dataType match {
      case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType =>
        Some(col(c))
      case TimestampType => Some(unix_micros(col(c)))
      case DateType => Some(unix_date(col(c)))
      case _ => None
    }
    val kllCols = cols.filter(c => kllInput(c).isDefined)
    // the HLL takes int/bigint/string/binary — feed timestamps/dates the
    // same micros/days integers the KLL sketches (NDV is unchanged)
    def hllInput(c: String): org.apache.spark.sql.Column = df.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case DateType => unix_date(col(c))
      case _ => col(c)
    }
    val aggCols =
      cols.map(c => hll_sketch_agg(hllInput(c), lit(12)).as(c)) ++
        kllCols.map(c =>
          graft.functions.KllFunctions.kllSketchAgg(kllInput(c).get).as(s"__kll_$c"))
    val sketched = df
      .select(input_file_name().as("__f") +: cols.map(col): _*)
      .groupBy("__f")
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    val updates: Map[(String, String), ColPatch] = sketched.flatMap { r =>
      val rel = relOf0(r.getString(0))
      val hllPatches = cols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(i + 1)).map { v =>
          val b64 = java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
          val colName = c
          (rel, c) -> (((cn: com.fasterxml.jackson.databind.node.ObjectNode) => {
            colChild(cn, colName).put("hll", b64)
            ()
          }): ColPatch)
        }
      }
      val kllPatches = kllCols.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(1 + cols.size + i)).map { v =>
          val b64 = java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
          val colName = c
          (rel, s"__kll:$c") -> (((cn: com.fasterxml.jackson.databind.node.ObjectNode) => {
            colChild(cn, colName).put("kll", b64)
            ()
          }): ColPatch)
        }
      }
      hllPatches ++ kllPatches
    }.toMap
    if (updates.nonEmpty) splice(spark, fs, base, updates)
  }

  /** Merge per-file KLL sketches and derive an EQUI-HEIGHT histogram:
    * `bins` buckets bounded at the merged sketch's i/bins quantiles, each
    * holding n/bins rows, per-bin NDV approximated as ndv/bins. None when
    * `sketches` is empty, any payload fails to heapify (fail open), or the
    * merged sketch saw no values.
    */
  /** A merged-sketch equi-height histogram plus the sketch's EXACT value
    * bounds (KLL tracks min/max exactly) — the bounds feed catalyst
    * ColumnStat.min/max, without which FilterEstimation never consults the
    * histogram.
    */
  final case class KllHist(
      height: Double, bins: Seq[(Double, Double, Long)], min: Double, max: Double)

  private[reftable] def kllHistogram(
      sketches: Seq[Array[Byte]], ndv: Long, bins: Int = 64): Option[KllHist] = {
    if (sketches.isEmpty) return None
    try {
      val u = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
      sketches.foreach(b => u.merge(
        org.apache.datasketches.kll.KllDoublesSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(b))))
      if (u.isEmpty) return None
      val n = u.getN.toDouble
      val b = math.max(1, math.min(bins, u.getN).toInt)
      val qs = (0 to b).map(i => u.getQuantile(i.toDouble / b))
      val binNdv = math.max(1L, math.round(ndv.toDouble / b))
      Some(KllHist(n / b, (0 until b).map(i => (qs(i), qs(i + 1), binNdv)),
        u.getMinItem, u.getMaxItem))
    } catch { case NonFatal(_) => None }
  }

  /** Union per-file HLL sketches into one distinct-count estimate; None
    * when `sketches` is empty or any payload fails to heapify (fail open —
    * a partial union would silently understate the NDV).
    */
  private[reftable] def ndvEstimate(sketches: Seq[Array[Byte]]): Option[Long] = {
    if (sketches.isEmpty) return None
    try {
      val u = new org.apache.datasketches.hll.Union(12)
      sketches.foreach(b => u.update(org.apache.datasketches.hll.HllSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(b))))
      Some(math.max(1L, math.round(u.getResult.getEstimate)))
    } catch { case NonFatal(_) => None }
  }

  // ---- manifest read -------------------------------------------------------

  /** Parsed manifests keyed by (path, length, mtime) — versioned snapshot
    * dirs are immutable, so entries effectively never invalidate; the
    * mtime/length key covers in-place rewrites of plain dirs.
    */
  private val manifestCache = new ConcurrentHashMap[String, Map[String, FileStats]]()

  /** Per-file `cols` object (either manifest format) → typed stats. A
    * bloom payload that fails to decode is dropped for that column (fail
    * open, like every other malformed stat).
    */
  private[reftable] def parseCols(colsNode: JsonNode): Map[String, ColStats] =
    colsNode.properties().asScala.map { c =>
      val v = c.getValue
      val vals = Option(v.get("vals")).filter(_.isArray).map(a =>
        (0 until a.size()).map(a.get(_).asText()))
      val bloom = Option(v.get("bloom")).filter(_.isTextual).flatMap { b =>
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b.asText()))))
        catch { case NonFatal(_) => None }
      }
      val hll = Option(v.get("hll")).filter(_.isTextual).flatMap { h =>
        try Some(java.util.Base64.getDecoder.decode(h.asText()))
        catch { case NonFatal(_) => None }
      }
      val kll = Option(v.get("kll")).filter(_.isTextual).flatMap { h =>
        try Some(java.util.Base64.getDecoder.decode(h.asText()))
        catch { case NonFatal(_) => None }
      }
      c.getKey -> ColStats(
        Option(v.get("min")).filterNot(_.isNull),
        Option(v.get("max")).filterNot(_.isNull),
        if (v.has("nulls")) v.get("nulls").asLong() else -1L,
        vals, bloom, hll, kll)
    }.toMap

  /** The manifest for a snapshot dir, or None when absent/unreadable. Fail
    * open: skipping is an optimization, a malformed sidecar must never
    * brick the table (a warning is printed once per cache fill).
    *
    * A sharded `_STATS/` manifest is also surfaced here, materialized
    * driver-side through a Spark read — that keeps every Map-shaped
    * consumer (metadata-only profiling, specs) working against either
    * format, at O(files) driver memory. The pruning path never goes
    * through this method for shards ([[pruneSharded]] stays distributed);
    * a Map-shaped consumer that truly meets a million-file manifest should
    * read `dir/_STATS` as a DataFrame instead.
    */
  def load(dir: String, conf: Configuration): Option[Map[String, FileStats]] = {
    val p = new Path(dir, ManifestName)
    try {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return loadSharded(dir, fs, conf)
      val st = fs.getFileStatus(p)
      val key = s"${p.toString}#${st.getLen}#${st.getModificationTime}"
      if (manifestCache.size > 1024) manifestCache.clear()
      Some(manifestCache.computeIfAbsent(key, { _ =>
        val in = fs.open(p)
        val root = try new ObjectMapper().readTree(in) finally in.close()
        root.path("files").properties().asScala.map { e =>
          val fn = e.getValue
          e.getKey -> FileStats(fn.path("len").asLong(), fn.path("rows").asLong(),
            parseCols(fn.path("cols")))
        }.toMap
      }))
    } catch {
      case _: java.io.FileNotFoundException => None
      case NonFatal(e) =>
        System.err.println(s"reftable: ignoring unreadable $ManifestName in $dir: ${e.getMessage}")
        None
    }
  }

  /** The shard parquet files, listed explicitly — passing the `_STATS` dir
    * itself to `spark.read` trips the hidden-path filter (underscore
    * prefix), which is exactly the property that hides the manifest from
    * DATA listings; the leaf files carry normal names.
    */
  private def shardFiles(
      sd: Path, fs: org.apache.hadoop.fs.FileSystem): Seq[String] =
    fs.listStatus(sd).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)

  private def loadSharded(
      dir: String, fs: org.apache.hadoop.fs.FileSystem,
      conf: Configuration): Option[Map[String, FileStats]] = {
    val sd = new Path(dir, ShardDirName)
    try {
      if (!fs.getFileStatus(sd).isDirectory) return None // throws FNF when absent
      val spark = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(return None)
      val shards = shardFiles(sd, fs)
      if (shards.isEmpty) return None
      val st = fs.getFileStatus(sd)
      val key = s"${sd.toString}#shard#${st.getModificationTime}"
      if (manifestCache.size > 1024) manifestCache.clear()
      Some(manifestCache.computeIfAbsent(key, { _ =>
        import spark.implicits._
        spark.read.parquet(shards: _*)
          .select("path", "len", "rows", "cols").as[(String, Long, Long, String)]
          .collect()
          .map { case (rel, len, rows, colsJson) =>
            rel -> FileStats(len, rows, parseCols(new ObjectMapper().readTree(colsJson)))
          }.toMap
      }))
    } catch {
      case _: java.io.FileNotFoundException => None
      case NonFatal(e) =>
        System.err.println(s"reftable: ignoring unreadable $ShardDirName in $dir: ${e.getMessage}")
        None
    }
  }

  // ---- pruning -------------------------------------------------------------

  import RefTablePartitioning.{Tri, True, False, Null, Unknown, and, or, not}

  /** Drop files whose statistics prove the pushed filters cannot be TRUE
    * for any row. No-op without filters or without a manifest. A JSON
    * manifest evaluates in memory on the driver; a sharded `_STATS/`
    * manifest evaluates as a distributed job ([[pruneSharded]]) so the
    * driver never parses per-file stats at all.
    */
  def prune(
      resolvedDir: String, files: Seq[SnapshotFile], opts: RefTableOptions,
      filters: Seq[Filter], conf: Configuration): Seq[SnapshotFile] = {
    if (filters.isEmpty || !opts.statsPruning || files.isEmpty) return files
    val fs = new Path(resolvedDir).getFileSystem(conf)
    val qualified = fs.makeQualified(new Path(resolvedDir)).toString
    // a manifest-referenced version lists files HOSTED in other version
    // dirs; each hosting dir's own stats manifest (written at its publish,
    // keyed relative to it) covers its files — group and recurse, so
    // inherited files keep the skipping stats (and categorical/Bloom
    // augmentations) of the version that wrote them
    val (inside, outside) = files.partition(f => f.path.startsWith(qualified + "/"))
    if (outside.nonEmpty) {
      val rootPath = new Path(resolvedDir).getParent
      val qualifiedRoot = fs.makeQualified(rootPath).toString
      val grouped = outside.groupBy { f =>
        val rel = relOf(f.path, qualifiedRoot)
        val seg = rel.indexOf('/')
        if (seg > 0 && rel.substring(0, seg).matches("v\\d{19}_[0-9a-f]{8}"))
          Some(rel.substring(0, seg))
        else None
      }
      val prunedOutside = grouped.toSeq.flatMap {
        case (Some(host), group) =>
          prune(s"$qualifiedRoot/$host", group, opts, filters, conf)
        case (None, group) => group // unknown host: never skip on it
      }
      return (prune(resolvedDir, inside, opts, filters, conf) ++ prunedOutside)
        .sortBy(_.path)
    }
    if (!fs.exists(new Path(resolvedDir, ManifestName)) &&
        fs.exists(new Path(resolvedDir, ShardDirName))) {
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(spark) =>
          return pruneSharded(spark, resolvedDir, qualified, files, opts, filters)
        case None => () // no session to run the job: fall through to load()
      }
    }
    val manifest = load(resolvedDir, conf).getOrElse(return files)
    files.filter { sf =>
      manifest.get(relOf(sf.path, qualified)) match {
        case Some(fstats) if fstats.length == sf.length =>
          fstats.rows > 0 && filters.forall(f => evalFile(f, sf, fstats, opts).t)
        case _ => true // unknown or stale entry: never skip on it
      }
    }
  }

  private def relOf(path: String, qualified: String): String =
    if (path.startsWith(qualified + "/")) path.substring(qualified.length + 1) else path

  /** Per-file stats for a (possibly manifest-referenced) version's listing:
    * files hosted inside `resolvedDir` look up its own manifest; files
    * hosted in other version dirs look up THEIR manifests. Returns absolute
    * path → stats for every file a fresh manifest entry covers (length
    * mismatches and manifest-less hosts are simply absent — callers treat
    * missing as unknown, never guessed). Used by history and the `$files`
    * metadata table; the pruning path has its own grouped recursion.
    */
  def statsForListing(
      resolvedDir: String, files: Seq[SnapshotFile],
      conf: Configuration): Map[String, FileStats] = {
    val fs = new Path(resolvedDir).getFileSystem(conf)
    val qualified = fs.makeQualified(new Path(resolvedDir)).toString
    val rootPath = new Path(resolvedDir).getParent
    val qualifiedRoot = if (rootPath == null) qualified
      else fs.makeQualified(rootPath).toString
    val byHost: Map[String, Seq[SnapshotFile]] = files.groupBy { f =>
      if (f.path.startsWith(qualified + "/")) qualified
      else {
        val rel = relOf(f.path, qualifiedRoot)
        val seg = rel.indexOf('/')
        if (seg > 0 && rel.substring(0, seg).matches("v\\d{19}_[0-9a-f]{8}"))
          s"$qualifiedRoot/${rel.substring(0, seg)}"
        else qualified // unknown host: will miss the lookup, stays unknown
      }
    }
    byHost.flatMap { case (host, group) =>
      load(host, conf) match {
        case Some(m) => group.flatMap { f =>
          m.get(relOf(f.path, host)).filter(_.length == f.length).map(f.path -> _)
        }
        case None => Nil
      }
    }
  }

  /** Distributed file skipping over the sharded manifest: the listing
    * (which the driver must hold anyway to plan splits) joins the parquet
    * shards, the Tri evaluator runs per manifest row executor-side, and
    * only the SURVIVING relative paths come back — O(matching) driver
    * materialization under a selective filter, never an O(files) JSON
    * parse. Files without a (fresh) manifest row keep themselves via the
    * left join, preserving the fail-open contract.
    */
  private[reftable] def pruneSharded(
      spark: org.apache.spark.sql.SparkSession, resolvedDir: String,
      qualified: String, files: Seq[SnapshotFile], opts: RefTableOptions,
      filters: Seq[Filter]): Seq[SnapshotFile] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val listed: Seq[(String, Long, Map[String, String])] =
      files.map(sf => (relOf(sf.path, qualified), sf.length, sf.partitionValues))
    val listedDf = spark.createDataset(listed).toDF("rel", "flen", "pv")
    val sd = new Path(resolvedDir, ShardDirName)
    val shardPaths = shardFiles(sd, sd.getFileSystem(spark.sessionState.newHadoopConf()))
    if (shardPaths.isEmpty) return files // empty manifest dir: fail open
    val shards = spark.read.parquet(shardPaths: _*)
      .select(col("path"), col("len"), col("rows"), col("cols"))
    // stale rows (len mismatch ⇒ file replaced in place) drop out of the
    // join and the file keeps itself, same as the JSON path
    val joined = listedDf
      .join(shards, listedDf("rel") === shards("path") && listedDf("flen") === shards("len"),
        "left")
      .select(listedDf("rel"), listedDf("flen"), listedDf("pv"),
        shards("rows"), shards("cols"))
      .as[(String, Long, Map[String, String], Option[Long], Option[String])]
    val fts = filters // stable local for closure cleanliness
    val o = opts
    val kept = joined.mapPartitions { it =>
      val mapper = new ObjectMapper()
      it.flatMap { case (rel, flen, pv, rowsOpt, colsOpt) =>
        (rowsOpt, colsOpt) match {
          case (Some(nRows), Some(colsJson)) =>
            val fstats = FileStats(flen, nRows, parseCols(mapper.readTree(colsJson)))
            val sf = SnapshotFile(rel, flen, pv)
            if (fstats.rows > 0 && fts.forall(f => evalFile(f, sf, fstats, o).t)) Some(rel)
            else None
          case _ => Some(rel) // no manifest row: never skip on it
        }
      }
    }.collect().toSet
    files.filter(sf => kept.contains(relOf(sf.path, qualified)))
  }

  /** Possible outcomes of `f` over the file's rows: composition recurses
    * here, partition-column leaves evaluate exactly against the directory
    * value, single-data-column leaves evaluate against the stats range.
    */
  private[reftable] def evalFile(
      f: Filter, sf: SnapshotFile, fstats: FileStats, opts: RefTableOptions): Tri = f match {
    case And(l, r) => and(evalFile(l, sf, fstats, opts), evalFile(r, sf, fstats, opts))
    case Or(l, r)  => or(evalFile(l, sf, fstats, opts), evalFile(r, sf, fstats, opts))
    case Not(c)    => not(evalFile(c, sf, fstats, opts))
    case leaf =>
      val refs = leaf.references.toSeq
      // Partition evolution makes directory values PER-FILE: evaluate
      // against this file's own pv when it can answer (current partition
      // columns, hidden transforms, or a column THIS file was partitioned
      // by under an earlier spec); where the pv can't decide, fall back to
      // footer stats — a column this file keeps in its data pages has
      // ordinary stats even if the CURRENT spec calls it a partition column
      val viaPv =
        if (refs.nonEmpty && refs.forall(r => opts.isPartitionCol(r) ||
            opts.transformFor(r).isDefined || sf.partitionValues.contains(r)))
          RefTablePartitioning.eval(leaf, sf.partitionValues, opts)
        else Unknown
      if (viaPv != Unknown) viaPv
      else refs match {
        case Seq(one) if !sf.partitionValues.contains(one) =>
          statsLeaf(leaf, one, fstats, opts)
        case _ => Unknown
      }
  }

  private def statsLeaf(f: Filter, ref: String, fstats: FileStats, opts: RefTableOptions): Tri = {
    if (opts.genColumn.contains(ref)) return Unknown
    val field = opts.schema.fields.find(_.name == ref).getOrElse(return Unknown)
    val cs = fstats.cols.get(opts.storageColumn(ref))
    // what the null count allows (cs absent → both unknown → possible)
    val mayNull = cs.forall(_.nulls != 0L)
    val mayNonNull = cs.forall(c =>
      c.min.isDefined || c.vals.exists(_.nonEmpty) || c.nulls < 0L || c.nulls < fstats.rows)
    f match {
      case IsNull(_)    => Tri(mayNull, mayNonNull, n = false)
      case IsNotNull(_) => Tri(mayNonNull, mayNull, n = false)
      case EqualNullSafe(_, null) => Tri(mayNull, mayNonNull, n = false)
      // value sets only apply to STRING columns: augment renders values as
      // strings, so using them for a numeric column would compare apples
      // to renderings — fall through to the (exact) range path instead
      case _ if cs.exists(_.vals.isDefined) && field.dataType == StringType =>
        valueSetLeaf(f, cs.get.vals.get, cs.get.nulls != 0L)
      // Bloom rejection is PROOF of absence (one-sided): a point lookup on
      // a provably-absent value can only be FALSE (non-null rows) or NULL
      // (null rows); a mightContain=true falls through to the range path
      case EqualTo(_, v) if v != null && bloomRejects(cs, field.dataType, v) =>
        Tri(t = false, f = mayNonNull, n = mayNull)
      case EqualNullSafe(_, v) if v != null && bloomRejects(cs, field.dataType, v) =>
        Tri(t = false, f = true, n = false) // null-safe compare is never NULL
      case In(_, vs) if vs.nonEmpty &&
          vs.forall(v => v != null && bloomRejects(cs, field.dataType, v)) =>
        Tri(t = false, f = mayNonNull, n = mayNull)
      case _ if cs.isEmpty => Unknown
      case EqualTo(_, v)            => rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
        (lo <= 0 && hi >= 0, !(lo == 0 && hi == 0)) }
      case GreaterThan(_, v)        => rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
        (hi > 0, lo <= 0) }
      case GreaterThanOrEqual(_, v) => rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
        (hi >= 0, lo < 0) }
      case LessThan(_, v)           => rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
        (lo < 0, hi >= 0) }
      case LessThanOrEqual(_, v)    => rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
        (lo <= 0, hi > 0) }
      case EqualNullSafe(_, v) =>
        // never NULL: a null row compares FALSE against a non-null literal
        val eq = rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
          (lo <= 0 && hi >= 0, !(lo == 0 && hi == 0)) }
        Tri(eq.t, eq.f || eq.n || mayNull, n = false)
      case In(_, vs) =>
        vs.foldLeft(False: Tri) { (acc, v) =>
          or(acc, rangeCmp(v, field.dataType, cs.get, fstats) { (lo, hi) =>
            (lo <= 0 && hi >= 0, !(lo == 0 && hi == 0)) })
        }
      // prefix pruning over string bounds: rows with prefix p form the
      // interval [p, next(p)) where next(p) increments p's last code
      // point. TRUE impossible when hi < p (every row below the prefix
      // range) or lo >= next(p) (every row above it); FALSE impossible
      // when lo >= p AND hi < next(p) (bounds prove every row carries the
      // prefix — sound under truncation because lo ≤ min and hi ≥ max).
      case StringStartsWith(_, p) if field.dataType == StringType && p != null =>
        val csv = cs.get
        val below = rangeCmp(p, StringType, csv, fstats) { (_, hi) => (hi >= 0, true) }
        incrementLastCp(p) match {
          case Some(np) =>
            val above = rangeCmp(np, StringType, csv, fstats) { (lo, _) => (lo < 0, true) }
            val allIn = rangeCmp(p, StringType, csv, fstats) { (lo, _) => (lo >= 0, true) }.t &&
              rangeCmp(np, StringType, csv, fstats) { (_, hi) => (hi < 0, true) }.t
            (below, above) match {
              case (Unknown, _) | (_, Unknown) => Unknown
              case _ => Tri(below.t && above.t, !allIn, csv.nulls != 0L)
            }
          case None => // un-incrementable prefix: only the lower side prunes
            if (below == Unknown) Unknown else Tri(below.t, f = true, csv.nulls != 0L)
        }
      case _ => Unknown // anything unrecognized
    }
  }

  /** True iff the column carries a Bloom filter AND it proves `v` absent
    * from the file. Branches by the DECLARED type exactly as the writer
    * did (longs for integrals, UTF-8 strings for strings); a literal of an
    * unexpected runtime type never rejects (fail open).
    */
  private def bloomRejects(cs: Option[ColStats], dt: DataType, v: Any): Boolean =
    cs.exists(_.bloom.exists { bf =>
      dt match {
        case ByteType | ShortType | IntegerType | LongType => v match {
          case n: Number => !bf.mightContainLong(n.longValue())
          case _ => false
        }
        case StringType => v match {
          case s: String => !bf.mightContainString(s)
          case u: org.apache.spark.unsafe.types.UTF8String => !bf.mightContainString(u.toString)
          case _ => false
        }
        case _ => false // the writer never blooms other types
      }
    })

  /** Exact possible outcomes over a finite value set: the predicate is
    * simply evaluated on every distinct value — TRUE possible iff some
    * value satisfies it, FALSE possible iff some value refutes it, NULL
    * from the null count. Unrecognized literal types or leaf shapes fall
    * back to Unknown.
    */
  private def valueSetLeaf(f: Filter, vals: Seq[String], mayNull: Boolean): Tri = {
    def str(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def over(p: String => Boolean): Tri =
      if (vals.isEmpty) if (mayNull) Null else Tri(t = false, f = false, n = false)
      else Tri(vals.exists(p), vals.exists(!p(_)), mayNull)
    f match {
      case EqualTo(_, v)            => str(v).map(s => over(_ == s)).getOrElse(Unknown)
      case EqualNullSafe(_, v) =>
        str(v).map { s =>
          val eq = over(_ == s)
          Tri(eq.t, eq.f || mayNull, n = false)
        }.getOrElse(Unknown)
      // Spark orders strings by UTF-8 bytes; JVM String comparison is
      // UTF-16 and diverges on non-ASCII, so compare in Spark's space
      case GreaterThan(_, v)        => str(v).map(s => over(utf8(_).compareTo(utf8(s)) > 0)).getOrElse(Unknown)
      case GreaterThanOrEqual(_, v) => str(v).map(s => over(utf8(_).compareTo(utf8(s)) >= 0)).getOrElse(Unknown)
      case LessThan(_, v)           => str(v).map(s => over(utf8(_).compareTo(utf8(s)) < 0)).getOrElse(Unknown)
      case LessThanOrEqual(_, v)    => str(v).map(s => over(utf8(_).compareTo(utf8(s)) <= 0)).getOrElse(Unknown)
      case In(_, lits) =>
        // any non-null literal we cannot read as a string → Unknown (a
        // mixed-type IN should never be pruned on a partial view of it)
        if (lits.exists(l => l != null && str(l).isEmpty)) Unknown
        else {
          val set = lits.toSeq.flatMap(str).toSet
          val base = over(set.contains)
          // SQL IN with a NULL element: non-matches yield NULL, never FALSE
          if (lits.contains(null)) or(base, Null) else base
        }
      case StringStartsWith(_, p) => over(_.startsWith(p))
      case StringEndsWith(_, p)   => over(_.endsWith(p))
      case StringContains(_, p)   => over(_.contains(p))
      case _ => Unknown
    }
  }

  /** Outcomes of a comparison leaf given sign(min-v) and sign(max-v):
    * `pick` returns (TRUE possible, FALSE possible); NULL possibility comes
    * from the null count. Handles the all-null and empty-file cases.
    */
  private def rangeCmp(v: Any, dt: DataType, cs: ColStats, fstats: FileStats)(
      pick: (Int, Int) => (Boolean, Boolean)): Tri = {
    if (v == null) return Null
    (cs.min, cs.max) match {
      case (Some(mn), Some(mx)) =>
        (compareNode(mn, v, dt), compareNode(mx, v, dt)) match {
          case (Some(lo), Some(hi)) =>
            val (t, f) = pick(lo, hi)
            Tri(t, f, cs.nulls != 0L)
          case _ => Unknown
        }
      case _ =>
        if (fstats.rows == 0L) Tri(t = false, f = false, n = false) // no rows, no outcome
        else if (cs.nulls == fstats.rows) Null // provably all-null column
        else Unknown // defensive: a bound-less entry we didn't write ourselves
    }
  }

  /** sign(statBound - literal) in the declared Spark type's order, None
    * when the literal's runtime type is unexpected (→ Unknown → kept).
    * NaN literals order greatest, matching Spark; -0.0 == 0.0 is handled
    * by the write-time zero widening, so plain Double.compare is correct
    * here.
    */
  private def compareNode(node: JsonNode, v: Any, dt: DataType): Option[Int] = dt match {
    case IntegerType | LongType | ShortType | ByteType => v match {
      case n: Number => Some(java.lang.Long.compare(node.asLong(), n.longValue()))
      case _ => None
    }
    case FloatType | DoubleType => v match {
      case n: Number => Some(java.lang.Double.compare(node.asDouble(), n.doubleValue()))
      case _ => None
    }
    case BooleanType => v match {
      case b: java.lang.Boolean => Some(java.lang.Boolean.compare(node.asBoolean(), b.booleanValue()))
      case _ => None
    }
    case DateType => v match {
      case d: java.sql.Date => Some(java.lang.Long.compare(node.asLong(), d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => Some(java.lang.Long.compare(node.asLong(), d.toEpochDay))
      case _ => None
    }
    // TimestampType bounds are INT64 micros (statable admits only MICROS
    // footers for timestamp-declared columns — a NANOS footer can only be
    // read as LongType via nanosAsLong, which compares above)
    case TimestampType => (v match {
      case t: java.sql.Timestamp => Some(t.toInstant)
      case i: java.time.Instant => Some(i)
      case _ => None
    }).map(i => java.lang.Long.compare(node.asLong(), instantMicros(i)))
    case TimestampNTZType => v match {
      case l: java.time.LocalDateTime =>
        Some(java.lang.Long.compare(node.asLong(),
          instantMicros(l.toInstant(java.time.ZoneOffset.UTC))))
      case _ => None
    }
    // string bounds are TRUNCATED (enclosing, not exact — see
    // truncatedStringBounds); every pick() consumer stays sound under
    // widened bounds because each one-sided claim only needs enclosure:
    // a wider bracket can only add claimed-possible outcomes (file kept),
    // and the lone exactness claim (lo==0 && hi==0 ⇒ every row == v)
    // still holds — lo' = v = hi' with lo' ≤ min ≤ max ≤ hi' forces
    // min = max = v. Comparison in UTF-8 byte order (Spark's string
    // order); JVM String.compareTo is UTF-16 and diverges on
    // supplementary characters.
    case StringType =>
      val bound = org.apache.spark.unsafe.types.UTF8String.fromString(node.asText())
      v match {
        case s: String =>
          Some(bound.compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        case u: org.apache.spark.unsafe.types.UTF8String => Some(bound.compareTo(u))
        case _ => None
      }
    case _ => None // decimals never statted; schema drift lands here too
  }
}
