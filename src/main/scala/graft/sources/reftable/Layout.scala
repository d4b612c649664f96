package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** How a published version's rows are laid out — the one owner of three
  * decisions every layout-aware surface used to make for itself:
  *
  *  - ARRANGE: how rows are arranged before the parquet write (range +
  *    sort, Morton range + sort, hash repartition, derived transform
  *    directories, partition co-location) — [[arrange]] / [[write]];
  *  - RECORD: the commit marker, the root `_LAYOUT` declaration and a
  *    bucketed version's `_BUCKETS.json` — [[marker]], [[Layout.declare]],
  *    [[Layout.Bucketed]];
  *  - READ BACK: a marker parsed into a layout ([[Layout.parse]]), the
  *    table's declaration ([[Layout.declared]]), a version's bucket sidecar
  *    ([[Layout.bucketedAt]]), and `RefTableOptions.layout` from the write
  *    options.
  *
  * [[VersionedTable.publish]] writes through one; INSERT, compaction,
  * maintenance and incremental recluster match on one.
  *
  * ON-DISK FORMAT (tables written by earlier releases keep parsing):
  * markers are `layout=cluster:<cols>`, `layout=zorder:<cols>`,
  * `layout=bucket:<cols>:<n>` and `layout=hidden:<spec>[;<spec>…]`
  * (`<cols>` comma-separated); `_LAYOUT` is line 1 = declaring commit
  * sequence, line 2 = the marker; `_BUCKETS.json` is `{"cols":[…],"n":n}`.
  */
private[graft] sealed trait Layout {
  /** The commit marker recording this layout as the table's declaration;
    * None for layouts readers declare themselves (flat, Hive-partitioned).
    */
  def marker: Option[String] = None

  /** Directory columns the version nests its files under, for a frame of
    * `schema` (the file manifest records the nesting).
    */
  def dirs(schema: StructType): Seq[String] = Nil

  /** True when the layout is a property of the WHOLE table, re-established
    * per commit: an O(new data) append cannot keep it, so INSERT INTO
    * re-publishes the union and the append paths refuse it.
    */
  def global: Boolean = false

  /** `df`'s rows, arranged for this layout. */
  def arrange(df: DataFrame): DataFrame = df

  /** Arrange `df` and write it into a publish's staging directory. */
  private[reftable] def write(df: DataFrame, staging: Path): Unit =
    VersionedTable.writeParquetMicros(arrange(df), staging.toString, dirs(df.schema))
}

private[graft] object Layout {
  private val Prefix = "layout="

  /** File count a declaration read back from its marker carries: the
    * marker never recorded one; restores size their own from the bytes.
    */
  val DefaultFiles = 16

  /** Parquet files as the frame's partitions fall. */
  case object Flat extends Layout

  /** A Hive-partitioned layout inside the version directory: each value of
    * `cols` co-located onto one task, so the staged file count is
    * O(distinct values). Readers declare the matching `partitionColumns`;
    * no marker is recorded.
    */
  final case class Partitioned(cols: Seq[String]) extends Layout {
    override def dirs(schema: StructType): Seq[String] = cols
  }

  /** Hidden partitioning — Iceberg-style partition transforms
    * ([[RefTableTransforms]]): the data lays out under DERIVED directories
    * (`ts_day=2024-01-07/`, `user_id_bucket=7/`) while every source column
    * stays stored in the data files. Readers declare `hiddenPartitions` with
    * the same specs; plain predicates on the source columns then prune whole
    * directories at listing time — before stats manifests or footers — and
    * the query never mentions the transform. Specs: `days(col)`,
    * `hours(col)`, `bucket(n, col)`, `truncate(w, col)`. The directory
    * columns are always re-derived from the sources, replacing any a read
    * discovered from a previous version's directories.
    */
  final case class Hidden(transforms: Seq[String]) extends Layout {
    require(transforms.nonEmpty, "a hidden layout needs at least one transform")
    override def marker: Option[String] = Some(s"${Prefix}hidden:${transforms.mkString(";")}")
    private def parsed(schema: StructType): Seq[RefTableTransforms.Transform] =
      transforms.map(spec => RefTableTransforms.parse(schema, spec)
        .fold(m => throw new IllegalArgumentException(m), identity))
    override def dirs(schema: StructType): Seq[String] = parsed(schema).map(_.dirName)
    override def arrange(df: DataFrame): DataFrame =
      parsed(df.schema).foldLeft(df)((d, t) => d.withColumn(t.dirName, t.sparkExpr))
  }

  /** The layouts that sort rows into `files` tight, near-disjoint bands on
    * `cols`: maintenance measures their read amplification on the leading
    * column and restores them by re-clustering. `files` sizes the
    * arrangement only — it is not part of the declaration (no marker
    * records it), so it takes no part in equality either.
    */
  sealed trait Banded extends Layout {
    def cols: Seq[String]
    def files: Int
    def sized(files: Int): Banded
    /** `cluster` | `zorder`: the marker's kind. */
    def kind: String
    override def marker: Option[String] = Some(s"$Prefix$kind:${cols.mkString(",")}")
    override def global: Boolean = true
  }

  /** Range-clustered: rows range-partitioned and sorted on `cols` across
    * `files` files. Each file then covers a tight, near-disjoint [min,max]
    * on the cluster key, which is what makes the published `_STATS.json`
    * effective — a selective filter on the key plans O(matching) files
    * instead of O(files) ([[RefTableStats]]). The sort also helps parquet
    * row-group/page skips and compression inside each file. This is the
    * data-layout half of data skipping; the manifest is the metadata half —
    * every publish writes one, but un-clustered layouts rarely have
    * prunable bounds.
    */
  final case class Clustered(cols: Seq[String])(val files: Int) extends Banded {
    require(cols.nonEmpty && files > 0, "a clustered layout needs columns and a positive numFiles")
    def kind = "cluster"
    def sized(n: Int): Clustered = Clustered(cols)(n)
    override def arrange(df: DataFrame): DataFrame = {
      val cs = cols.map(df.col)
      df.repartitionByRange(files, cs: _*).sortWithinPartitions(cs: _*)
    }
  }

  /** Clustered on the z-order (Morton) curve over `cols` instead of
    * lexicographically: every file then covers a bounded window in EACH
    * clustered dimension, so the stats manifest prunes selective filters
    * on any of them — the multi-column layout [[Clustered]] cannot give
    * (its trailing columns get no locality). See [[ZOrder]].
    */
  final case class ZOrdered(cols: Seq[String])(val files: Int) extends Banded {
    require(cols.nonEmpty && files > 0, "a z-ordered layout needs columns and a positive numFiles")
    def kind = "zorder"
    def sized(n: Int): ZOrdered = ZOrdered(cols)(n)
    override def arrange(df: DataFrame): DataFrame = {
      val zc = "__graft_z"
      val z = df.withColumn(zc, ZOrder.zColumn(df, cols))
      z.repartitionByRange(files, z(zc)).sortWithinPartitions(zc).drop(zc)
    }
  }

  /** HASH-bucketed: rows land in `n` files by `pmod(hash(cols), n)` —
    * Spark's own `HashPartitioning` id expression, so `repartition(n, cols)`
    * task indices ARE the bucket ids and the staged `part-NNNNN` file names
    * record them. A `_BUCKETS.json` sidecar makes the layout
    * self-describing per version ([[bucketedAt]]).
    *
    * This is the point-mutation complement of [[Clustered]]: range
    * clustering narrows mutations whose keys are LOCAL (a [min,max] band
    * maps to few files) but degrades to a full rewrite when the batch's
    * keys are scattered — the CDC shape. Hash bucketing touches exactly the
    * batch's buckets regardless of key distribution or order, so a k-key
    * upsert on an n-bucket table rewrites ≤ k files
    * ([[RefTableMutations.upsert]] composes this with stats narrowing). The
    * trade: bucketed files span the full key range, so range predicates
    * get no file skipping — pick the layout for the workload. Like
    * clustering, the property degrades under mutation (rewritten files are
    * not re-bucketed) until a re-publish restores it.
    */
  final case class Bucketed(cols: Seq[String], n: Int) extends Layout {
    require(cols.nonEmpty && n > 0, "a bucketed layout needs columns and a positive nBuckets")
    override def marker: Option[String] = Some(s"${Prefix}bucket:${cols.mkString(",")}:$n")
    override def global: Boolean = true
    override def arrange(df: DataFrame): DataFrame = df.repartition(n, cols.map(df.col): _*)
    override private[reftable] def write(df: DataFrame, staging: Path): Unit = {
      super.write(df, staging)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      val arr = node.putArray("cols")
      cols.foreach(arr.add)
      node.put("n", n)
      LocalFs.createWrite(staging.getFileSystem(HadoopConf()),
        new Path(staging, BucketsMarker), om.writeValueAsBytes(node))
    }
  }

  /** The layout a commit marker records; None for any other marker (txn,
    * clone, publisher batch ids) and for malformed layout markers.
    */
  def parse(m: String): Option[Layout] = {
    def colsOf(s: String) = Some(s.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    if (!m.startsWith(Prefix)) None
    else m.stripPrefix(Prefix).split(":", -1) match {
      case Array("cluster", cols) => colsOf(cols).map(Clustered(_)(DefaultFiles))
      case Array("zorder", cols) => colsOf(cols).map(ZOrdered(_)(DefaultFiles))
      case Array("bucket", cols, n) =>
        for (cs <- colsOf(cols); b <- n.toIntOption if b > 0) yield Bucketed(cs, b)
      case Array("hidden", specs) =>
        Some(specs.split(";", -1).toSeq).filter(_.forall(RefTableTransforms.wellFormed))
          .map(Hidden)
      case _ => None
    }
  }

  /** Root-level declaration file: line 1 = the commit sequence that
    * declared the layout, line 2 = its marker. The declaration must outlive
    * commit-log retention (the declaring commit is pruned after
    * `keepVersions` further publishes), so it lives beside the log, not in
    * it; the in-log marker remains as provenance and as fallback when this
    * best-effort write failed.
    */
  private val DeclFile = "_LAYOUT"

  /** Re-declare the layout `marker` records (if it records one) at the
    * root, where retention can't prune it — called once the commit `seq`
    * carrying the marker has landed.
    */
  private[reftable] def declare(
      rootPath: Path, seq: Long, marker: Option[String], conf: Configuration): Unit =
    marker.filter(parse(_).nonEmpty).foreach { m =>
      try CommitPrimitive.forPath(rootPath, conf).overwrite(
        new Path(rootPath, DeclFile), s"$seq\n$m".getBytes("UTF-8"), conf)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** The table's declared layout, with the commit sequence that declared
    * it: the root `_LAYOUT` file when present, else the newest in-log layout
    * marker (covers a failed declaration write until retention prunes that
    * commit). Takes whichever is newer — a stale `_LAYOUT` left by a crashed
    * overwrite must not shadow a later in-log re-declaration.
    */
  def declared(root: String, conf: Configuration = HadoopConf()): Option[(Long, Layout)] = {
    val p = new Path(root, DeclFile)
    val fromFile =
      try { // a missing or unreadable file declares nothing
        val in = p.getFileSystem(conf).open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(_.trim)
          .toIndexedSeq finally in.close()
        for (s <- lines.headOption.flatMap(_.toLongOption); l <- lines.lift(1).flatMap(parse))
          yield (s, l)
      } catch { case scala.util.control.NonFatal(_) => None }
    val fromLog = VersionedTable.commitLog(root, conf).reverseIterator
      .flatMap(c => c.marker.flatMap(parse).map(c.seq -> _)).nextOption()
    (fromFile ++ fromLog).maxByOption(_._1)
  }

  /** Sidecar a bucketed publish writes into its version dir, read back
    * only through [[bucketedAt]].
    */
  private val BucketsMarker = "_BUCKETS.json"

  /** The bucketed layout version `dir` was hashed by, read from its
    * `_BUCKETS.json`; None when `dir` holds no (usable) sidecar — not a
    * bucketed publish, e.g. any post-mutation manifest version.
    */
  def bucketedAt(dir: String, conf: Configuration): Option[Bucketed] = {
    val bp = new Path(dir, BucketsMarker)
    val fs = bp.getFileSystem(conf)
    if (!fs.exists(bp)) return None
    val in = fs.open(bp)
    val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    import scala.jdk.CollectionConverters._
    val cols = node.path("cols").elements().asScala.map(_.asText()).toSeq
    val n = node.path("n").asInt(0)
    if (cols.isEmpty || n <= 0) None else Some(Bucketed(cols, n))
  }
}
