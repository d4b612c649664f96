package graft.sources.reftable

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Iceberg-style SQL metadata tables for versioned roots, resolved by the
  * catalog from a `$`-suffixed identifier:
  *
  * {{{
  *   SELECT * FROM graft.db.`t$history`   -- retained versions: files/bytes/rows
  *   SELECT * FROM graft.db.`t$commits`   -- the commit log: seq, version, parent
  *   SELECT * FROM graft.db.`t$files`     -- current version's files with stats rows
  *   SELECT * FROM graft.db.`t$layout`    -- current version's physical layout
  * }}}
  *
  * All are metadata-only — listings, commit records and the stats
  * manifest; zero data pages — and tiny by construction (bounded by
  * retained versions / current file count), so they plan as a driver-side
  * [[LocalScan]]: no jobs, no partitions, rows materialize at planning.
  *
  * `$layout` reports what is OBSERVABLE from storage about the current
  * version — manifest-referenced or physical, hash-bucket marker
  * (columns + count), Hive partition columns, file count and bytes — the
  * "what layout is this table in right now" question that decides
  * whether mutations narrow and whether a re-clustering is due (layouts
  * degrade under mutation until a re-publish; see
  * [[RefTableMutations]]).
  */
object RefTableMetaTables {

  val Kinds: Set[String] =
    Set("history", "commits", "files", "layout", "dv", "options", "tags",
      "partitions", "branches")

  /** `t$tags`: named immutable version references ([[VersionedTable.tag]]),
    * with the version each protects from retention and its creation time.
    */
  private val tagsSchema = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("created_ts", TimestampType, nullable = false)))

  private def tagRows(root: String, conf: Configuration): Array[InternalRow] =
    VersionedTable.tags(root, conf).map { case (name, version, createdMs) =>
      InternalRow(utf8(name), utf8(version), createdMs * 1000L)
    }.toArray

  /** `t$branches`: writable branches ([[VersionedTable.createBranch]]) —
    * the fork version the next fast-forward CASes against and the branch's
    * own head.
    */
  private val branchesSchema = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("fork_version", StringType, nullable = false),
    StructField("head_version", StringType, nullable = true)))

  private def branchRows(root: String, conf: Configuration): Array[InternalRow] =
    VersionedTable.branches(root, conf).map { case (name, fork, head) =>
      InternalRow(utf8(name), utf8(fork), head.map(utf8).orNull)
    }.toArray

  private val historySchema = StructType(Seq(
    StructField("version_idx", IntegerType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("is_current", BooleanType, nullable = false)))

  private val commitsSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("marker", StringType, nullable = true),
    StructField("parent", StringType, nullable = true)))

  private val filesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("ndv", StringType, nullable = true)))

  private val layoutSchema = StructType(Seq(
    StructField("property", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  private val dvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("deleted_positions", LongType, nullable = false)))

  def load(root: String, displayName: String, kind: String, conf: Configuration,
      exists: Boolean, ident: Identifier,
      descriptorOptions: => Map[String, String] = Map.empty): Table = {
    if (!exists) throw new NoSuchTableException(ident)
    kind match {
      case "history" => new MetaTable(displayName, historySchema, () => historyRows(root, conf))
      case "commits" => new MetaTable(displayName, commitsSchema, () => commitRows(root, conf))
      case "files" => new MetaTable(displayName, filesSchema, () => fileRows(root, conf))
      case "layout" => new MetaTable(displayName, layoutSchema, () => layoutRows(root, conf))
      case "dv" => new MetaTable(displayName, dvSchema, () => dvRows(root, conf))
      case "tags" => new MetaTable(displayName, tagsSchema, () => tagRows(root, conf))
      case "branches" =>
        new MetaTable(displayName, branchesSchema, () => branchRows(root, conf))
      case "partitions" =>
        // schema is dynamic (one STRING column per partition column of the
        // CURRENT version) — computed once at resolution, like the layout
        val pvCols = partitionColsOf(root, conf)
        new MetaTable(displayName, partitionsSchema(pvCols),
          () => partitionRows(root, pvCols, conf))
      case "options" =>
        val opts = descriptorOptions
        new MetaTable(displayName, optionsSchema, () => optionsRows(opts))
    }
  }

  /** `t$options`: the DESCRIPTOR's declared options — the observability
    * surface for everything a table carries (layout, keyColumns,
    * expectations, autoCompact, retention, ...). One row per option, in
    * name order; expectation rules are thus first-class inspectable.
    */
  private val optionsSchema = StructType(Seq(
    StructField("option", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  private def optionsRows(opts: Map[String, String]): Array[InternalRow] =
    opts.toSeq.sortBy(_._1).map { case (k, v) =>
      InternalRow(utf8(k), utf8(v))
    }.toArray

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def historyRows(root: String, conf: Configuration): Array[InternalRow] = {
    val current = VersionedTable.resolve(root, conf).map(p => new Path(p).getName)
    VersionedTable.committedVersionDirs(root, conf).zipWithIndex.map { case (name, i) =>
      val dir = new Path(root, name).toString
      val files = SnapshotFiles.list(dir)
      val stats = RefTableStats.statsForListing(dir, files, conf)
      val nRows: Option[Long] =
        if (files.nonEmpty && files.forall(f => stats.contains(f.path)))
          Some(files.map(f => stats(f.path).rows).sum)
        else if (files.isEmpty) RefTableStats.load(dir, conf).map(_.values.map(_.rows).sum)
        else None
      new GenericInternalRow(Array[Any](
        i, utf8(name), files.size, files.map(_.length).sum,
        nRows.map(Long.box).orNull, current.contains(name))): InternalRow
    }.toArray
  }

  private def commitRows(root: String, conf: Configuration): Array[InternalRow] =
    VersionedTable.commitLog(root, conf).map { c =>
      new GenericInternalRow(Array[Any](
        c.seq, utf8(c.version),
        c.marker.map(utf8).orNull, c.parent.map(utf8).orNull)): InternalRow
    }.toArray

  /** `t$dv`: the current version's merge-on-read deletion-vector census —
    * per referenced file, how many positions its sidecars mark. Empty for
    * a clean table; a scheduler reads it to decide materialization (the
    * same signal RefTableMaintenance trips on). Driver-local sidecar
    * read, no data pages.
    */
  private def dvRows(root: String, conf: Configuration): Array[InternalRow] =
    VersionedTable.resolve(root, conf) match {
      case None => Array.empty
      case Some(dir) =>
        DeletionVectors.positionsByFile(dir, conf).toSeq.sortBy(_._1).map {
          case (file, ps) =>
            new GenericInternalRow(Array[Any](utf8(file), ps.size.toLong)): InternalRow
        }.toArray
    }

  private def fileRows(root: String, conf: Configuration): Array[InternalRow] = {
    val current = VersionedTable.resolve(root, conf)
    current match {
      case None => Array.empty
      case Some(dir) =>
        val files = SnapshotFiles.list(dir)
        // per-hosting-version lookup: inherited files of a
        // manifest-referenced version report the stats their host wrote
        val stats = RefTableStats.statsForListing(dir, files, conf)
        files.map { f =>
          val name = new Path(f.path).getName
          // per-file NDV estimates (the `ndvStats` sketches), rendered as
          // "col=est" pairs — the audit surface for what the CBO will see
          val ndv = stats.get(f.path).map(_.cols.toSeq
            .flatMap { case (c, cs) =>
              cs.hll.flatMap(h => RefTableStats.ndvEstimate(Seq(h))).map(e => s"$c=$e")
            }.sorted.mkString(",")).filter(_.nonEmpty)
          new GenericInternalRow(Array[Any](
            utf8(name), f.length,
            stats.get(f.path).map(s => Long.box(s.rows)).orNull,
            ndv.map(utf8).orNull)): InternalRow
        }.toArray
    }
  }

  /** Partition columns of the CURRENT version, as observable from storage:
    * the manifest's recorded values when referenced, else the first
    * `col=value` directory chain. Empty for unpartitioned/unpublished.
    */
  private def partitionColsOf(root: String, conf: Configuration): Seq[String] =
    VersionedTable.resolve(root, conf) match {
      case None => Nil
      case Some(dir) =>
        val name = new Path(dir).getName
        val fs = new Path(dir).getFileSystem(conf)
        if (RefTableFileManifest.exists(root, name, conf))
          RefTableFileManifest.resolve(root, name, Nil, conf)
            .map(_.flatMap(_.pv.keys).distinct.sorted).getOrElse(Nil)
        else {
          val out = scala.collection.mutable.ListBuffer[String]()
          var cur = new Path(dir)
          var go = true
          while (go) {
            val sub = fs.listStatus(cur).filter(s =>
              s.isDirectory && s.getPath.getName.contains("="))
            if (sub.isEmpty) go = false
            else {
              out += RefTablePartitioning.unescape(
                sub.head.getPath.getName.takeWhile(_ != '='))
              cur = sub.head.getPath
            }
          }
          out.toSeq
        }
    }

  /** `t$partitions`: the Iceberg-partitions-table shape — one row per
    * distinct partition of the current version with its file count, bytes
    * and stats-manifest row count (physical rows, pre-DV, consistent with
    * `t$files`; `t$dv` censuses the subtraction). Unpartitioned tables
    * report one row with no partition columns. Driver-local (listings +
    * stats manifests), zero data pages.
    */
  private def partitionsSchema(pvCols: Seq[String]): StructType = StructType(
    pvCols.map(c => StructField(c, StringType, nullable = true)) ++ Seq(
      StructField("n_files", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = true)))

  private def partitionRows(root: String, pvCols: Seq[String],
      conf: Configuration): Array[InternalRow] =
    VersionedTable.resolve(root, conf) match {
      case None => Array.empty
      case Some(dir) =>
        val files = SnapshotFiles.list(dir, pvCols)
        val stats = RefTableStats.statsForListing(dir, files, conf)
        files.groupBy(f => pvCols.map(f.partitionValues.get)).toSeq
          .sortBy(_._1.map(_.getOrElse("")).mkString(""))
          .map { case (pv, group) =>
            val nRows: Option[Long] =
              if (group.forall(f => stats.contains(f.path)))
                Some(group.map(f => stats(f.path).rows).sum)
              else None
            new GenericInternalRow(
              (pv.map(_.map(utf8).orNull) ++ Seq[Any](
                group.size, group.map(_.length).sum,
                nRows.map(Long.box).orNull)).toArray[Any]): InternalRow
          }.toArray
    }

  private def layoutRows(root: String, conf: Configuration): Array[InternalRow] = {
    def row(p: String, v: String): InternalRow =
      new GenericInternalRow(Array[Any](utf8(p), Option(v).map(utf8).orNull))
    VersionedTable.resolve(root, conf) match {
      case None => Array(row("status", "unpublished"))
      case Some(dir) =>
        val name = new Path(dir).getName
        val manifest = RefTableFileManifest.exists(root, name, conf)
        val pvCols: Seq[String] = partitionColsOf(root, conf)
        val files = SnapshotFiles.list(dir, pvCols)
        val base = Seq(
          row("version", name),
          row("manifest_referenced", manifest.toString),
          row("n_files", files.size.toString),
          row("bytes", files.map(_.length).sum.toString))
        val partitioned =
          if (pvCols.nonEmpty) Seq(row("partition_columns", pvCols.mkString(","))) else Nil
        val bucketed = Layout.bucketedAt(dir, conf).toSeq.flatMap { case Layout.Bucketed(cols, n) =>
          Seq(row("bucket_columns", cols.mkString(",")), row("bucket_count", n.toString))
        }
        (base ++ partitioned ++ bucketed).toArray
    }
  }

  private class MetaTable(
      tname: String, tschema: StructType, data: () => Array[InternalRow])
      extends Table with SupportsRead {
    override def name(): String = tname
    override def schema(): StructType = tschema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = tschema
          override def rows(): Array[InternalRow] = data()
          override def description(): String = tname
        }
      }
  }
}
