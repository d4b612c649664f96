package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, regexp_extract}

/** Merge-on-read DELETE via deletion vectors — the Delta-DV / Iceberg
  * position-delete shape. A MoR delete commits O(deleted rows) bytes: the
  * new version stages NO rewritten data files, only `_DV/` parquet
  * sidecars of `(file STRING, pos BIGINT)` rows naming the deleted
  * positions (0-based row index within `file`, which is a root-relative
  * path exactly as the file manifest records it). Readers subtract the
  * positions at scan time; a later [[VersionedTable.compact]] materializes
  * (rewrites without the deleted rows and drops the sidecars).
  *
  * INVARIANT: every committed version directory holds its COMPLETE
  * applicable DV set in its own `_DV/` directory. MoR deletes stage only
  * their new sidecars; [[RefTableFileManifest.writeDelta]] carries the
  * parent's sidecars forward VERBATIM (hard link / copy — O(sidecar
  * files) metadata, no parsing). Carried entries whose `file` is no
  * longer in the listing (rewritten or removed by a COW mutation) are
  * INERT — rewritten files get fresh names, so a stale position can never
  * match a live row. Physical publishes (plain/clustered/z-ordered/
  * compact) write no sidecars: their input was read DV-applied, so the
  * new version is clean — compaction IS the DV materialization.
  *
  * Sidecar staleness therefore accretes garbage, never wrongness; the
  * compaction that restores layout also restores O(0) DV overhead.
  *
  * Scale shape: positions are pinned per listing on the driver (same
  * lifecycle as the pinned `(path, length)` file list) and each task is
  * shipped ONLY its own file's positions through its input partition. At
  * a deleted-row count where that no longer fits (≫10^8 positions),
  * compact — the signal is the same small-files pressure
  * [[RefTableMaintenance]] already watches.
  */
object DeletionVectors {

  val DvDir = "_DV"

  /** The version-relative tail of a physical file path:
    * `vXXXXXXXXXXXXXXXXXXX_hhhhhhhh/...` — the key DV sidecars store,
    * stable across qualified/unqualified path spellings.
    */
  val RelRegex: String = """^.*/(v\d{19}_[0-9a-f]{8}/.+)$"""

  def relOf(path: String): String = {
    val m = java.util.regex.Pattern.compile(RelRegex).matcher(path)
    if (m.matches()) m.group(1) else path
  }

  /** The DV sidecar parquet files of a resolved version directory
    * (empty when the version has none).
    */
  def sidecars(versionDir: String, conf: Configuration = HadoopConf()): Seq[Path] = {
    val d = new Path(versionDir, DvDir)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.toString)
  }

  def hasDv(versionDir: String, conf: Configuration = HadoopConf()): Boolean =
    sidecars(versionDir, conf).nonEmpty

  /** Driver-side load of a version's deleted positions, grouped by the
    * root-relative file path, sorted and deduplicated. Parquet-mr record
    * loop — no Spark job inside scan planning. O(deleted rows) driver
    * memory, the documented pin-time cost above.
    */
  def positionsByFile(
      versionDir: String, conf: Configuration = HadoopConf()): Map[String, Seq[Long]] = {
    val out = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.TreeSet[Long]]
    eachPosition(sidecars(versionDir, conf), conf) { (file, pos) =>
      out.getOrElseUpdate(file, scala.collection.mutable.TreeSet.empty[Long]) += pos
    }
    out.iterator.map { case (f, ps) => f -> ps.toSeq }.toMap
  }

  /** Root-relative file paths referenced by `versionDir`'s sidecars whose
    * names are NOT in `excludeNames` — i.e. the files that gained deleted
    * positions since an ancestor version carrying exactly those sidecars
    * (sidecars carry forward verbatim by name, so name-set difference IS
    * the commit-range delta). Used by the commit-rebase conflict check:
    * a concurrently-DV'd file must not be rewritten from its pre-DV image.
    */
  def referencedFiles(versionDir: String, excludeNames: Set[String],
      conf: Configuration = HadoopConf()): Set[String] = {
    val out = scala.collection.mutable.HashSet.empty[String]
    eachPosition(sidecars(versionDir, conf).filterNot(p => excludeNames.contains(p.getName)),
      conf)((file, _) => out += file)
    out.toSet
  }

  /** Every `(file, pos)` row of the given sidecars, in file order. */
  private def eachPosition(sidecars: Seq[Path], conf: Configuration)(
      f: (String, Long) => Unit): Unit =
    sidecars.foreach { p =>
      val reader = HadoopConf.groupReader(p, conf)
      try {
        var g = reader.read()
        while (g != null) {
          f(g.getBinary("file", 0).toStringUsingUTF8, g.getLong("pos", 0))
          g = reader.read()
        }
      } finally reader.close()
    }

  /** Attach pinned DV positions to a resolved listing (no-op without
    * sidecars). Keys are matched on the version-relative tail of each
    * file's path.
    */
  def attach(files: Seq[SnapshotFile], versionDir: String, conf: Configuration): Seq[SnapshotFile] = {
    if (!hasDv(versionDir, conf)) return files
    val byFile = positionsByFile(versionDir, conf)
    files.map { f =>
      byFile.get(relOf(f.path)) match {
        case Some(ps) => f.copy(dvPositions = ps)
        case None => f
      }
    }
  }

  /** Apply a listing's pinned deletion vectors to a DataFrame read of
    * exactly those files — the batch-path (non-DSv2-reader) application:
    * a broadcast LEFT ANTI join of `( _metadata rel path, row_index )`
    * against the (file, pos) pairs. The pairs are already pinned on the
    * driver, so the join side is a local dataset, not a second read. MUST
    * be applied to the raw file-source read (before projections drop the
    * `_metadata` column).
    */
  def applyTo(spark: SparkSession, df: DataFrame, files: Seq[SnapshotFile]): DataFrame = {
    val pairs = files.flatMap(f => f.dvPositions.map(p => (relOf(f.path), p)))
    if (pairs.isEmpty) return df
    import spark.implicits._
    val dv = pairs.toDF("__dv_file", "__dv_pos")
    df.withColumn("__rel", regexp_extract(col("_metadata.file_path"), RelRegex, 1))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(broadcast(dv),
        col("__rel") === col("__dv_file") && col("__pos") === col("__dv_pos"), "left_anti")
      .drop("__rel", "__pos")
  }

  /** Carry a parent version's DV sidecars verbatim into a mutation's
    * staging directory (hard link where possible, copy otherwise) —
    * called by [[RefTableFileManifest.writeDelta]] so every
    * manifest-writing commit preserves the invariant above. Sidecar
    * names are unique (Spark part-file UUIDs), so carried and
    * newly-staged files never collide.
    */
  def carry(root: String, parentVersion: String, staging: Path, conf: Configuration): Unit = {
    val parentSidecars = sidecars(new Path(root, parentVersion).toString, conf)
    if (parentSidecars.isEmpty) return
    val fs = staging.getFileSystem(conf)
    val dst = new Path(staging, DvDir)
    fs.mkdirs(dst)
    parentSidecars.foreach { src =>
      val target = new Path(dst, src.getName)
      if (!fs.exists(target)) LocalFs.linkOrCopy(src, target, conf)
    }
  }

  /** Sidecar for a re-hosted listing (clone/promote): the linked files get
    * fresh names inside the new version dir, so the source's position keys
    * cannot carry verbatim — this writes ONE sidecar whose keys are the
    * staged files' final root-relative paths (`finalVersion/rel`, valid the
    * moment the staging dir renames into place, and safe to `carry` into
    * later versions verbatim like any other sidecar). Driver-side
    * parquet-mr write, O(deleted rows) — the same pin-time budget the
    * listing already paid to load them.
    */
  def writeRemapped(
      staged: Seq[(SnapshotFile, String)], staging: Path, finalVersion: String,
      conf: Configuration): Unit = {
    val pairs = staged.iterator.flatMap { case (f, rel) =>
      f.dvPositions.iterator.map(p => (s"$finalVersion/$rel", p))
    }
    if (!pairs.hasNext) return
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message dv { required binary file (UTF8); required int64 pos; }")
    val fs = staging.getFileSystem(conf)
    fs.mkdirs(new Path(staging, DvDir))
    val dst = new Path(staging, s"$DvDir/dv-remap-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dst, conf))
      .withConf(conf).withType(schema).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try pairs.foreach { case (file, pos) =>
      val g = gf.newGroup()
      g.append("file", file)
      g.append("pos", pos)
      writer.write(g)
    } finally writer.close()
  }
}
