package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Closes the layout-maintenance loop the sensors were built for: `$layout`
  * / `$history` / the commit log OBSERVE a table's physical state;
  * [[maintain]] reads those signals, decides whether the layout has
  * degraded past its thresholds, and executes the one restoring publish —
  * compact, re-cluster, or re-bucket.
  *
  * The table's INTENDED layout is self-described: every layout-establishing
  * publish ([[VersionedTable.publishClustered]] / `publishZOrdered` /
  * `publishBucketed`) records a `layout=<kind>:<cols>[:<n>]` marker with its
  * commit. The last such marker is the declaration; every commit after it
  * (appends, mutations, compactions) is churn against it. Mutations degrade
  * deliberately and observably — rewritten files lose clustering (bounds
  * widen in the stats manifest) and bucketed versions lose `_BUCKETS.json`
  * — so the decision needs no hidden state, only storage:
  *
  *  - declared cluster/zorder: re-cluster when churn > 0 AND the measured
  *    read amplification on the leading cluster column exceeds
  *    `maxReadAmp` (fresh range-clustered bands tile the key range once →
  *    ~1.0; every rewritten file widened to the full range adds ~1.0),
  *    or when small files pile up.
  *  - declared bucket: re-bucket when churn > 0 AND the current version
  *    lost its `_BUCKETS.json` (some file no longer sits in its hash
  *    bucket), or when the file count outgrew 2× the bucket count.
  *  - no declaration: compact when the file count exceeds
  *    `maxSmallFiles` AND mean file size fell under `targetFileBytes/4` —
  *    the small-file explosion of a frequently-appended table.
  *
  * Every restoring publish re-records its layout marker, so the churn
  * counter resets — maintenance is idempotent: a second [[maintain]] right
  * after the first decides `none`. Restores run under the same
  * CAS + conflict-retry as every other derive-from-current publish; readers
  * pinned to the degraded version keep draining it.
  *
  * At 100 TB this is the OPTIMIZE loop Delta/Iceberg operators run by hand,
  * driven by the table's own metadata instead of a human: schedule
  * `maintain(root)` after mutation-heavy pipelines and the layout converges
  * back to its declaration.
  */
object RefTableMaintenance {

  /** What the table declares + what storage observes right now. */
  final case class Signals(
      version: String,
      nFiles: Int,
      bytes: Long,
      declared: Option[DeclaredLayout],
      commitsSinceLayout: Int,
      readAmplification: Option[Double],
      bucketMarkerPresent: Boolean,
      dvSidecars: Int = 0)

  /** kind ∈ cluster | zorder | bucket; `buckets` set for bucket only. */
  final case class DeclaredLayout(kind: String, cols: Seq[String], buckets: Option[Int])

  /** action ∈ none | compact | recluster | rebucket; `version` = the
    * restoring publish, when one ran.
    */
  final case class Decision(action: String, reason: String, version: Option[String] = None)

  private[graft] def parseLayoutMarker(m: String): Option[DeclaredLayout] =
    if (!m.startsWith("layout=")) None
    else m.stripPrefix("layout=").split(":", -1) match {
      case Array(kind, cols) if kind == "cluster" || kind == "zorder" =>
        Some(DeclaredLayout(kind, cols.split(",").toSeq.filter(_.nonEmpty), None))
      case Array("bucket", cols, n) =>
        scala.util.Try(n.toInt).toOption
          .map(b => DeclaredLayout("bucket", cols.split(",").toSeq.filter(_.nonEmpty), Some(b)))
      case _ => None
    }

  /** Read amplification of the layout on `col`: Σ(per-file bound width) /
    * global range — the expected number of files a uniformly random point
    * predicate on `col` must read. A fresh range-clustered layout is ~1.0
    * (near-disjoint bands tile the range once); every mutation-rewritten
    * file that widened toward the full key range adds ~1.0. O(files) from
    * the stats manifest, no data pages. None when bounds are missing or
    * non-numeric (nothing trustworthy to measure).
    */
  private def readAmplification(
      dir: String, files: Seq[SnapshotFile], col: String, conf: Configuration): Option[Double] = {
    val stats = RefTableStats.statsForListing(dir, files, conf)
    val bounds = files.flatMap { f =>
      for {
        fs <- stats.get(f.path)
        cs <- fs.cols.get(col)
        mn <- cs.min if mn.isNumber
        mx <- cs.max if mx.isNumber
      } yield (mn.asDouble(), mx.asDouble())
    }
    if (bounds.size < 2) None
    else {
      val lo = bounds.map(_._1).min
      val hi = bounds.map(_._2).max
      if (hi <= lo) None // single-point keyspace: nothing to cluster
      else Some(bounds.map { case (mn, mx) => mx - mn }.sum / (hi - lo))
    }
  }

  /** Read the decision inputs from storage — commit log, current listing,
    * stats manifest, `_BUCKETS.json` — no data pages.
    */
  def signals(root: String, conf: Configuration = HadoopConf()): Signals = {
    val dir = VersionedTable.resolve(root, conf).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table root"))
    val version = new Path(dir).getName
    // seq-based, not log-index-based: retention prunes commit FILES beyond
    // keepVersions, but sequences are monotonic forever and the declaration
    // itself lives in the root _LAYOUT file, out of retention's reach
    val decl = VersionedTable.layoutDeclaration(root, conf)
    val declared = decl.flatMap { case (_, m) => parseLayoutMarker(m) }
    val lastSeq = VersionedTable.lastCommit(root, conf).map(_.seq).getOrElse(0L)
    val churn = decl match {
      case Some((declSeq, _)) => math.max(0L, lastSeq - declSeq).toInt
      case None => VersionedTable.commitLog(root, conf).size
    }
    val files = SnapshotFiles.list(dir)
    val readAmp = declared
      .filter(d => (d.kind == "cluster" || d.kind == "zorder") && d.cols.nonEmpty)
      .flatMap(d => readAmplification(dir, files, d.cols.head, conf))
    val bucketMarker = new Path(dir, VersionedTable.BucketsMarker)
      .getFileSystem(conf).exists(new Path(dir, VersionedTable.BucketsMarker))
    // merge-on-read delete pressure: sidecar count only (a directory
    // listing — the census must stay metadata-cheap per table)
    val dv = DeletionVectors.sidecars(dir, conf).size
    Signals(version, files.size, files.map(_.length).sum, declared, churn, readAmp, bucketMarker, dv)
  }

  /** The pure policy — exposed so tests (and operators) can ask "what
    * would maintenance do" without doing it.
    */
  def decide(
      s: Signals,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxSmallFiles: Int = 64,
      maxReadAmp: Double = 1.5): Decision = {
    val avg = if (s.nFiles == 0) Long.MaxValue else s.bytes / s.nFiles
    val smallFiles = s.nFiles > maxSmallFiles && avg < targetFileBytes / 4
    // deletion-vector pressure: every scan pays the row-mode + position
    // subtraction tax until a physical rewrite materializes; past a few
    // accreted sidecars the restoring publish (which also re-establishes
    // any declared layout) is due regardless of file-size health
    if (s.dvSidecars >= 8) {
      val act = s.declared.map(_.kind) match {
        case Some("bucket") => "rebucket"
        case Some(_) => "recluster"
        case None => "compact"
      }
      return Decision(act,
        s"${s.dvSidecars} deletion-vector sidecars pending materialization")
    }
    s.declared match {
      case Some(d @ DeclaredLayout("bucket", _, Some(n))) =>
        if (s.commitsSinceLayout > 0 && !s.bucketMarkerPresent)
          Decision("rebucket", s"version ${s.version} lost its bucket layout " +
            s"(${s.commitsSinceLayout} commits since declaration)")
        else if (s.nFiles > 2 * n)
          Decision("rebucket", s"${s.nFiles} files for a $n-bucket layout")
        else Decision("none", s"bucket layout ${d.cols.mkString(",")}:$n intact")
      case Some(d) if d.kind == "cluster" || d.kind == "zorder" =>
        val amp = s.readAmplification.getOrElse(1.0)
        if (s.commitsSinceLayout > 0 && amp > maxReadAmp)
          Decision("recluster", f"read amplification $amp%.2f > $maxReadAmp%.2f on " +
            s"${d.cols.head} after ${s.commitsSinceLayout} commits")
        else if (s.commitsSinceLayout > 0 && smallFiles)
          Decision("recluster", s"${s.nFiles} files averaging $avg bytes")
        else Decision("none", f"${d.kind} layout ${d.cols.mkString(",")} intact " +
          f"(read amplification $amp%.2f)")
      case _ =>
        if (smallFiles) Decision("compact", s"${s.nFiles} files averaging $avg bytes")
        else Decision("none", "no declared layout, no small-file pressure")
    }
  }

  /** Decide and, when degraded, execute the restoring publish. The restore
    * re-records the layout marker (churn resets → idempotent) and runs
    * under CAS + conflict retry like every derive-from-current publish.
    * `partitionColumns`: declare for Hive-partitioned roots, as with
    * [[VersionedTable.compact]].
    */
  def maintain(
      spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxSmallFiles: Int = 64,
      maxReadAmp: Double = 1.5,
      keepVersions: Int = 3,
      partitionColumns: Seq[String] = Nil): Decision = {
    val conf = HadoopConf()
    val s = signals(root, conf)
    val d = decide(s, targetFileBytes, maxSmallFiles, maxReadAmp)
    d.action match {
      case "none" => d
      case "compact" =>
        val v = VersionedTable.compact(spark, root, targetFileBytes, keepVersions, partitionColumns)
        d.copy(version = Some(v))
      case "recluster" =>
        val decl = s.declared.get
        // INCREMENTAL first: rewrite only the stats-wide files and carry
        // tight ones by reference — O(widened bytes). Not applicable when
        // deletion vectors forced the restore (carried files would keep
        // their sidecars pending forever), when nothing/everything is wide,
        // or when bounds are unusable; those fall through to the full
        // re-tile below.
        val partial =
          if (s.dvSidecars >= 8) None
          else RefTableMutations.reclusterPartial(spark, root, decl.cols,
            zorder = decl.kind == "zorder", targetFileBytes, maxReadAmp,
            keepVersions, partitionColumns)
        val v = partial.getOrElse(VersionedTable.withConflictRetry(root) { () =>
          val cur = VersionedTable.resolve(root, conf).get
          val df = VersionedTable.readVersion(spark, cur)
          val nFiles = math.max(1, math.ceil(
            SnapshotFiles.list(cur).map(_.length).sum.toDouble / targetFileBytes).toInt)
          val parent = Some(new Path(cur).getName)
          if (decl.kind == "zorder")
            VersionedTable.publishZOrdered(df, root, decl.cols, nFiles, keepVersions,
              parent = parent, requireBase = true)
          else
            VersionedTable.publishClustered(df, root, decl.cols, nFiles, keepVersions,
              parent = parent, requireBase = true)
        })
        d.copy(version = Some(v))
      case "rebucket" =>
        val decl = s.declared.get
        val v = VersionedTable.withConflictRetry(root) { () =>
          val cur = VersionedTable.resolve(root, conf).get
          val df = VersionedTable.readVersion(spark, cur)
          VersionedTable.publishBucketed(df, root, decl.cols, decl.buckets.get, keepVersions,
            parent = Some(new Path(cur).getName), requireBase = true)
        }
        d.copy(version = Some(v))
    }
  }
}
