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
  * publish (`VersionedTable.publish` with a clustered, z-ordered, bucketed
  * or hidden [[Layout]]) records the layout's marker with its commit. The
  * last such marker is the declaration ([[Layout.declared]]); every commit
  * after it (appends, mutations, compactions) is churn against it.
  * Mutations degrade deliberately and observably — rewritten files lose
  * clustering (bounds widen in the stats manifest) and bucketed versions
  * lose `_BUCKETS.json` — so the decision needs no hidden state, only
  * storage:
  *
  *  - declared cluster/zorder: re-cluster when churn > 0 AND the measured
  *    read amplification on the leading cluster column exceeds
  *    `maxReadAmp` (fresh range-clustered bands tile the key range once →
  *    ~1.0; every rewritten file widened to the full range adds ~1.0),
  *    or when small files pile up.
  *  - declared bucket: re-bucket when churn > 0 AND the current version
  *    lost its `_BUCKETS.json` (some file no longer sits in its hash
  *    bucket), or when the file count outgrew 2× the bucket count.
  *  - no declaration, or a hidden one: compact when the file count exceeds
  *    `maxSmallFiles` AND mean file size fell under `targetFileBytes/4` —
  *    the small-file explosion of a frequently-appended table (a hidden
  *    table compacts through its transforms, [[VersionedTable.compact]]).
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
      declared: Option[Layout],
      commitsSinceLayout: Int,
      readAmplification: Option[Double],
      bucketMarkerPresent: Boolean,
      dvSidecars: Int = 0)

  /** action ∈ none | compact | recluster | rebucket; `version` = the
    * restoring publish, when one ran.
    */
  final case class Decision(action: String, reason: String, version: Option[String] = None)

  /** Numeric per-file `(min, max)` bounds on one column, keyed by file
    * path, and the `[lo, hi]` range they span.
    */
  private[reftable] final case class Bands(
      byFile: Map[String, (Double, Double)], lo: Double, hi: Double) {
    /** Σ(bound width) / range, over `paths` (default: every bounded file). */
    def amplification(paths: Iterable[String] = byFile.keys): Double =
      paths.iterator.map(byFile).map { case (mn, mx) => mx - mn }.sum / (hi - lo)
  }

  /** The leading cluster column's bands over `files`, from the stats
    * manifest — no data pages. None when fewer than 2 files carry numeric
    * bounds (nothing trustworthy to measure) or the keyspace is a single
    * point (nothing to cluster).
    */
  private[reftable] def bands(
      dir: String, files: Seq[SnapshotFile], col: String, conf: Configuration): Option[Bands] = {
    val stats = RefTableStats.statsForListing(dir, files, conf)
    val byFile = files.flatMap { f =>
      for {
        fs <- stats.get(f.path)
        cs <- fs.cols.get(col)
        mn <- cs.min if mn.isNumber
        mx <- cs.max if mx.isNumber
      } yield f.path -> (mn.asDouble(), mx.asDouble())
    }.toMap
    if (byFile.size < 2) None
    else {
      val lo = byFile.values.map(_._1).min
      val hi = byFile.values.map(_._2).max
      if (hi <= lo) None else Some(Bands(byFile, lo, hi))
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
    val decl = Layout.declared(root, conf)
    val declared = decl.map(_._2)
    val lastSeq = VersionedTable.lastCommit(root, conf).map(_.seq).getOrElse(0L)
    val churn = decl match {
      case Some((declSeq, _)) => math.max(0L, lastSeq - declSeq).toInt
      case None => VersionedTable.commitLog(root, conf).size
    }
    val files = SnapshotFiles.list(dir)
    // read amplification on the leading cluster column: the expected
    // number of files a uniformly random point predicate must read — a
    // fresh range-clustered layout is ~1.0 (near-disjoint bands tile the
    // range once); every mutation-rewritten file widened toward the full
    // key range adds ~1.0
    val readAmp = declared.collect { case b: Layout.Banded => b }
      .flatMap(b => bands(dir, files, b.cols.head, conf)).map(_.amplification())
    val bucketMarker = Layout.bucketedAt(dir, conf).nonEmpty
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
      val act = s.declared match {
        case Some(_: Layout.Bucketed) => "rebucket"
        case Some(_: Layout.Banded) => "recluster"
        case _ => "compact"
      }
      return Decision(act,
        s"${s.dvSidecars} deletion-vector sidecars pending materialization")
    }
    s.declared match {
      case Some(Layout.Bucketed(cols, n)) =>
        if (s.commitsSinceLayout > 0 && !s.bucketMarkerPresent)
          Decision("rebucket", s"version ${s.version} lost its bucket layout " +
            s"(${s.commitsSinceLayout} commits since declaration)")
        else if (s.nFiles > 2 * n)
          Decision("rebucket", s"${s.nFiles} files for a $n-bucket layout")
        else Decision("none", s"bucket layout ${cols.mkString(",")}:$n intact")
      case Some(b: Layout.Banded) =>
        val amp = s.readAmplification.getOrElse(1.0)
        if (s.commitsSinceLayout > 0 && amp > maxReadAmp)
          Decision("recluster", f"read amplification $amp%.2f > $maxReadAmp%.2f on " +
            s"${b.cols.head} after ${s.commitsSinceLayout} commits")
        else if (s.commitsSinceLayout > 0 && smallFiles)
          Decision("recluster", s"${s.nFiles} files averaging $avg bytes")
        else Decision("none", f"${b.kind} layout ${b.cols.mkString(",")} intact " +
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
      case _ => // recluster | rebucket: re-publish through the declaration
        val decl = s.declared.get
        // INCREMENTAL first for a banded layout: rewrite only the stats-wide
        // files and carry tight ones by reference — O(widened bytes). Not
        // applicable when deletion vectors forced the restore (carried files
        // would keep their sidecars pending forever), when nothing/everything
        // is wide, or when bounds are unusable; those fall through to the
        // full re-publish below.
        val partial = decl match {
          case b: Layout.Banded if s.dvSidecars < 8 =>
            RefTableMutations.reclusterPartial(spark, root, b, targetFileBytes, maxReadAmp,
              keepVersions, partitionColumns)
          case _ => None
        }
        val v = partial.getOrElse(VersionedTable.withConflictRetry(root) { () =>
          val cur = VersionedTable.resolve(root, conf).get
          val layout = decl match {
            case b: Layout.Banded => b.sized(math.max(1, math.ceil(
              SnapshotFiles.list(cur).map(_.length).sum.toDouble / targetFileBytes).toInt))
            case l => l
          }
          VersionedTable.publish(VersionedTable.readVersion(spark, cur), root, keepVersions,
            parent = Some(new Path(cur).getName), requireBase = true, layout = layout)
        })
        d.copy(version = Some(v))
    }
  }
}
