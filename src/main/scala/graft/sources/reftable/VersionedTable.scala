package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot isolation for refreshable tables on plain file storage.
  *
  * A bare parquet directory has no isolation: `mode("overwrite")` deletes
  * files a pinned generation listing may still be reading (the reference
  * got isolation from CDAP Table transactions; files give us none). This
  * layer supplies it with the standard versioned-directory pattern:
  *
  * {{{
  *   root/
  *     _COMMITS/          <- commit log: one atomically-claimed file per
  *       00000000000000000001      committed version (see [[CommitsDir]])
  *       00000000000000000002
  *     _CURRENT           <- best-effort cache of the latest commit
  *     v00000000000000001/ ... parquet files of version 1
  *     v00000000000000002/ ... parquet files of version 2
  * }}}
  *
  * Writers publish a complete new version directory and then claim the
  * next commit-log sequence — readers resolve the max commit once per
  * listing and see either the old or the new version, never a mix, and
  * derived publishes (append/delete/upsert/compact) use the claim as a
  * compare-and-swap so concurrent writers serialize instead of silently
  * losing updates. Old versions are retained (`keepVersions`) so
  * generations pinned by running streams stay readable until their
  * snapshot is committed; pruning deletes oldest-first and never the
  * current version.
  *
  * [[SnapshotFiles.list]] resolves the pointer transparently, so a
  * versioned root works everywhere a plain directory does (batch scans,
  * streaming generations, partitioned layouts inside the version dir).
  */
object VersionedTable {
  /** Pointer file name. ON-DISK FORMAT: line 1 is the current version
    * directory name; an optional line 2 is a publish marker (see
    * [[completeModePublisher]]). External tooling reading `_CURRENT`
    * must take the FIRST line only.
    */
  val Pointer = "_CURRENT"

  /** Root-level layout declaration: line 1 = commit sequence that declared
    * it, line 2 = the `layout=<kind>:<cols>[:<n>]` marker. Written by every
    * layout-establishing publish. The declaration must outlive commit-log
    * retention (the declaring commit is pruned after `keepVersions` further
    * publishes), so it lives beside the log, not in it; the in-log marker
    * remains as provenance and as fallback when this cache write failed.
    */
  val LayoutDecl = "_LAYOUT"

  /** Declared TIME-based retention — the root-level policy file written
    * when a table declares `retainFor '<duration>'` (the reference's
    * duration grammar, `\d+[dhms]`). Every retention pass — publish-time
    * pruning AND vacuum — keeps any version younger than the window, on
    * top of the `keepVersions` count floor. Root-level (like [[LayoutDecl]])
    * so the policy binds every writer and pruner regardless of which
    * surface declared it.
    */
  val RetentionDecl = "_RETENTION"

  /** Declare (or update) the root's time-retention window. Reads first:
    * per-epoch writers call this on every commit, and an unchanged policy
    * must not cost a write. */
  def declareRetention(root: String, ms: Long,
      conf: Configuration = HadoopConf()): Unit = {
    val p = new Path(new Path(root), RetentionDecl)
    if (!declaredRetentionMs(root, conf).contains(ms))
      try CommitPrimitive.forPath(p, conf).overwrite(p, ms.toString.getBytes("UTF-8"), conf)
      catch { case scala.util.control.NonFatal(_) => () } // best-effort cache
  }

  /** The declared time-retention window, if any. */
  def declaredRetentionMs(root: String, conf: Configuration): Option[Long] = {
    val p = new Path(new Path(root), RetentionDecl)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some(text.toLong)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Commit log directory: `root/_COMMITS/<020d-seq>` files, each naming
    * one committed version (+ optional publish marker and lineage parent).
    * The MAX sequence file is the current version; commit files appear
    * atomically (tmp + rename-no-overwrite on HDFS-class stores, tmp +
    * hard-link on local POSIX — both fail if the sequence was already
    * taken), which is what gives plain file storage a real
    * compare-and-swap: a derived publish (append, delete, upsert,
    * compact) claims sequence N+1 ONLY IF the base it derived from still
    * holds sequence N — a concurrent commit makes the claim fail instead
    * of silently replacing the base (the lost update a last-writer-wins
    * pointer cannot prevent; post-hoc verification cannot either, because
    * the earlier writer may verify before the later one commits). The
    * same protocol Delta Lake uses on HDFS. Object stores whose rename is
    * copy+delete (S3-class) claim through their conditional write
    * (`If-None-Match` PUT) instead — [[CommitPrimitive]] selects the
    * right mechanism per store, and [[publishVia]] stages in place there
    * (no atomic dir rename exists; the claim alone governs visibility).
    *
    * `_CURRENT` remains as a best-effort CACHE for external tooling and
    * as the read path for legacy roots that predate the log; when
    * `_COMMITS` exists it is authoritative and the cache is never trusted.
    */
  val CommitsDir = "_COMMITS"

  /** In-dir marker [[cloneTo]] stages inside every clone version: proves
    * "this dir is the branch's clone baseline" to [[rebaseBranch]]'s
    * last-resort fallback after the clone's commit record has expired
    * from the log. Underscore-named, so listings never see it.
    */
  val CloneMarker = "_CLONE"

  /** One committed table state: the version directory name, the optional
    * streaming publish marker, and the optional lineage parent (the
    * version this one derived its content from; None for overwrites,
    * first versions and complete-mode stream batches, which derive from
    * nothing).
    */
  final case class Commit(seq: Long, version: String, marker: Option[String], parent: Option[String])

  /** A derived publish lost its compare-and-swap: the base it read is no
    * longer the latest commit. Re-derive from the new current and retry
    * ([[withConflictRetry]]); nothing was committed.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Logical conflict description for a derived publish, enabling
    * COMMIT REBASE: when the publish loses its CAS to a concurrent commit
    * whose file delta is provably disjoint from this publish's read/write
    * set, the already-staged output is re-pointed at the new head (its
    * `_FILES.json` parent swaps, the head's deletion-vector sidecars
    * re-carry) and the claim retries — the expensive derivation job never
    * re-runs. This is the Delta-Lake ConflictChecker shape on the existing
    * commit log; the fallback on overlap is today's full re-derive.
    *
    * VALIDATION MODEL. A rebase is admitted only when the final state
    * (base + their delta + our delta) matches a legal SERIAL history:
    *
    *  - when the concurrent delta is a pure BLIND APPEND (removed nothing,
    *    marked no positions), the order "ours first, their append after" is
    *    valid by construction — the append reads nothing;
    *  - otherwise the order "theirs first, ours second" must hold, which
    *    requires OUR derivation to be provably insensitive to their delta:
    *    they didn't remove/rewrite anything we read (rule 1), didn't mark
    *    positions against rows we rewrote or re-imaged (rule 2), and added
    *    no file that may contain rows our read predicate matches (rule 3).
    *
    *  - `removedRel`: root-relative paths the staged manifest REMOVES from
    *    its parent (the COW rewrite set; empty for appends and MoR ops).
    *  - `readRel`: root-relative paths whose CONTENT the derivation
    *    depends on (⊇ removedRel for COW; the position-marked files for
    *    MoR ops).
    *  - `addedMayMatch(headDir, added)`: whether any concurrently-ADDED
    *    file may contain rows this publish's read predicate matches
    *    (stats overlap with the mutation's pruning filters, or partition
    *    membership for partition replacement). Evaluated under the
    *    "theirs first" order, and for blind appends only when
    *    `conflictOnBlindAppend`.
    *  - `conflictOnBlindAppend`: key-matching mutations (upsert/MERGE) set
    *    true — a blind append of a key the source also carries would
    *    otherwise duplicate it (the Delta ConcurrentAppendException rule);
    *    predicate-local ops (DELETE/UPDATE) tolerate blind appends.
    *  - `stagesImages`: true when the publish stages replacement images
    *    for rows of merely-READ files (MoR update/upsert): concurrent
    *    position marks against those files then conflict (our image could
    *    resurrect or duplicate a concurrently-mutated row). MoR DELETE
    *    leaves it false — position sets union against pure-DV deltas.
    *  - `partitionColumns`: the layout columns the staged manifest was
    *    written with (the rebase rewrites it with the same).
    *  - `revalidate`: re-run the caller's OWN pre-publish admission check
    *    against the new head before re-claiming (e.g. the exactly-once
    *    `txn:<id>:<batch>` replay check — a concurrent writer of the SAME
    *    transaction may have committed this very batch, and only the
    *    re-derive path re-runs that check). Returning false refuses the
    *    rebase; the publish falls back to re-derive, where the caller's
    *    closure re-checks and no-ops.
    */
  final case class RebaseSpec(
      removedRel: Set[String],
      readRel: Set[String],
      addedMayMatch: (String, Seq[RefTableFileManifest.Entry]) => Boolean = (_, _) => false,
      conflictOnBlindAppend: Boolean = false,
      stagesImages: Boolean = false,
      partitionColumns: Seq[String] = Nil,
      revalidate: () => Boolean = () => true)

  /** Commits that landed through a rebase instead of a re-derive (spec and
    * diagnostics surface; monotonic across the JVM). */
  private[graft] val rebasedCommits = new java.util.concurrent.atomic.AtomicLong
  /** publishVia populate-step executions (spec surface: a rebased commit
    * must not re-run its derivation). */
  private[graft] val populateRuns = new java.util.concurrent.atomic.AtomicLong
  /** Test hook: runs right before a publish's first commit claim, AFTER the
    * staging populate — lets a spec land a deterministic concurrent commit
    * in the CAS window. Cleared by the spec that set it. */
  @volatile private[graft] var onBeforeClaim: Option[String => Unit] = None
  /** Test hook: runs inside the rebase loop right after the staged dir's
    * re-stamp rename, BEFORE the staged-bytes existence check and the
    * re-claim — lets a spec simulate the orphan sweep racing a rebase.
    * Receives the staged dir's current path. Cleared by the spec that set
    * it. */
  @volatile private[graft] var onBeforeRebaseCommit: Option[String => Unit] = None

  /** The current version directory of `root`, if it is a versioned table
    * root: the max committed sequence when the commit log exists (one
    * listing + one read — the same shape as a Delta log read), else the
    * legacy pointer file (one read), else None. Commit files appear
    * atomically with their full content, so there is no partial-read
    * window on this path.
    */
  def resolve(root: String, conf: Configuration = HadoopConf()): Option[String] =
    lastCommit(root, conf).map(c => new Path(root, c.version).toString)

  /** Latest commit of the table: max sequence in the commit log, or a
    * synthetic sequence-0 commit from the legacy pointer file (so roots
    * written before the log — and [[adopt]]-migrated bare dirs — read and
    * CAS correctly; their first logged commit claims sequence 1).
    */
  def lastCommit(root: String, conf: Configuration = HadoopConf()): Option[Commit] = {
    commitFiles(root, conf).lastOption match {
      case Some((seq, path)) => Some(readCommit(seq, path, conf))
      case None => pointerLines(root, conf).flatMap { lines =>
        lines.headOption.filter(_.nonEmpty).map(v =>
          Commit(0L, v, lines.lift(1).filter(_.nonEmpty), None))
      }
    }
  }

  /** Retained commit records, ascending sequence. Empty for legacy roots
    * (their state is the synthetic seq-0 of [[lastCommit]]).
    */
  def commitLog(root: String, conf: Configuration = HadoopConf()): Seq[Commit] =
    commitFiles(root, conf).map { case (seq, p) => readCommit(seq, p, conf) }

  private def commitsDirExists(root: String, conf: Configuration): Boolean = {
    val dir = new Path(root, CommitsDir)
    dir.getFileSystem(conf).exists(dir)
  }

  private def commitFiles(root: String, conf: Configuration): Seq[(Long, Path)] = {
    val dir = new Path(root, CommitsDir)
    val fs = dir.getFileSystem(conf)
    val entries = try fs.listStatus(dir)
    catch { case _: java.io.FileNotFoundException => return Seq.empty }
    entries.toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.matches("\\d{20}"))
      .map(s => (s.getPath.getName.toLong, s.getPath))
      .sortBy(_._1)
  }

  private def readCommit(seq: Long, path: Path, conf: Configuration): Commit = {
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split('\n').toIndexedSeq.map(_.trim)
    Commit(seq, lines.headOption.getOrElse(""),
      lines.lift(1).filter(_.nonEmpty), lines.lift(2).filter(_.nonEmpty))
  }

  /** Append a commit claiming the next sequence. `requireBase` is the
    * compare-and-swap: when Some, the commit succeeds only if the latest
    * committed version still equals that base (None inside = expect a
    * fresh root), and a lost claim throws [[CommitConflictException]];
    * when None, the publish derives from nothing and simply re-claims
    * until it wins a sequence. Returns the winning commit.
    */
  private def commitVersion(
      root: String, version: String, marker: Option[String], parent: Option[String],
      requireBase: Option[Option[String]], conf: Configuration): Commit = {
    val dir = new Path(root, CommitsDir)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val prim = CommitPrimitive.forPath(dir, conf)
    val content = version + "\n" + marker.getOrElse("") + "\n" + parent.getOrElse("")
    var attempts = 0
    while (true) {
      val last = lastCommit(root, conf)
      requireBase.foreach { base =>
        if (last.map(_.version) != base)
          throw new CommitConflictException(
            s"commit of $version expected base ${base.getOrElse("<fresh root>")} but the " +
              s"latest commit is ${last.map(_.version).getOrElse("<none>")}: a concurrent " +
              "writer published first — re-derive and retry")
      }
      val seq = last.map(_.seq + 1).getOrElse(1L)
      if (prim.putIfAbsent(new Path(dir, f"$seq%020d"), content.getBytes("UTF-8"), conf))
        return Commit(seq, version, marker, parent)
      // sequence taken: with a CAS the race is by definition a conflict;
      // without one, re-read and claim the next slot
      if (requireBase.nonEmpty)
        throw new CommitConflictException(
          s"commit of $version lost the claim on sequence $seq to a concurrent writer")
      attempts += 1
      if (attempts >= 1000)
        throw new IllegalStateException(
          s"could not claim a commit sequence for $version after $attempts attempts")
    }
    throw new IllegalStateException("unreachable")
  }

  /** As [[resolve]], but immune to the LOCAL-filesystem pointer-swap
    * window: ChecksumFs implements the OVERWRITE rename as
    * delete-then-rename, so a reader racing a swap can transiently find no
    * pointer at a root that IS versioned — and treating that as "not a
    * versioned root" is how a racing append invents a parentless first
    * version (losing every other writer's rows) or a racing reader sees an
    * empty table. When the pointer is absent but version directories
    * exist, this retries briefly and then fails loudly instead of
    * guessing. A genuinely plain directory (no pointer, no version dirs)
    * still resolves to None at the cost of one extra listing — only on
    * that already-cold path; pointer-present resolution is unchanged.
    * HDFS/object-store renames don't have the window; the retry simply
    * never fires there.
    */
  def resolveRobust(root: String, conf: Configuration = HadoopConf()): Option[String] = {
    var attempts = 0
    while (true) {
      resolve(root, conf) match {
        case some @ Some(_) => return some
        case None =>
          // a root WITH a commit-log directory is authoritative: commit
          // files appear atomically, so None means "no commit yet" — a
          // version dir without one is an orphan or a conditional-mode
          // in-place staging still being populated, not a swap window
          if (commitsDirExists(root, conf)) return None
          if (versionDirs(root, conf).isEmpty) return None
          attempts += 1
          if (attempts >= 20)
            throw new IllegalStateException(
              s"$root has version directories but no readable $Pointer pointer " +
                "(persisted mid-swap crash, or the pointer was deleted externally)")
          Thread.sleep(5L * attempts)
      }
    }
    None // unreachable
  }

  /** The publish marker recorded with the latest commit (legacy: pointer
    * line 2), if any — used by [[completeModePublisher]] for replay
    * idempotency.
    */
  def publishedMarker(root: String, conf: Configuration = HadoopConf()): Option[String] =
    lastCommit(root, conf).flatMap(_.marker)

  /** Pointer file content as lines: line 1 = version name, optional
    * line 2 = publish marker. Both written in ONE atomic rename, so the
    * marker can never disagree with the version it was published with.
    *
    * Retries on ChecksumException: the LOCAL ChecksumFs moves a file and
    * its .crc sidecar in two steps during the pointer swap, so a reader
    * racing a publisher can transiently see new bytes under the old
    * checksum. HDFS/object-store renames don't have the window; on local
    * storage the state settles within one swap, so a short retry is
    * correct rather than papering over real corruption (it rethrows after
    * 10 attempts).
    */
  private def pointerLines(root: String, conf: Configuration): Option[Seq[String]] = {
    val ptr = new Path(root, Pointer)
    val fs = ptr.getFileSystem(conf)
    var attempts = 0
    while (true) {
      try {
        val in = try fs.open(ptr)
        catch { case _: java.io.FileNotFoundException => return None }
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        return Some(text.split('\n').toIndexedSeq.map(_.trim))
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempts += 1
          if (attempts >= 10) throw e
          Thread.sleep(5L * attempts)
      }
    }
    None // unreachable
  }

  /** Publish `df` as the next version of the table at `root`: write the
    * complete version directory (staged, then renamed into place),
    * atomically swap the pointer, prune old versions beyond
    * `keepVersions`. Returns the new version name.
    *
    * `keepVersions` counts the current version, so the minimum of 2
    * always retains the immediately-replaced version — a pinned reader of
    * the previous current must survive the publish, which is this layer's
    * whole purpose.
    *
    * Concurrent publishers are safe from corruption — version names carry
    * a unique suffix, so no two writers ever share a directory, and a
    * failed write leaves only an ignored staging dir — and the commit log
    * totally orders them. A plain publish (this method) derives from
    * nothing and never conflicts; set `requireBase` (with `parent` = the
    * version the content derived from) to arm the commit CAS for derived
    * publishes.
    */
  def publish(df: DataFrame, root: String, keepVersions: Int = 3,
      parent: Option[String] = None, requireBase: Boolean = false): String =
    publishInternal(df, root, keepVersions, Nil, parent = parent, requireBase = requireBase)

  /** As [[publish]], writing a Hive-partitioned layout inside the version
    * directory (readers declare the matching `partitionColumns` option).
    */
  def publishPartitioned(
      df: DataFrame, root: String, partitionColumns: Seq[String],
      keepVersions: Int = 3, parent: Option[String] = None,
      requireBase: Boolean = false): String =
    publishInternal(df, root, keepVersions, partitionColumns, parent = parent,
      requireBase = requireBase)

  /** Publish with a range-clustered layout: rows range-partitioned and
    * sorted on `clusterCols` across `numFiles` files. Each file then covers
    * a tight, near-disjoint [min,max] on the cluster key, which is what
    * makes the published `_STATS.json` effective — a selective filter on
    * the key plans O(matching) files instead of O(files)
    * ([[RefTableStats]]). The sort also helps parquet row-group/page skips
    * and compression inside each file. This is the data-layout half of
    * data skipping; the manifest is the metadata half — every publish
    * writes one, but un-clustered layouts rarely have prunable bounds.
    */
  def publishClustered(
      df: DataFrame, root: String, clusterCols: Seq[String], numFiles: Int,
      keepVersions: Int = 3, parent: Option[String] = None,
      requireBase: Boolean = false): String = {
    require(clusterCols.nonEmpty, "publishClustered needs at least one cluster column")
    require(numFiles > 0, "numFiles must be positive")
    val cols = clusterCols.map(df.col)
    publishInternal(
      df.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*),
      root, keepVersions, Nil, parent = parent, requireBase = requireBase,
      // self-describing layout commit: RefTableMaintenance reads the last
      // layout=* marker as the table's DECLARED layout, and counts commits
      // after it as mutation churn
      marker = Some(s"layout=cluster:${clusterCols.mkString(",")}"))
  }

  /** Marker file a bucketed publish writes into its version dir: the
    * bucket columns and count the file layout was hashed by.
    */
  val BucketsMarker = "_BUCKETS.json"

  /** Publish with a HASH-bucketed layout: rows land in `nBuckets` files by
    * `pmod(hash(bucketCols), n)` — Spark's own `HashPartitioning` id
    * expression, so `repartition(n, cols)` task indices ARE the bucket
    * ids and the staged `part-NNNNN` file names record them. A
    * `_BUCKETS.json` marker makes the layout self-describing.
    *
    * This is the point-mutation complement of [[publishClustered]]: range
    * clustering narrows mutations whose keys are LOCAL (a [min,max] band
    * maps to few files) but degrades to a full rewrite when the batch's
    * keys are scattered — the CDC shape. Hash bucketing touches exactly
    * the batch's buckets regardless of key distribution or order, so a
    * k-key upsert on an n-bucket table rewrites ≤ k files
    * ([[RefTableMutations.upsert]] composes this with stats narrowing).
    * The trade: bucketed files span the full key range, so range
    * predicates get no file skipping — pick the layout for the workload.
    * Like clustering, the property degrades under mutation (rewritten
    * files are not re-bucketed) until a re-publish restores it.
    */
  def publishBucketed(
      df: DataFrame, root: String, bucketCols: Seq[String], nBuckets: Int,
      keepVersions: Int = 3, parent: Option[String] = None,
      requireBase: Boolean = false): String = {
    require(bucketCols.nonEmpty, "publishBucketed needs at least one bucket column")
    require(nBuckets > 0, "nBuckets must be positive")
    publishVia(root, keepVersions, parent = parent, requireBase = requireBase,
      marker = Some(s"layout=bucket:${bucketCols.mkString(",")}:$nBuckets")) { staging =>
      writeParquetMicros(
        df.repartition(nBuckets, bucketCols.map(df.col): _*), staging.toString)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      val cols = node.putArray("cols")
      bucketCols.foreach(cols.add)
      node.put("n", nBuckets)
      LocalFs.createWrite(staging.getFileSystem(HadoopConf()),
        new Path(staging, BucketsMarker), om.writeValueAsBytes(node))
    }
  }

  /** Publish clustered on the z-order (Morton) curve over `zCols` instead
    * of lexicographically: every file then covers a bounded window in EACH
    * clustered dimension, so the stats manifest prunes selective filters
    * on any of them — the multi-column layout [[publishClustered]] cannot
    * give (its trailing columns get no locality). See [[ZOrder]].
    */
  def publishZOrdered(
      df: DataFrame, root: String, zCols: Seq[String], numFiles: Int,
      keepVersions: Int = 3, parent: Option[String] = None,
      requireBase: Boolean = false): String = {
    require(numFiles > 0, "numFiles must be positive")
    val zc = "__graft_z"
    val staged = df.withColumn(zc, ZOrder.zColumn(df, zCols))
    publishInternal(
      staged.repartitionByRange(numFiles, staged(zc)).sortWithinPartitions(zc).drop(zc),
      root, keepVersions, Nil, parent = parent, requireBase = requireBase,
      marker = Some(s"layout=zorder:${zCols.mkString(",")}"))
  }

  /** Zero-copy shallow CLONE: publish into `dstRoot` a version holding the
    * same data files as `srcRoot`'s current (or explicitly pinned)
    * version, without copying bytes where the filesystem supports hard
    * links (local POSIX; stores without link(2) fall back to a real copy).
    * The clone is a fully independent table — its own commit log, file
    * manifest and stats — so mutations, retention and vacuum on either
    * side never affect the other: links share bytes, and deletion only
    * unlinks, so vacuuming the SOURCE cannot invalidate the clone (and
    * vice versa). This is Delta/Iceberg "shallow clone" with stronger
    * isolation: their clones reference the source's files in place and
    * break when the source vacuums; a link-clone survives it. Cost:
    * O(files) metadata operations + one footer read per file for the
    * clone's own `_STATS.json`; 0 data bytes on link-capable stores.
    * `partitionColumns` must name the source's Hive layout when it has
    * one (same contract as readers); the layout is reproduced in the
    * clone.
    */
  def cloneTo(srcRoot: String, dstRoot: String, version: Option[String] = None,
      partitionColumns: Seq[String] = Nil, keepVersions: Int = 3): String = {
    val conf = HadoopConf()
    // merge-on-read sources clone too: the listing arrives with its pinned
    // DV positions attached, and a remapped sidecar re-keys them onto the
    // clone's fresh (c%05d-prefixed) file names — see writeRemapped
    val files = SnapshotFiles.list(srcRoot, partitionColumns, version)
    require(files.nonEmpty, s"cloneTo: source $srcRoot resolves to an empty listing")
    publishVia(dstRoot, keepVersions, marker = Some(s"clone=$srcRoot"),
        manifestPartitionCols = partitionColumns) { staging =>
      val staged = linkListingInto(files, staging, partitionColumns, conf, "cloneTo")
      DeletionVectors.writeRemapped(staged, staging, stagedVersionName(staging), conf)
      // in-dir clone marker: identifies this version as a clone even after
      // its commit record expires from the log — the verification
      // rebaseBranch's last-resort baseline fallback requires (underscore
      // name: invisible to listings, travels with the dir)
      LocalFs.createWrite(staging.getFileSystem(conf),
        new Path(staging, CloneMarker), s"""{"src":"$srcRoot"}""".getBytes("UTF-8"))
    }
  }

  /** Hard-link (or copy) a resolved listing into a staging directory,
    * reproducing the Hive partition layout from each file's physical
    * parents — the populate step shared by [[cloneTo]] and [[promote]].
    * Index-prefixed names: files inherited from different source version
    * dirs may collide on their basenames.
    */
  /** The version name a staging dir will carry once committed: rename-mode
    * stages under `.staging-<name>`, conditional stores stage in place.
    */
  private def stagedVersionName(staging: Path): String = {
    val n = staging.getName
    if (n.startsWith(".staging-")) n.substring(".staging-".length) else n
  }

  private def linkListingInto(
      files: Seq[SnapshotFile], staging: Path, partitionColumns: Seq[String],
      conf: Configuration, op: String): Seq[(SnapshotFile, String)] = {
    val fs = staging.getFileSystem(conf)
    fs.mkdirs(staging)
    files.zipWithIndex.map { case (f, i) =>
      val src = new Path(f.path)
      // the file's last partitionColumns.size parent segments are the
      // already-escaped `col=value` dirs (true for physical versions and
      // for manifest-hosted files alike — mutation staging preserves
      // partition subdirs)
      val partSegs = f.path.split('/').dropRight(1).takeRight(partitionColumns.size)
      require(partSegs.forall(_.contains('=')),
        s"$op: expected ${partitionColumns.size} 'col=value' parents of ${f.path}")
      val dir = partSegs.foldLeft(staging)((d, seg) => new Path(d, seg))
      if (partitionColumns.nonEmpty) fs.mkdirs(dir)
      val name = f"c$i%05d-${src.getName}"
      val dst = new Path(dir, name)
      LocalFs.linkOrCopy(src, dst, conf)
      (f, (partSegs :+ name).mkString("/"))
    }
  }

  /** PROMOTE — the publish half of write-audit-publish (WAP): make the
    * STAGING table's current content the TARGET's next version, by
    * hard-linked zero-copy (same mechanics as [[cloneTo]], in reverse).
    * The intended protocol: `cloneTo(target, staging)` forks the table for
    * O(files) metadata; the pipeline writes/audits on the staging clone in
    * isolation; `promote(staging, target, expectedBase = <fork version>)`
    * lands the audited state — and the CAS refuses if the target advanced
    * past the fork meanwhile, surfacing the concurrent write instead of
    * silently clobbering it (pass `expectedBase = None` for last-wins
    * promotion). Audited-but-rejected stagings are simply dropped —
    * nothing ever touched the target.
    */
  def promote(
      stagingRoot: String, targetRoot: String, expectedBase: Option[String] = None,
      partitionColumns: Seq[String] = Nil, keepVersions: Int = 3): String = {
    val conf = HadoopConf()
    // a MoR'd staging table promotes too: its pinned DV positions re-key
    // onto the promoted version's fresh file names (see cloneTo)
    val files = SnapshotFiles.list(stagingRoot, partitionColumns, None)
    require(files.nonEmpty, s"promote: staging $stagingRoot resolves to an empty listing")
    val base = expectedBase.orElse(resolve(targetRoot, conf).map(p => new Path(p).getName))
    publishVia(targetRoot, keepVersions, marker = Some(s"promote=$stagingRoot"),
        parent = base, requireBase = expectedBase.isDefined,
        manifestPartitionCols = partitionColumns) { staging =>
      val staged = linkListingInto(files, staging, partitionColumns, conf, "promote")
      DeletionVectors.writeRemapped(staged, staging, stagedVersionName(staging), conf)
    }
  }

  /** Bare snapshot data directly under a would-be root: loose parquet
    * files or non-version, non-hidden subdirectories (a Hive layout).
    * Creating a pointer next to such data would not corrupt it — but every
    * reader of the root would silently stop seeing it, which is as wrong
    * as deleting it. First publishes refuse; [[adopt]] migrates.
    */
  private def bareEntries(rootPath: Path, fs: org.apache.hadoop.fs.FileSystem): Seq[Path] =
    fs.listStatus(rootPath).toIndexedSeq.filter { s =>
      val n = s.getPath.getName
      (s.isFile && n.endsWith(".parquet")) ||
        (s.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
          !n.matches("v\\d{19}_[0-9a-f]{8}"))
    }.map(_.getPath)

  private def publishInternal(
      df: DataFrame, root: String, keepVersions: Int, partitionColumns: Seq[String],
      marker: Option[String] = None, parent: Option[String] = None,
      requireBase: Boolean = false): String =
    publishVia(root, keepVersions, marker, parent, requireBase,
      manifestPartitionCols = partitionColumns) { staging =>
      writeParquetMicros(df, staging.toString, partitionColumns)
    }

  /** The version `version` derived its content from, per its commit
    * record; None for derive-from-nothing publishes or uncommitted
    * (orphan) directories.
    */
  def parentOf(root: String, version: String,
      conf: Configuration = HadoopConf()): Option[String] =
    commitLog(root, conf).find(_.version == version).flatMap(_.parent)

  /** Optimistic-concurrency wrapper for read-modify-write publishes
    * (append, delete, upsert, compact): `attempt` must re-read the
    * CURRENT version, derive from it, and publish with the commit CAS
    * armed (`requireBase`). A [[CommitConflictException]] — a concurrent
    * writer committed first; nothing of ours landed — re-runs the attempt
    * against the new current, bounded by `maxAttempts`. Concurrent
    * writers thus serialize in some order instead of silently losing all
    * but the last.
    */
  def withConflictRetry[T](root: String, maxAttempts: Int = 10)(attempt: () => T): T = {
    var attempts = 0
    while (true) {
      try return attempt()
      catch {
        case e: CommitConflictException =>
          attempts += 1
          if (attempts >= maxAttempts)
            throw new java.util.ConcurrentModificationException(
              s"publish to $root lost its commit CAS $maxAttempts times under " +
                s"concurrent writers; giving up (no partial state was committed): ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write `df` as parquet with timestamps as INT64 micros, not Spark's
    * default INT96: micros are the modern standard (what Delta/Iceberg
    * write), and their footer min/max are exact integers the skipping
    * manifest can record — INT96 stats are untrustworthy and would leave
    * timestamp filters unprunable. Session conf is the only switch parquet
    * exposes, so set and restore around the write.
    */
  /** Counted conf region: commits may legally OVERLAP on driver threads
    * (independent roots — see RelationalSupport.overlap), and a plain
    * set/restore pair races — the first writer's restore could land while
    * a second write is still between its set and its write planning,
    * snapshotting the default INT96 into that job. The conf instead holds
    * TIMESTAMP_MICROS while ANY write is in flight and restores to the
    * first entrant's captured previous value when the last exits.
    */
  private val microsRegion = new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

  private[reftable] def writeParquetMicros(
      df: DataFrame, dir: String, partitionColumns: Seq[String] = Nil,
      colocatePartitions: Boolean = true): Unit = {
    val tsConfKey = "spark.sql.parquet.outputTimestampType"
    val spark = df.sparkSession
    // Hive-layout writes: co-locate each partition VALUE onto one task
    // before the dynamic-partition write (the q219 shard-write move,
    // guide §6 "hash distribution avoids many-small-files at the cost of
    // a shuffle" — Iceberg's write.distribution-mode=hash). Without this
    // the staged file count is tasks × touched-partition-values, i.e. it
    // scales with the CORE COUNT, not the data: measured at 10× data,
    // q123's DML chain ran 1.9× SLOWER on 32 cores than on 8 purely from
    // the file-count blowup each subsequent pass re-listed/re-read. With
    // co-location the count is O(distinct partition values) at every
    // core count. A single hot partition value becomes a one-task write —
    // at real scale, size-skewed layouts should publish through the
    // clustered/bucketed writers instead (explicit numFiles). Callers
    // that pre-arrange their layout (recluster/z-order) opt out.
    val src =
      if (partitionColumns.isEmpty || !colocatePartitions) df
      else df.repartition(partitionColumns.map(df.col): _*)
    microsRegion.synchronized {
      microsRegion.get(spark) match {
        case null =>
          val prev = spark.conf.getOption(tsConfKey)
          spark.conf.set(tsConfKey, "TIMESTAMP_MICROS")
          microsRegion.put(spark, (1, prev))
        case (n, prev) => microsRegion.put(spark, (n + 1, prev))
      }
    }
    try {
      val writer = src.write
      (if (partitionColumns.isEmpty) writer else writer.partitionBy(partitionColumns: _*))
        .parquet(dir)
    } finally microsRegion.synchronized {
      microsRegion.get(spark) match {
        case (1, prev) =>
          microsRegion.remove(spark)
          prev match {
            case Some(v) => spark.conf.set(tsConfKey, v)
            case None => spark.conf.unset(tsConfKey)
          }
        case (n, prev) => microsRegion.put(spark, (n - 1, prev))
      }
    }
  }

  /** The publish protocol around an arbitrary staging populate step —
    * shared by DataFrame publishes and the file-granular copy-on-write
    * mutations ([[RefTableMutations]]), which stage a mix of rewritten and
    * carried-over files.
    */
  private[reftable] def publishVia(
      root: String, keepVersions: Int, marker: Option[String] = None,
      parent: Option[String] = None, requireBase: Boolean = false,
      manifestPartitionCols: Seq[String] = Nil,
      rebase: Option[RebaseSpec] = None)(
      populate: Path => Unit): String = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2: retaining only the current version would delete " +
        "the previous one under readers still pinned to it")
    val conf = HadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (resolve(root, conf).isEmpty && fs.exists(rootPath) && bareEntries(rootPath, fs).nonEmpty)
      throw new IllegalStateException(
        s"$root holds bare snapshot data without a $Pointer pointer; publishing would " +
          "shadow it for every reader of the root. Run VersionedTable.adopt(root) once " +
          "(with readers quiesced) to migrate it into version form, or target a fresh dir.")
    // CAS armed: fail fast before staging any data when the base is
    // already stale (the authoritative check is the commit claim itself)
    if (requireBase) {
      val last = lastCommit(root, conf).map(_.version)
      if (last != parent)
        throw new CommitConflictException(
          s"base ${parent.getOrElse("<fresh root>")} of this publish is no longer the " +
            s"latest commit of $root (now ${last.getOrElse("<none>")})")
    }
    fs.mkdirs(rootPath)
    // monotonic version names even under clock ties: bump past the max;
    // the random suffix keeps concurrent publishers out of each other's
    // directories
    val existing = versionDirs(root, conf)
    val next = math.max(System.currentTimeMillis(),
      existing.lastOption.map(versionNum(_) + 1).getOrElse(0L))
    val name = f"v$next%019d" + "_" + java.util.UUID.randomUUID().toString.take(8)
    val prim = CommitPrimitive.forPath(rootPath, conf)
    // rename-capable stores stage under an ignored `.staging-` name and
    // rename into place; conditional stores (no atomic dir rename) stage
    // IN PLACE under the final name — visibility comes from the commit
    // claim either way, so an uncommitted in-place dir is exactly the
    // orphan state a rename-mode publish leaves when it crashes between
    // its rename and its claim (ignored by resolve/retention/vacuum)
    val staging =
      if (prim.atomicDirRename) new Path(rootPath, s".staging-$name")
      else {
        // the commit-log dir must exist BEFORE the in-place dir appears,
        // so readers treat the log as authoritative (resolveRobust) and
        // never mistake a mid-populate first publish for a broken root
        fs.mkdirs(new Path(rootPath, CommitsDir))
        new Path(rootPath, name)
      }
    populateRuns.incrementAndGet()
    populate(staging)
    // every version carries a FILE manifest: plain publishes get a
    // materialized listing (one-read resolution, no directory walks at
    // read time); populate steps that already wrote one (mutation deltas,
    // append references) are left untouched
    RefTableFileManifest.writeFull(staging, manifestPartitionCols, conf)
    // the statistics manifest is written into the staging dir, so the
    // version becomes visible with data and stats as one unit and the
    // manifest's relative file keys stay valid under the final name
    RefTableStats.writeManifest(staging.toString, conf)
    if (prim.atomicDirRename) {
      // local scheme: rename(2) via NIO — the FileContext local rename
      // forks subprocesses (~28 ms/call without native libhadoop, see
      // LocalFs); the uuid-suffixed destination cannot pre-exist
      LocalFs.renameNoReplace(staging, new Path(rootPath, name), conf)
    }
    onBeforeClaim.foreach(_(root))
    // the commit claim makes the version visible (and is the CAS for
    // derived publishes); a lost claim deletes our never-committed dir —
    // no reader can have resolved to it. When the caller supplied a
    // RebaseSpec, a lost claim first tries a COMMIT REBASE: if every
    // intervening commit's delta is disjoint from this publish's
    // read/write set, the staged dir re-points at the new head and
    // re-claims — the derivation job is never re-run. The rebase re-stamps
    // the staged dir by a directory rename, so only rename-capable stores
    // attempt it; conditional stores re-derive.
    val commit =
      try commitVersion(root, name, marker, parent,
        if (requireBase) Some(parent) else None, conf)
      catch {
        case e: CommitConflictException =>
          (rebase, parent) match {
            case (Some(spec), Some(base)) if prim.atomicDirRename =>
              tryRebase(root, name, base, marker, spec, conf) match {
                case Some(c) =>
                  rebasedCommits.incrementAndGet()
                  c
                case None =>
                  fs.delete(new Path(rootPath, name), true)
                  throw e
              }
            case _ =>
              fs.delete(new Path(rootPath, name), true)
              throw e
          }
      }
    // a rebase re-stamps the staged dir (see tryRebase), so the COMMITTED
    // name — not the staging-time `name` — is what everything below and
    // the caller must reference
    val committed = commit.version
    // best-effort cache for external tooling and legacy readers; the
    // commit log is authoritative, so cache failures are swallowed
    swapPointerCache(rootPath, fs, conf, committed + marker.fold("")("\n" + _))
    // a layout-establishing publish re-declares the table's intended
    // layout at the root, where retention can't prune it
    marker.filter(_.startsWith("layout=")).foreach { m =>
      try CommitPrimitive.forPath(rootPath, conf).overwrite(
        new Path(rootPath, LayoutDecl), s"${commit.seq}\n$m".getBytes("UTF-8"), conf)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // retention: drop committed states beyond keepVersions (ours counts),
    // oldest first; never anything at or after our own sequence. A
    // directory that RETAINED versions still depend on (their manifest
    // chain walks it, or it hosts files they reference) loses its commit
    // but keeps its bytes — reference-counted GC with the commit log as
    // the root set; a later vacuum collects it once nothing references it.
    val all = commitFiles(root, conf)
    val doomed = all.dropRight(keepVersions).filter(_._1 < commit.seq)
    if (doomed.nonEmpty) {
      // tagged versions keep their commit AND their bytes (plus their
      // manifest-chain closure, via the protectedDirs root set below);
      // a declared time window ([[RetentionDecl]]) keeps every version
      // younger than it, on top of the count floor
      val tagged = taggedVersions(root, conf)
      val retainCutoff = declaredRetentionMs(root, conf)
        .map(ms => System.currentTimeMillis() - ms)
      // kept-by-age versions join the protected root set: an expired
      // version's directory may HOST files a younger (kept) one references
      val retained = all.takeRight(keepVersions).flatMap { case (s, p) =>
        try Some(readCommit(s, p, conf).version)
        catch { case _: java.io.FileNotFoundException => None }
      } ++ tagged ++ all.dropRight(keepVersions).flatMap { case (s, p) =>
        try Some(readCommit(s, p, conf).version)
          .filter(v => retainCutoff.exists(versionTimestampMs(v) >= _))
        catch { case _: java.io.FileNotFoundException => None }
      }
      val protectd = RefTableFileManifest.protectedDirs(root, retained, conf)
      doomed.foreach { case (seq, p) =>
        val victim =
          try Some(readCommit(seq, p, conf).version)
          catch { case _: java.io.FileNotFoundException => None } // a racing pruner got it
        val young = retainCutoff.exists(cut =>
          victim.exists(v => versionTimestampMs(v) >= cut))
        if (!victim.exists(tagged) && !young) {
          victim.filterNot(_ == committed).filterNot(protectd)
            .foreach(v => fs.delete(new Path(rootPath, v), true))
          fs.delete(p, false)
        }
      }
    }
    committed
  }

  /** COMMIT REBASE (see [[RebaseSpec]]): the staged version dir `name0`
    * lost its claim against `base`. Check every intervening commit's delta
    * against the spec's read/write set; when disjoint, RE-STAMP the staged
    * dir to a name newer than the head (manifest self-refs are ./-relative,
    * so they survive the rename), re-point its `_FILES.json` at the new
    * head (same removed/added delta, new parent), re-carry the head's DV
    * sidecars, and re-claim. The re-stamp is load-bearing twice over: the
    * orphan sweep ([[vacuum]]) collects uncommitted dirs older than the
    * retention floor, and a staged dir that kept its pre-conflict stamp
    * while `keepVersions` concurrent commits land would fall below that
    * floor mid-loop — swept, then silently recreated EMPTY by the next
    * manifest write, committing a delta that drops every surviving row of
    * its touched files; and version-name stamps must stay monotonic with
    * commit order or `ts:` time travel ([[resolveAsOf]]) resolves past the
    * rebased head. A pre-claim existence check on the staged bytes backstops
    * the sweep race anyway: a wiped dir falls back to re-derive, never to a
    * silent empty commit. Loops while newer heads keep landing; None
    * (→ caller re-derives) on any overlap, a vanished base listing, missing
    * staged bytes, or after bounded attempts — the staged dir (under its
    * current name) is deleted on every None. The dir is never visible to
    * readers during any of this — only the winning claim publishes it.
    */
  private def tryRebase(
      root: String, name0: String, base: String, marker: Option[String],
      spec: RebaseSpec, conf: Configuration): Option[Commit] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    var name = name0
    def dropStaged(): Unit =
      try fs.delete(new Path(rootPath, name), true)
      catch { case scala.util.control.NonFatal(_) => () }
    try {
      // the staged dir's own data files, captured up front: every attempt
      // re-verifies they survived before committing a manifest over them
      val qualifiedStaged = fs.makeQualified(new Path(rootPath, name)).toString
      val stagedSelf = SnapshotFiles
        .listPhysical(qualifiedStaged, spec.partitionColumns)
        .map(_.path.stripPrefix(qualifiedStaged + "/"))
      val baseRels = listingEntries(root, base, spec.partitionColumns, conf).map(_.rel).toSet
      // read set ⊆ base's files by construction; verify so rule 1 is sound
      // even if a caller passed paths in a different spelling
      if (!spec.readRel.forall(baseRels.contains)) { dropStaged(); return None }
      val baseDvNames = DeletionVectors.sidecars(
        new Path(root, base).toString, conf).map(_.getName).toSet
      var attempts = 0
      while (attempts < 10) {
        attempts += 1
        // rule 0: the caller's own admission check (txn replay, etc.) must
        // still hold against the moved head
        if (!spec.revalidate()) { dropStaged(); return None }
        val head = lastCommit(root, conf).getOrElse { dropStaged(); return None }
        val headDir = new Path(root, head.version).toString
        val headEntries = listingEntries(root, head.version, spec.partitionColumns, conf)
        val headRels = headEntries.map(_.rel).toSet
        // rule 1: every file we read (rewrote, removed, or marked positions
        // in) must still be live — a concurrent commit that removed or
        // rewrote one of them invalidated our derivation
        if (!spec.readRel.forall(headRels.contains)) { dropStaged(); return None }
        val removedByThem = baseRels.diff(headRels)
        val added = headEntries.filterNot(e => baseRels.contains(e.rel))
        val newDvNames = DeletionVectors.sidecars(headDir, conf)
          .map(_.getName).filterNot(baseDvNames.contains)
        // rule 2: deletion-vector positions added since our base must not
        // reference a file we REWROTE (our rewrite of the pre-DV image
        // would resurrect the concurrently-deleted rows) nor — for
        // image-staging MoR ops — a file we merely read (our staged image
        // could resurrect or duplicate a concurrently-mutated row). A
        // non-image MoR delete tolerates position marks on read files only
        // against a PURE position delta: once their chain also staged data
        // files, their images may hold rows our predicate never scanned.
        if (newDvNames.nonEmpty && spec.readRel.nonEmpty) {
          val newDvRefs = DeletionVectors.referencedFiles(headDir, baseDvNames, conf)
          if (newDvRefs.exists(spec.removedRel.contains)) { dropStaged(); return None }
          if (newDvRefs.exists(spec.readRel.contains) &&
              (spec.stagesImages || added.nonEmpty || removedByThem.nonEmpty)) {
            dropStaged(); return None
          }
        }
        // rule 3: files added by the concurrent commits, judged by the
        // caller's read predicate. A pure blind append (nothing removed, no
        // positions marked) is exempt unless the caller is key-matching.
        val blindAppend = removedByThem.isEmpty && newDvNames.isEmpty
        if (added.nonEmpty && (!blindAppend || spec.conflictOnBlindAppend) &&
            spec.addedMayMatch(headDir, added)) { dropStaged(); return None }
        // compatible: RE-STAMP the staged dir past the head (and past its
        // own current stamp) so it stays above the orphan-sweep floor and
        // the published name orders after the head it commits onto
        val freshNum = math.max(System.currentTimeMillis(),
          math.max(versionNum(head.version), versionNum(name)) + 1)
        val freshName = f"v$freshNum%019d" + "_" + java.util.UUID.randomUUID().toString.take(8)
        LocalFs.renameNoReplace(new Path(rootPath, name), new Path(rootPath, freshName), conf)
        name = freshName
        onBeforeRebaseCommit.foreach(_(new Path(rootPath, name).toString))
        // backstop: a sweep that raced the pre-rename window leaves a
        // recreated-empty dir — committing it would publish a delta that
        // silently drops every surviving row of its touched files
        val stagedDir = new Path(rootPath, name)
        if (!fs.exists(stagedDir) ||
            !stagedSelf.forall(r => fs.exists(new Path(stagedDir, r)))) {
          dropStaged(); return None
        }
        // swap the staged manifest's parent to the head (same removed set —
        // removedRel ⊆ head's files per rule 1 — same staged files) and
        // re-carry the head's sidecars beside our own
        RefTableFileManifest.writeDelta(root, stagedDir,
          head.version, spec.removedRel, spec.partitionColumns, conf)
        try return Some(commitVersion(root, name, marker, Some(head.version),
          Some(Some(head.version)), conf))
        catch { case _: CommitConflictException => () } // a newer head landed: loop
      }
      dropStaged()
      None
    } catch {
      // any surprise (pruned base dir, unreadable manifest) falls back to
      // the re-derive path, which is always correct
      case scala.util.control.NonFatal(_) => dropStaged(); None
    }
  }

  /** Complete root-relative listing of a committed version: its file
    * manifest when present, else the physical walk (legacy/adopted
    * versions).
    */
  private def listingEntries(
      root: String, version: String, partitionColumns: Seq[String],
      conf: Configuration): Seq[RefTableFileManifest.Entry] =
    RefTableFileManifest.resolve(root, version, partitionColumns, conf).getOrElse {
      val fs = new Path(root).getFileSystem(conf)
      val qualifiedRoot = fs.makeQualified(new Path(root)).toString
      SnapshotFiles.listPhysical(new Path(root, version).toString, partitionColumns).map { f =>
        RefTableFileManifest.Entry(
          if (f.path.startsWith(qualifiedRoot + "/")) f.path.substring(qualifiedRoot.length + 1)
          else f.path,
          f.length, f.partitionValues)
      }
    }

  /** Hidden-partitioned publish — Iceberg-style partition transforms
    * ([[RefTableTransforms]]): the data lays out under DERIVED directories
    * (`ts_day=2024-01-07/`, `user_id_bucket=7/`) while every source
    * column stays stored in the data files. Readers declare
    * `hiddenPartitions` with the same specs; plain predicates on the
    * source columns then prune whole directories at listing time — before
    * stats manifests or footers — and the query never mentions the
    * transform. Specs: `days(col)`, `bucket(n, col)`, `truncate(w, col)`.
    */
  def publishHiddenPartitioned(
      df: DataFrame, root: String, transforms: Seq[String],
      keepVersions: Int = 3): String = {
    require(transforms.nonEmpty, "publishHiddenPartitioned needs at least one transform")
    val parsed = transforms.map(spec => RefTableTransforms.parse(df.schema, spec)
      .fold(m => throw new IllegalArgumentException(m), identity))
    val staged = parsed.foldLeft(df)((d, t) => d.withColumn(t.dirName, t.sparkExpr))
    publishInternal(staged, root, keepVersions, parsed.map(_.dirName),
      marker = Some(s"layout=hidden:${transforms.mkString(";")}"))
  }

  /** RESTORE (rollback): make an earlier committed version's exact content
    * the NEW current version — the Delta `RESTORE TABLE … TO VERSION AS OF`
    * shape. Metadata-only regardless of table size: the new version
    * directory holds just a `_FILES.json` whose parent is `toVersion` with
    * nothing removed and nothing added, so the commit is O(1) manifest
    * entries and 0 data bytes. Rollback is a NEW commit, not an erase —
    * history keeps the bad versions for audit, pinned readers of
    * intermediate versions are untouched, and retention protects
    * `toVersion`'s bytes for as long as the restore references them
    * (manifest-chain protection, same as any mutation). CAS-guarded: a
    * publish that lands between resolving the current version and the
    * restore commit fails the base check and the restore re-derives, so
    * the rollback decision is always made against the version it actually
    * supersedes.
    */
  def restore(root: String, toVersionOrTag: String, keepVersions: Int = 3,
      partitionColumns: Seq[String] = Nil): String = withConflictRetry(root) { () =>
    val conf = HadoopConf()
    // `tag:<name>` restores the tagged version (tags protect their target
    // from retention, so this is always a retained state); `ts:<timestamp>`
    // restores TIMESTAMP AS OF
    val toVersion = resolveSpec(root, toVersionOrTag, conf)
    val current = resolve(root, conf).map(p => new Path(p).getName).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table root"))
    val committed = committedVersionDirs(root, conf)
    require(committed.contains(toVersion),
      s"restore: $toVersion is not a committed version of $root " +
        s"(committed: ${committed.mkString(", ")})")
    if (toVersion == current) current
    else {
      val rootPath = new Path(root)
      require(rootPath.getFileSystem(conf).exists(new Path(rootPath, toVersion)),
        s"restore: version directory $toVersion of $root no longer exists on disk")
      publishVia(root, keepVersions, marker = Some(s"restore=$toVersion"),
          parent = Some(current), requireBase = true,
          manifestPartitionCols = partitionColumns) { staging =>
        RefTableFileManifest.writeDelta(
          root, staging, parentVersion = toVersion, removedRel = Set.empty,
          partitionColumns = partitionColumns, conf = conf)
      }
    }
  }

  // ------------------------------------------------------------------
  // Tags: named immutable version references (the Iceberg tag shape).
  // A tag pins a committed version by NAME — `version=tag:<name>` reads
  // it on every read surface, and BOTH retention paths (publish-time
  // pruning and vacuum) keep the tagged version's commit, directory, and
  // manifest-chain closure alive for as long as the tag exists. Drop the
  // tag and the next vacuum collects normally. Tag files live under
  // `_TAGS/<name>.json` and are created through the root's commit
  // primitive, so create-once works on object stores too.
  // ------------------------------------------------------------------

  val TagsDir = "_TAGS"
  private val TagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$"

  private def tagPath(rootPath: Path, name: String): Path =
    new Path(new Path(rootPath, TagsDir), s"$name.json")

  /** Tag the current (or an explicitly named, still-committed) version.
    * Create-once: an existing tag refuses unless `replace` — a tag that
    * silently moved would change what every pinned reader sees. Returns
    * the tagged version name.
    */
  def tag(root: String, name: String, version: Option[String] = None,
      replace: Boolean = false): String = {
    require(name.matches(TagNameRe),
      s"tag: invalid tag name '$name' (allowed: letters, digits, '.', '_', '-'; " +
        "must start alphanumeric; max 128 chars)")
    val conf = HadoopConf()
    val target = version.getOrElse(
      resolve(root, conf).map(p => new Path(p).getName).getOrElse(
        throw new IllegalArgumentException(s"$root is not a versioned table root")))
    val committed = committedVersionDirs(root, conf)
    require(committed.contains(target),
      s"tag: $target is not a committed version of $root " +
        s"(committed: ${committed.mkString(", ")})")
    val rootPath = new Path(root)
    val content =
      s"""{"version":"$target","created":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8")
    val prim = CommitPrimitive.forPath(rootPath, conf)
    val p = tagPath(rootPath, name)
    if (replace) prim.overwrite(p, content, conf)
    else if (!prim.putIfAbsent(p, content, conf))
      throw new IllegalArgumentException(
        s"tag: '$name' already exists at $root (replace=true moves it)")
    // TOCTOU close: a concurrent publish-time prune or vacuum that listed
    // tags BEFORE our file landed can still have deleted the target
    // version. Re-verify after the tag is durable; a dangling tag must
    // fail loudly here, not at some future reader.
    val fs = rootPath.getFileSystem(conf)
    val stillRetained = committedVersionDirs(root, conf).contains(target) &&
      fs.exists(new Path(rootPath, target))
    if (!stillRetained) {
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
      throw new IllegalStateException(
        s"tag: version $target of $root was retention-pruned while tagging; " +
          "tag dropped — re-tag a retained version")
    }
    target
  }

  /** Remove a tag; the next retention/vacuum pass may collect the version
    * it protected. Returns whether the tag existed.
    */
  def dropTag(root: String, name: String): Boolean = {
    val conf = HadoopConf()
    val rootPath = new Path(root)
    val p = tagPath(rootPath, name)
    val fs = rootPath.getFileSystem(conf)
    try fs.delete(p, false)
    catch { case _: java.io.FileNotFoundException => false }
  }

  /** All tags as (name, version, createdMs), name-ordered. */
  def tags(root: String,
      conf: Configuration = HadoopConf()): Seq[(String, String, Long)] = {
    val dir = new Path(new Path(root), TagsDir)
    val fs = dir.getFileSystem(conf)
    val entries =
      try fs.listStatus(dir).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      catch { case _: java.io.FileNotFoundException => Nil }
    entries.flatMap { s =>
      val in = fs.open(s.getPath)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      val v = node.path("version").asText()
      if (v.isEmpty) None
      else Some((s.getPath.getName.stripSuffix(".json"), v, node.path("created").asLong()))
    }.sortBy(_._1)
  }

  /** The version a tag names, if the tag exists. */
  def resolveTag(root: String, name: String,
      conf: Configuration = HadoopConf()): Option[String] = {
    val p = tagPath(new Path(root), name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val v = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(in).path("version").asText()
      finally in.close()
      Some(v).filter(_.nonEmpty)
    }
  }

  /** Versions any tag protects (the retention keep-set addition). */
  private[reftable] def taggedVersions(root: String, conf: Configuration): Set[String] =
    tags(root, conf).map(_._2).toSet

  // ---- Writable branches ---------------------------------------------
  // A branch is the MUTABLE counterpart of a tag: a named, independently
  // writable lineage forked from a committed version — the Iceberg branch
  // shape for dev/test-on-prod-data, rebuilt on machinery this table
  // protocol already has. A branch is a zero-copy clone ([[cloneTo]]:
  // hard-linked listing, own commit log/manifests/stats/DV sidecars)
  // nested under `_BRANCHES/<name>`, so EVERY read, write, mutation and
  // streaming surface works against it unchanged (readers/writers target
  // it via the `branch` option — a pure path rewrite — or the branch root
  // path); and fast-forward is [[promote]] CAS-guarded on the recorded
  // fork version — main moved since the fork ⇒ loud CommitConflict
  // refusal, exactly the WAP publish contract. Branch existence is the
  // create-once `_FORK` marker claim (racing creates lose); vacuum and
  // retention never touch `_BRANCHES` (non-version root entries), and a
  // branch SURVIVES main's vacuum of its fork version — hard links keep
  // the bytes, stronger isolation than Iceberg/Delta branches.

  val BranchesDir = "_BRANCHES"

  def branchRoot(root: String, name: String): String =
    s"${root.stripSuffix("/")}/$BranchesDir/$name"

  private def forkPath(root: String, name: String): Path =
    new Path(new Path(branchRoot(root, name)), "_FORK")

  /** Fork a writable branch off the current (or `version`-pinned: a name,
    * `tag:<t>`, `ts:<spec>`) state. Returns the fork version name.
    */
  def createBranch(root: String, name: String, version: Option[String] = None,
      partitionColumns: Seq[String] = Nil, keepVersions: Int = 3): String = {
    require(name.matches(TagNameRe),
      s"branch: invalid branch name '$name' (allowed: letters, digits, '.', '_', " +
        "'-'; must start alphanumeric; max 128 chars)")
    val conf = HadoopConf()
    val fork = version match {
      case Some(v) =>
        new Path(SnapshotFiles.resolveDir(root, Some(v), conf)).getName
      case None => resolve(root, conf).map(p => new Path(p).getName).getOrElse(
        throw new IllegalArgumentException(
          s"branch: $root is not a versioned table root"))
    }
    val p = forkPath(root, name)
    val content =
      s"""{"version":"$fork","created":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8")
    // existence IS the marker claim: racing creates lose loudly, and the
    // clone below publishes into a root only this caller owns
    if (!CommitPrimitive.forPath(p, conf).putIfAbsent(p, content, conf))
      throw new IllegalArgumentException(
        s"branch: '$name' already exists at $root (dropBranch releases it)")
    val cloned =
      try cloneTo(root, branchRoot(root, name), Some(fork), partitionColumns, keepVersions)
      catch { case e: Throwable =>
        // a failed clone must not leave an unusable claimed name
        try p.getFileSystem(conf).delete(new Path(branchRoot(root, name)), true)
        catch { case _: java.io.IOException => () }
        throw e
      }
    // record the rebase baseline: the clone version's content IS the fork
    writeFork(root, name, fork, Some(cloned), conf)
    fork
  }

  /** The fork version a branch's next fast-forward CASes against. */
  def branchFork(root: String, name: String,
      conf: Configuration = HadoopConf()): Option[String] =
    readFork(root, name, "version", conf)

  /** The BRANCH version whose content matched main at the recorded fork —
    * the baseline a rebase diffs the branch's delta against. Recorded by
    * createBranch / fastForward / rebaseBranch since round 16; absent on
    * older branches (rebase then falls back to the clone commit).
    */
  def branchBase(root: String, name: String,
      conf: Configuration = HadoopConf()): Option[String] =
    readFork(root, name, "base", conf)

  private def readFork(root: String, name: String, field: String,
      conf: Configuration): Option[String] = {
    val p = forkPath(root, name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val v = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(in).path(field).asText()
      finally in.close()
      Some(v).filter(_.nonEmpty)
    }
  }

  /** (Over)write a branch's fork marker: `version` is the MAIN version the
    * next fast-forward CASes against; `base` the branch version whose
    * content matched it (None preserves any previously recorded base).
    */
  private def writeFork(root: String, name: String, version: String,
      base: Option[String], conf: Configuration): Unit = {
    val b = base.orElse(branchBase(root, name, conf))
      .map(v => s""","base":"$v"""").getOrElse("")
    CommitPrimitive.forPath(forkPath(root, name), conf).overwrite(
      forkPath(root, name),
      s"""{"version":"$version"$b,"created":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"), conf)
  }

  /** All branches: (name, fork version, branch head version if published). */
  def branches(root: String, conf: Configuration = HadoopConf())
      : Seq[(String, String, Option[String])] = {
    val dir = new Path(new Path(root), BranchesDir)
    val fs = dir.getFileSystem(conf)
    val entries =
      try fs.listStatus(dir).toSeq.filter(_.isDirectory)
      catch { case _: java.io.FileNotFoundException => Nil }
    entries.flatMap { s =>
      val n = s.getPath.getName
      branchFork(root, n, conf).map(f =>
        (n, f, resolve(branchRoot(root, n), conf).map(p => new Path(p).getName)))
    }.sortBy(_._1)
  }

  /** Fast-forward: the branch head's exact content becomes main's next
    * version — zero data copied (hard-linked listing), CAS-guarded on the
    * fork version, so a main that moved since the fork REFUSES loudly
    * (CommitConflictException) instead of silently clobbering concurrent
    * work; rebase by re-branching. On success the branch re-points its
    * fork at the promoted version, so further branch work can fast-forward
    * again — the branch cycles, it does not burn.
    */
  def fastForward(root: String, name: String,
      partitionColumns: Seq[String] = Nil, keepVersions: Int = 3): String = {
    val conf = HadoopConf()
    val bRoot = branchRoot(root, name)
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      val fork = branchFork(root, name, conf).getOrElse(
        throw new IllegalArgumentException(
          s"branch: '$name' does not exist at $root (createBranch forks one)"))
      // the branch head being promoted becomes the new rebase baseline (its
      // content IS the new fork's content)
      val bHead = resolve(bRoot, conf).map(p => new Path(p).getName)
      try {
        val promoted = promote(bRoot, root,
          expectedBase = Some(fork), partitionColumns, keepVersions)
        writeFork(root, name, promoted, bHead, conf)
        return promoted
      } catch {
        case e: CommitConflictException =>
          // STALE-MARKER HEAL: a previous fastForward's promote landed but
          // its fork re-point never ran — a crash in that window, or a
          // CONCURRENT caller whose promote won while ours staged. Either
          // way, if main's HEAD is a promote of THIS branch the marker is
          // simply stale. What happens next depends on whether that landed
          // promote already carries the branch head's exact content:
          // content-equal → nothing is left to promote; heal the marker AND
          // record the rebase baseline (the branch head's content IS
          // main's head content). Content differs → branch commits landed
          // after that promote; heal the marker only, then RETRY — the
          // next promote CASes against the healed fork and lands them
          // (returning here without retrying would report success while
          // silently leaving those commits unpromoted).
          lastCommit(root, conf) match {
            case Some(c) if c.marker.contains(s"promote=$bRoot") =>
              val promotedNames = listingEntries(root, c.version, partitionColumns, conf)
                .map(e => contentName(e.rel)).toSet
              val branchNames = bHead.map(v =>
                listingEntries(bRoot, v, partitionColumns, conf)
                  .map(e => contentName(e.rel)).toSet)
              if (branchNames.contains(promotedNames)) {
                writeFork(root, name, c.version, bHead, conf)
                return c.version
              }
              writeFork(root, name, c.version, None, conf)
            case _ => throw e
          }
      }
    }
    throw new CommitConflictException(
      s"fastForward: branch '$name' at $root kept conflicting after repeated " +
        "marker heals — concurrent fastForward callers are racing; re-invoke")
  }

  /** The delta-identity of a linked file: clone/promote/rebase links name
    * files `c%05d-<original>`, so stripping every such prefix recovers the
    * original Spark part-file name (globally unique via its job UUID) —
    * the key that matches a branch's copy of a file to main's.
    */
  private def contentName(rel: String): String = {
    var n = rel.substring(rel.lastIndexOf('/') + 1)
    while (n.length > 7 && n.startsWith("c") && n.charAt(6) == '-' &&
        n.substring(1, 6).forall(_.isDigit))
      n = n.substring(7)
    n
  }

  /** REBASE a branch whose main has MOVED since the fork: replay the
    * branch's cumulative file delta (files it removed/rewrote, files it
    * added — identified across the clone boundary by [[contentName]]) onto
    * main's new head, zero-copy, refusing LOUDLY when the deltas overlap
    * (the branch rewrote a file main also rewrote, or either side has
    * un-materialized deletion vectors). On success main's next version is
    * `head + branch delta`, the fork re-points there, and the branch
    * re-syncs to the rebased state — so it cycles exactly like
    * [[fastForward]] (which this delegates to when main has not moved).
    *
    * The write-set disjointness check is the same shape as the commit
    * rebase ([[RebaseSpec]] rule 1) at branch granularity: a removed
    * content-name missing from main's head means main rewrote or removed
    * it too → refuse. Predicate-sensitivity across sides (main added rows
    * a branch mutation's WHERE would have matched) is not re-checked at
    * this granularity — the branch contract is file-level isolation, as
    * with git's merge model.
    */
  def rebaseBranch(root: String, name: String,
      partitionColumns: Seq[String] = Nil, keepVersions: Int = 3): String = {
    val conf = HadoopConf()
    val bRoot = branchRoot(root, name)
    branchFork(root, name, conf).getOrElse(
      throw new IllegalArgumentException(
        s"branch: '$name' does not exist at $root (createBranch forks one)"))
    // branch delta baseline: the recorded base (the branch version whose
    // content matched main at the fork — maintained by createBranch /
    // fastForward / rebaseBranch), else legacy discovery: the clone commit
    // (seq 1) when retained, else the earliest surviving version dir — but
    // ONLY when that dir is verifiably the clone (its retained commit says
    // so, or it carries the staged [[CloneMarker]]): once the branch has
    // rewritten every clone-hosted file, the clone dir itself can be
    // vacuumed, and an unverified "earliest survivor" may POSTDATE the
    // clone — diffing against it drops the branch's older removals, so
    // branch-deleted rows would silently resurrect on the rebased main.
    // An unresolvable base refuses with the remedy instead.
    val cloneV = branchBase(root, name, conf)
      .orElse(commitLog(bRoot, conf).find(_.seq == 1L).map(_.version))
      .orElse(versionDirs(bRoot, conf).headOption.filter { d =>
        commitLog(bRoot, conf).find(_.version == d).exists(c =>
          c.seq == 1L || c.marker.exists(_.startsWith("clone="))) ||
          new Path(bRoot).getFileSystem(conf)
            .exists(new Path(new Path(bRoot, d), CloneMarker))
      })
      .getOrElse(throw new IllegalStateException(
        s"rebase: branch '$name' no longer retains its fork baseline — " +
          "its delta vs the fork cannot be derived; re-branch from main and replay"))
    val bHeadV = resolve(bRoot, conf).map(p => new Path(p).getName).getOrElse(
      throw new IllegalStateException(s"rebase: branch '$name' resolves to no version"))
    val (cloneEntries, bHeadEntries) =
      try (listingEntries(bRoot, cloneV, partitionColumns, conf),
        listingEntries(bRoot, bHeadV, partitionColumns, conf))
      catch {
        case scala.util.control.NonFatal(e) => throw new IllegalStateException(
          s"rebase: branch '$name' clone base is no longer listable (${e.getMessage}); " +
            "re-branch from main and replay", e)
      }
    val cloneNames = cloneEntries.map(e => contentName(e.rel)).toSet
    val bHeadNames = bHeadEntries.map(e => contentName(e.rel)).toSet
    val removedB = cloneNames.diff(bHeadNames)
    val addedB = bHeadEntries.filterNot(e => cloneNames.contains(contentName(e.rel)))
    if (DeletionVectors.hasDv(new Path(bRoot, bHeadV).toString, conf))
      throw new UnsupportedOperationException(
        s"rebase: branch '$name' carries un-materialized deletion vectors — " +
          "CALL system.compact on the branch first, then rebase")
    withConflictRetry(root) { () =>
      val fork = branchFork(root, name, conf).get
      val mainHead = resolve(root, conf).map(p => new Path(p).getName).getOrElse(
        throw new IllegalArgumentException(s"$root is not a versioned table root"))
      if (mainHead == fork) fastForward(root, name, partitionColumns, keepVersions)
      else {
        if (DeletionVectors.hasDv(new Path(root, mainHead).toString, conf))
          throw new UnsupportedOperationException(
            s"rebase: main carries un-materialized deletion vectors newer than the fork " +
              "may account for — CALL system.compact on the table first, then rebase")
        val headEntries = listingEntries(root, mainHead, partitionColumns, conf)
        val headByName = headEntries.map(e => contentName(e.rel) -> e.rel).toMap
        val overlap = removedB.filterNot(headByName.contains)
        if (overlap.nonEmpty)
          throw new IllegalStateException(
            s"rebase: branch '$name' rewrote file(s) main also rewrote or removed since " +
              s"the fork (${overlap.take(3).mkString(", ")}${if (overlap.size > 3) ", …" else ""}) " +
              "— overlapping deltas cannot rebase; re-derive the branch work on a fresh branch")
        val collide = addedB.map(e => contentName(e.rel)).filter(headByName.contains)
        if (collide.nonEmpty)
          throw new IllegalStateException(
            s"rebase: branch '$name' file(s) already present on main " +
              s"(${collide.take(3).mkString(", ")}) — was the branch already promoted?")
        val bRootPath = new Path(bRoot)
        val qualifiedBRoot =
          bRootPath.getFileSystem(conf).makeQualified(bRootPath).toString
        val addFiles = addedB.map(e =>
          SnapshotFile(s"$qualifiedBRoot/${e.rel}", e.len, e.pv))
        val removedRels = headEntries
          .filter(e => removedB.contains(contentName(e.rel))).map(_.rel).toSet
        val promoted = publishVia(root, keepVersions,
          marker = Some(s"rebase=$bRoot"),
          parent = Some(mainHead), requireBase = true) { staging =>
          linkListingInto(addFiles, staging, partitionColumns, conf, "rebase")
          RefTableFileManifest.writeDelta(root, staging, mainHead, removedRels,
            partitionColumns, conf)
        }
        // re-sync the branch to the rebased main state so it cycles: the
        // synced branch version becomes the next rebase baseline
        val synced = promote(root, bRoot, expectedBase = None, partitionColumns, keepVersions)
        writeFork(root, name, promoted, Some(synced), conf)
        promoted
      }
    }
  }

  /** Delete a branch (its lineage, links and fork marker). Main is
    * untouched — branch versions were never in main's commit log.
    */
  def dropBranch(root: String, name: String): Boolean = {
    val conf = HadoopConf()
    val p = new Path(branchRoot(root, name))
    val fs = p.getFileSystem(conf)
    fs.exists(p) && fs.delete(p, true)
  }

  /** Parse a `ts:` timestamp spec into epoch millis: bare digits are
    * epoch millis; otherwise an ISO-8601 instant (`2026-08-14T12:00:00Z`),
    * a UTC date-time (`yyyy-MM-dd HH:mm:ss[.SSS]`, 'T' separator accepted),
    * or a UTC date (`yyyy-MM-dd`, start of day).
    */
  def parseTimestampSpec(spec: String): Long = {
    val s = spec.trim
    if (s.matches("\\d{1,19}")) s.toLong
    else {
      def attempt(f: => Long): Option[Long] =
        try Some(f) catch { case _: java.time.format.DateTimeParseException => None }
      attempt(java.time.Instant.parse(s).toEpochMilli)
        .orElse(attempt(java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
        .orElse(attempt(java.time.LocalDate.parse(s)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli))
        .getOrElse(throw new IllegalArgumentException(
          s"invalid timestamp spec '$spec': expected epoch millis, an ISO-8601 " +
            "instant, 'yyyy-MM-dd HH:mm:ss' (UTC), or 'yyyy-MM-dd' (UTC)"))
    }
  }

  /** TIMESTAMP AS OF: the HIGHEST-SEQUENCE commit whose publish time
    * (embedded in the version name, see [[versionTimestampMs]]) is at or
    * before `tsMillis`. Commit-log sequence — not name order — is the
    * authoritative history: the two agree on every normally-published
    * chain (stamps are monotonic, and a rebase re-stamps past the head it
    * lands on), but a log written before the rebase re-stamp may hold a
    * commit named older than its parent, and resolving through name order
    * there would hand "now" a non-head snapshot. None when every retained
    * commit is newer — the asked time predates the table or fell off
    * retention.
    */
  def resolveAsOf(root: String, tsMillis: Long,
      conf: Configuration = HadoopConf()): Option[String] = {
    val log = commitLog(root, conf) // ascending seq
    if (log.isEmpty) // legacy pointer-only root: name order is all there is
      committedVersionDirs(root, conf).takeWhile(versionTimestampMs(_) <= tsMillis).lastOption
    else log.filter(c => versionTimestampMs(c.version) <= tsMillis).lastOption.map(_.version)
  }

  /** Resolve a version SPEC to a version directory name: a plain version
    * dir name passes through untouched; `tag:<name>` resolves through the
    * tag store ([[resolveTag]]); `ts:<timestamp>` resolves TIMESTAMP AS OF
    * ([[resolveAsOf]], spec grammar in [[parseTimestampSpec]]). Failures
    * are loud and name the remedy — a silent fallback to "current" would
    * hand a pinned reader the wrong snapshot.
    */
  def resolveSpec(root: String, spec: String,
      conf: Configuration = HadoopConf()): String =
    if (spec.startsWith("tag:")) {
      val t = spec.stripPrefix("tag:")
      resolveTag(root, t, conf).getOrElse(
        throw new IllegalArgumentException(
          s"reftable: no tag '$t' at $root (the `t$$tags` metadata table lists tags)"))
    } else if (spec.startsWith("ts:")) {
      val raw = spec.stripPrefix("ts:")
      val ms = parseTimestampSpec(raw)
      resolveAsOf(root, ms, conf).getOrElse {
        val earliest = committedVersionDirs(root, conf).headOption
          .map(v => s"the earliest retained version was published at epoch ms " +
            s"${versionTimestampMs(v)} ($v)")
          .getOrElse("the table has no committed versions")
        throw new IllegalArgumentException(
          s"reftable: no committed version at or before '$raw' (epoch ms $ms) at $root — " +
            s"$earliest; the asked time predates the table or fell off retention")
      }
    } else spec

  /** Compact the current version into ~`targetFileBytes` files and publish
    * the result as a new version. Small-file explosion is the classic
    * slow death of a frequently-refreshed table (every listing, footer
    * read and task launch scales with file count); with versioned roots,
    * compaction is just another publish — readers pinned to the
    * fragmented version keep draining it, new generations get the
    * compacted one.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024, keepVersions: Int = 3,
      partitionColumns: Seq[String] = Nil): String = withConflictRetry(root) { () =>
    val conf = HadoopConf()
    val current = resolve(root, conf).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table root"))
    val bytes = SnapshotFiles.list(current, partitionColumns).map(_.length).sum
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // Hive-partitioned versions must be compacted AS partitioned — a flat
    // rewrite would brick readers declaring partitionColumns. Partition
    // type INFERENCE must be off for the read: it would re-type
    // numeric-looking string values (bucket=007 → bucket=7) and rewrite
    // the directory names, silently changing what readers decode. The
    // conf is scoped to a child session (own SQLConf, shared context) so
    // concurrent queries on the caller's session are untouched.
    val df =
      if (partitionColumns.isEmpty) readVersion(spark, current)
      else if (RefTableFileManifest.exists(root, new Path(current).getName, conf) ||
          DeletionVectors.hasDv(current, conf))
        // manifest-referenced (or deletion-vector'd) partitioned version:
        // its files live in other version dirs, so read through the
        // resolved listing — which also subtracts DV positions; this IS
        // the materialization read (inference-off + declared-string cast
        // semantics match the direct branch below)
        RefTableMutations.readAll(spark, root, current,
          SnapshotFiles.list(current, partitionColumns), partitionColumns, Map.empty)
      else {
        // newSession() starts from SparkConf defaults, NOT the caller's
        // runtime SQL confs — copy them over (timezone, parquet write
        // options, …) before overriding the one key being scoped, or the
        // compacted rewrite silently diverges from directly-published
        // versions
        val scoped = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          try scoped.conf.set(k, v)
          catch { case scala.util.control.NonFatal(_) => () } // static confs
        }
        scoped.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        scoped.read.parquet(current)
      }
    val compacted =
      if (partitionColumns.isEmpty) df.repartition(parts)
      else df.repartition(parts,
        partitionColumns.map(org.apache.spark.sql.functions.col): _*)
    // CAS on the compacted base: losing an interleaved append's rows to a
    // compaction would be the same lost update as any other stale derive
    publishInternal(compacted, root, keepVersions, partitionColumns,
      parent = Some(new Path(current).getName), requireBase = true)
  }

  /** Version history of the table — the DESCRIBE HISTORY analogue,
    * metadata-only: file counts and bytes come from the retained listings,
    * row counts from each version's stats manifest (null for a version
    * that predates manifests, never guessed). Zero data pages read.
    */
  def history(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = HadoopConf()
    val current = resolve(root, conf).map(p => new Path(p).getName)
    committedVersionDirs(root, conf).zipWithIndex.map { case (name, i) =>
      val dir = new Path(root, name).toString
      val files = SnapshotFiles.list(dir)
      // per-hosting-version stats lookup: manifest-referenced versions get
      // exact rows as long as every host has a manifest, else null
      val stats = RefTableStats.statsForListing(dir, files, conf)
      val nRows: Option[Long] =
        if (files.nonEmpty && files.forall(f => stats.contains(f.path)))
          Some(files.map(f => stats(f.path).rows).sum)
        else if (files.isEmpty) RefTableStats.load(dir, conf).map(_.values.map(_.rows).sum)
        else None
      (i, name, files.size, files.map(_.length).sum, nRows, current.contains(name))
    }.toDF("version_idx", "version", "n_files", "bytes", "n_rows", "is_current")
  }

  /** Explicit retention pass: delete versions beyond `keepVersions`
    * without publishing anything — the vacuum for tables whose writers
    * retain generously (publish-time pruning already runs with each
    * publish). Oldest first; never the pointer's current target. Returns
    * the deleted version names.
    */
  /** Time-based retention — the Delta `VACUUM … RETAIN n HOURS` shape:
    * drop committed states older than `olderThanMs` (by the publish
    * millis embedded in the version name — no file reads), ALWAYS
    * keeping at least the newest `minKeep` states regardless of age (a
    * quiet table's entire history is old; deleting down to one version
    * would strand pinned readers). Manifest-chain/hosting protection and
    * orphan collection are [[vacuum]]'s, via delegation: the cutoff
    * translates to a keep-count, so both policies share one deletion
    * path.
    */
  def vacuumOlderThan(
      root: String, olderThanMs: Long, minKeep: Int = 2): Seq[String] = {
    require(minKeep >= 2,
      "minKeep must be >= 2: retaining only the current version would delete " +
        "the previous one under readers still pinned to it")
    val conf = HadoopConf()
    val committed = committedVersionDirs(root, conf)
    val youngEnough = committed.count(v => versionTimestampMs(v) >= olderThanMs)
    vacuum(root, math.max(minKeep, youngEnough))
  }

  def vacuum(root: String, keepVersions: Int = 3): Seq[String] = {
    require(keepVersions >= 2,
      "keepVersions must be >= 2: retaining only the current version would delete " +
        "the previous one under readers still pinned to it")
    val conf = HadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val all = commitFiles(root, conf)
    if (all.nonEmpty) {
      // tagged versions join the keep-set: their commit, directory, and
      // manifest-chain closure survive any retention for as long as the
      // tag exists; a declared time window ([[RetentionDecl]]) keeps every
      // version younger than it the same way
      val tagged = taggedVersions(root, conf)
      val retainCutoff = declaredRetentionMs(root, conf)
        .map(ms => System.currentTimeMillis() - ms)
      def young(v: String): Boolean =
        retainCutoff.exists(cut => versionTimestampMs(v) >= cut)
      val retained = all.takeRight(keepVersions)
        .map { case (s, p) => readCommit(s, p, conf).version }.toSet ++ tagged ++
        all.dropRight(keepVersions).flatMap { case (s, p) =>
          try Some(readCommit(s, p, conf).version).filter(young)
          catch { case _: java.io.FileNotFoundException => None }
        }
      // the live closure: retained versions' manifest chains + hosting
      // dirs. A doomed or orphan dir in this set keeps its bytes (newer
      // versions reference them); it is collected by a LATER vacuum once
      // the last referencing commit has itself expired
      val protectd = RefTableFileManifest.protectedDirs(root, retained.toSeq, conf)
      val doomed = all.dropRight(keepVersions)
        .filterNot { case (s, p) =>
          try {
            val v = readCommit(s, p, conf).version
            tagged(v) || young(v)
          }
          catch { case _: java.io.FileNotFoundException => false }
        }
      val doomedNames = doomed.map { case (s, p) => readCommit(s, p, conf).version }
      val collectable = doomedNames.filterNot(protectd)
      collectable.foreach(v => fs.delete(new Path(rootPath, v), true))
      doomed.foreach { case (_, p) => fs.delete(p, false) }
      // orphans: version dirs no retained commit references (lost CAS
      // claims, crashed publishes, or hosts whose last referencing commit
      // has expired). Only dirs strictly older than the oldest retained
      // state can be dead — an in-flight publish always stages a name
      // newer than every dir that existed when it started, so this is
      // safe to run online
      val floor = retained.map(versionNum).min
      val orphans = versionDirs(root, conf)
        .filterNot(retained).filterNot(protectd).filter(versionNum(_) < floor)
      orphans.foreach(o => fs.delete(new Path(rootPath, o), true))
      // stale STREAMING epoch staging (`.streaming-<appId>/<epochId>`):
      // the DSv2 streaming write cleans its epoch dir after commit, but a
      // crashed driver leaves it behind. An epoch at or below the appId's
      // committed txn marker is durable in a version (or permanently
      // superseded) — its staging is garbage. Epochs ABOVE the marker may
      // belong to a live attempt and are left alone.
      val staleEpochs = scala.collection.mutable.ListBuffer.empty[String]
      val streamDirs =
        try fs.listStatus(rootPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(".streaming-"))
        catch { case _: java.io.FileNotFoundException => Nil }
      streamDirs.foreach { d =>
        val appId = d.getPath.getName.stripPrefix(".streaming-")
        val committedEpoch = RefTableWrites.lastCommittedBatch(root, appId, conf)
        val epochs =
          try fs.listStatus(d.getPath).toSeq.filter(_.isDirectory)
          catch { case _: java.io.FileNotFoundException => Nil }
        epochs.foreach { e =>
          val keep = e.getPath.getName.toLongOption match {
            case Some(ep) => committedEpoch.forall(_ < ep) // above marker: maybe live
            case None => false // junk name: collect
          }
          if (!keep) {
            fs.delete(e.getPath, true)
            staleEpochs += s"${d.getPath.getName}/${e.getPath.getName}"
          }
        }
        // remove the (now possibly empty) appId dir opportunistically
        try if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
        catch { case _: java.io.FileNotFoundException => () }
      }
      (collectable ++ orphans ++ staleEpochs).distinct
    } else {
      // legacy pointer-only root: dir-count retention, never the target
      val pointed = resolve(root, conf).map(p => new Path(p).getName)
      val prunable = versionDirs(root, conf).filterNot(pointed.contains)
      val doomed = prunable.dropRight(keepVersions - 1)
      doomed.foreach(old => fs.delete(new Path(rootPath, old), true))
      doomed
    }
  }

  /** The two sides of a version-to-version diff, FILE-DELTA narrowed when
    * provably sound: a physical file referenced by BOTH versions with the
    * SAME length and the SAME deletion-vector positions holds byte-
    * identical live rows on both sides, so its keys can only produce
    * "unchanged" diff rows — excluding shared files from both reads leaves
    * the diff result untouched while the scan drops from O(table) to
    * O(rewritten files), the CDF shape every log-structured format serves
    * deltas with. (Key-level soundness rides the changefeed family's
    * standing contract that snapshots are key-unique — the same contract
    * the merge layer enforces on its sources.) Falls back to the full
    * two-snapshot read when either version has no listing or the narrowed
    * subsets disagree on schema (evolution across the boundary).
    */
  private def diffSides(
      spark: org.apache.spark.sql.SparkSession, root: String,
      fromVersion: String, conf: Configuration): (DataFrame, DataFrame) = {
    val current = resolve(root, conf).getOrElse(
      throw new IllegalArgumentException(s"$root is not a versioned table root"))
    val from = new Path(root, fromVersion).toString
    def full = (readVersion(spark, from), readVersion(spark, current))
    val (fromFiles, curFiles) =
      (try SnapshotFiles.list(from) catch { case scala.util.control.NonFatal(_) => Nil },
        try SnapshotFiles.list(current) catch { case scala.util.control.NonFatal(_) => Nil })
    if (fromFiles.isEmpty || curFiles.isEmpty) return full
    def key(f: SnapshotFile) = (f.path, f.length, f.dvPositions.sorted)
    val shared = fromFiles.map(key).toSet intersect curFiles.map(key).toSet
    if (shared.isEmpty) return full // disjoint versions: delta IS the full read
    val beforeOnly = fromFiles.filterNot(f => shared(key(f)))
    val afterOnly = curFiles.filterNot(f => shared(key(f)))
    def readSubset(files: Seq[SnapshotFile], schemaOf: => DataFrame): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf.schema)
      else DeletionVectors.applyTo(
        spark, spark.read.parquet(files.map(_.path): _*), files)
    // schema anchor: one footer-sampled read over the FULL current listing
    // (lazy — only a schema, no scan), so an empty side still types
    lazy val anchor = spark.read.parquet(curFiles.map(_.path): _*)
    val b = readSubset(beforeOnly, anchor)
    val a = readSubset(afterOnly, anchor)
    // names AND types: a data-type change across the version boundary with
    // unchanged names must also take the full-read fallback — the narrowed
    // diff join could otherwise fail or miscompare on the drifted column
    def shape(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    if (shape(b) != shape(a)) full else (b, a)
  }

  /** Key-level changes (insert/delete/update) from `fromVersion` to the
    * current version — a changefeed between retained versions, composing
    * the versioned layer with [[graft.operators.SnapshotDiff]]: one
    * key-shuffle join over the FILE-DELTA of the two versions (see
    * [[diffSides]]), no storage changelog needed.
    */
  def changes(
      spark: org.apache.spark.sql.SparkSession, root: String,
      keyCols: Seq[String], fromVersion: String): org.apache.spark.sql.DataFrame = {
    val (b, a) = diffSides(spark, root, fromVersion, HadoopConf())
    graft.operators.SnapshotDiff.diff(b, a, keyCols)
  }

  /** As [[changes]], with both row images per value column
    * ([[graft.operators.SnapshotDiff.diffImages]]) — the input shape
    * [[graft.operators.IncrementalAgg.maintain]] needs, so an aggregate
    * over a versioned table can be advanced version-to-version for
    * O(changes) instead of recomputed for O(table).
    */
  def changesImages(
      spark: org.apache.spark.sql.SparkSession, root: String,
      keyCols: Seq[String], fromVersion: String): org.apache.spark.sql.DataFrame = {
    val (b, a) = diffSides(spark, root, fromVersion, HadoopConf())
    graft.operators.SnapshotDiff.diffImages(b, a, keyCols)
  }

  /** foreachBatch sink that publishes each micro-batch as a new version —
    * for COMPLETE-mode aggregation streams, where every batch is the full
    * current result, this closes the reference's loop end to end: a
    * stream maintains a refreshable snapshot table that the reftable
    * source (and its changefeeds) consume with snapshot isolation.
    * Append/update-mode batches are deltas, not snapshots — publishing
    * them as table states would be wrong, hence the name.
    */
  def completeModePublisher(
      root: String, keepVersions: Int = 3,
      partitionColumns: Seq[String] = Nil): (DataFrame, Long) => Unit = {
    // foreachBatch is at-least-once: a replayed batch must not publish a
    // duplicate version (it would burn a retention slot and could prune a
    // version a pinned reader still needs). The marker rides the
    // pointer's atomic rename, so marker and version can't diverge. It is
    // scoped to THIS publisher instance: a bare batch id would wrongly
    // skip batch 0 of a stream restarted with a fresh checkpoint (ids
    // reset), silently freezing the table — a new instance re-publishing
    // one replayed batch after a driver restart is the safer failure.
    // CONTRACT: create one publisher per query; sharing the returned
    // function across two queries on the same root would make their
    // batch ids collide and silently skip publishes.
    val instance = java.util.UUID.randomUUID().toString.take(8)
    (batch, batchId) => {
      val m = s"$instance:$batchId"
      if (!publishedMarker(root).contains(m)) {
        publishInternal(batch, root, keepVersions, partitionColumns, marker = Some(m))
      }
      ()
    }
  }

  /** One-time migration of a bare snapshot directory into a versioned
    * root: the existing files / Hive partition dirs are RENAMED into a
    * first version directory and the pointer is written. Run with readers
    * quiesced — mid-adoption a reader of the bare root could see a partial
    * listing (this is the one transition the pointer can't make atomic,
    * which is why it is an explicit operation and not an implicit side
    * effect of publishing). Returns the created version name.
    */
  def adopt(root: String, partitionColumns: Seq[String] = Nil): String = {
    val conf = HadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    require(resolve(root, conf).isEmpty, s"$root is already a versioned table root")
    val entries = if (fs.exists(rootPath)) bareEntries(rootPath, fs) else Nil
    require(entries.nonEmpty, s"$root has no bare snapshot data to adopt")
    val name = f"v${System.currentTimeMillis()}%019d" + "_" +
      java.util.UUID.randomUUID().toString.take(8)
    val versionDir = new Path(rootPath, name)
    fs.mkdirs(versionDir)
    entries.foreach(e => LocalFs.renameNoReplace(e, new Path(versionDir, e.getName), conf))
    // ONE final physical walk, materialized: the adopted version carries a
    // file manifest (and skipping stats), so every later resolution —
    // batch scans and each streaming refresh — is a single manifest read,
    // never a directory walk. This is the remedy the bare-layout listing
    // limit points at (SnapshotFiles.list); pass partitionColumns for
    // Hive layouts so the manifest records the nesting.
    RefTableFileManifest.writeFull(versionDir, partitionColumns, conf)
    RefTableStats.writeManifest(versionDir.toString, conf)
    // expect-fresh CAS: two racing adopters move files twice anyway (run
    // with readers AND writers quiesced, as documented), but at least the
    // second cannot silently shadow the first's commit
    commitVersion(root, name, None, None, Some(None), conf)
    swapPointerCache(rootPath, fs, conf, name)
    name
  }

  /** Refresh the `_CURRENT` CACHE via tmp-file + OVERWRITE rename.
    * Best-effort by design: the commit log is authoritative, so every
    * failure mode of the local ChecksumFs delete-then-rename window
    * (FileAlreadyExists / FileNotFound collisions between concurrent
    * swappers) is retried briefly and then swallowed — a stale or missing
    * cache only affects external tooling and legacy readers, never
    * resolution through the log, and the next successful publish
    * refreshes it.
    */
  /** The table's declared layout, as (declaring commit seq, `layout=` marker):
    * the root [[LayoutDecl]] file when present, else the newest in-log layout
    * marker (covers a failed cache write until retention prunes that commit).
    * Takes whichever is newer — a stale `_LAYOUT` left by a crashed overwrite
    * must not shadow a later in-log re-declaration.
    */
  def layoutDeclaration(
      root: String, conf: Configuration = HadoopConf()): Option[(Long, String)] = {
    val p = new Path(root, LayoutDecl)
    val fs = p.getFileSystem(conf)
    val fromFile =
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          text.split('\n').toSeq.map(_.trim) match {
            case seq +: m +: _ if m.startsWith("layout=") => seq.toLongOption.map((_, m))
            case _ => None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    val fromLog = commitLog(root, conf).reverse
      .collectFirst { case c if c.marker.exists(_.startsWith("layout=")) => (c.seq, c.marker.get) }
    (fromFile ++ fromLog).maxByOption(_._1)
  }

  private def swapPointerCache(
      rootPath: Path, fs: org.apache.hadoop.fs.FileSystem, conf: Configuration,
      content: String): Unit =
    try CommitPrimitive.forPath(rootPath, conf)
      .overwrite(new Path(rootPath, Pointer), content.getBytes("UTF-8"), conf)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Read a version's full logical content as plain parquet: through its
    * `_FILES.json` listing when manifest-referenced, directly from the
    * directory otherwise (so partition-dir inference and empty-version
    * error behavior stay exactly as before for physical versions).
    */
  private[reftable] def readVersion(
      spark: org.apache.spark.sql.SparkSession, versionDir: String): DataFrame = {
    val conf = HadoopConf()
    val p = new Path(versionDir)
    val manifested = p.getName.matches("v\\d{19}_[0-9a-f]{8}") && p.getParent != null &&
      RefTableFileManifest.exists(p.getParent.toString, p.getName, conf)
    if (manifested) {
      val files = SnapshotFiles.list(versionDir)
      // merge-on-read deletion vectors subtract here — this is the read
      // compaction, changefeeds and maintenance rewrites consume, so a
      // miss would materialize resurrected rows
      if (files.nonEmpty)
        return DeletionVectors.applyTo(
          spark, spark.read.parquet(files.map(_.path): _*), files)
    }
    spark.read.parquet(versionDir)
  }

  private def versionNum(name: String): Long = name.drop(1).take(19).toLong

  /** Publish time (epoch millis) embedded in a version directory name —
    * monotonic across publishes (a clock tie bumps past the max), which is
    * what makes TIMESTAMP AS OF resolution a pure name comparison.
    */
  def versionTimestampMs(name: String): Long = versionNum(name)

  /** Version directory names that are safe to EXPOSE (time travel,
    * history): when the commit log exists, only directories a retained
    * commit references — a publish that crashed after its staging rename
    * but before its commit claim leaves an orphan dir that was never
    * visible to any reader, and pinning a query to it would expose data
    * no snapshot ever contained. Legacy (pointer-only) roots have no log
    * to intersect with, so all version dirs stand, as before.
    */
  def committedVersionDirs(
      root: String, conf: Configuration = HadoopConf()): Seq[String] = {
    val log = commitLog(root, conf)
    val dirs = versionDirs(root, conf)
    if (log.isEmpty) dirs
    else { val committed = log.map(_.version).toSet; dirs.filter(committed) }
  }

  /** Version directory names under `root`, oldest first. */
  def versionDirs(root: String, conf: Configuration = HadoopConf()): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d{19}_[0-9a-f]{8}"))
      .map(_.getPath.getName).sorted
  }
}
