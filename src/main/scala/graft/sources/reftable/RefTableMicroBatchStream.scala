package graft.sources.reftable

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles,
  ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** A snapshot file pinned at refresh time. Pinning (path, length) at the
  * refresh boundary is what gives a generation snapshot identity even if the
  * underlying table is overwritten mid-generation — parquet files are
  * immutable once written. `partitionValues` carries the file's Hive-style
  * directory values (raw strings as listed; empty for flat layouts).
  */
final case class SnapshotFile(
    path: String, length: Long, partitionValues: Map[String, String] = Map.empty,
    dvPositions: Seq[Long] = Nil)

object SnapshotFiles {
  def list(dir: String): Seq[SnapshotFile] = list(dir, Nil)

  def list(dir: String, partitionColumns: Seq[String]): Seq[SnapshotFile] =
    list(dir, partitionColumns, None)

  /** The concrete snapshot directory a table path names right now: a
    * versioned root (VersionedTable) resolves to its current version dir
    * ONCE per listing — the pinned file list then stays readable even if a
    * new version is published mid-generation (old versions are retained,
    * unlike an in-place overwrite which deletes files under a running
    * scan). An explicit `version` pins the read to that version instead
    * (time travel). Resolving an already-resolved dir is a no-op (version
    * dirs contain no pointer file). Robust resolution: a reader racing a
    * local-FS pointer swap must wait out the transient missing-pointer
    * window, not fall back to the bare root and see an empty table.
    */
  def resolveDir(dir: String, version: Option[String], conf: Configuration): String =
    version match {
      case Some(v) if v.startsWith("tag:") || v.startsWith("ts:") =>
        // `tag:<name>` — named immutable reference (VersionedTable.tag),
        // resolved through `_TAGS/<name>.json` (retention keeps tagged
        // versions alive, so a loud failure means the tag never existed or
        // was dropped); `ts:<timestamp>` — TIMESTAMP AS OF over the
        // commit log (publish times embedded in version names, monotonic)
        new Path(dir, VersionedTable.resolveSpec(dir, v, conf)).toString
      case Some(v) => new Path(dir, v).toString
      case None => VersionedTable.resolveRobust(dir, conf).getOrElse(dir)
    }

  def list(dir: String, partitionColumns: Seq[String], version: Option[String],
      conf: Configuration = HadoopConf()): Seq[SnapshotFile] = {
    val resolved = resolveDir(dir, version, conf)
    // a manifest-referenced version (mutation output) NAMES its files —
    // possibly hosted in other version dirs — instead of containing them.
    // Deletion-vector positions (merge-on-read deletes) pin WITH the
    // listing: the version dir's own `_DV/` sidecars are the complete set
    // (DeletionVectors invariant), so files and positions always come
    // from the same snapshot.
    val rp = new Path(resolved)
    if (rp.getName.matches("v\\d{19}_[0-9a-f]{8}")) {
      val root = rp.getParent
      RefTableFileManifest.resolve(root.toString, rp.getName, partitionColumns, conf)
        .foreach { entries =>
          val qualifiedRoot = root.getFileSystem(conf).makeQualified(root).toString
          return DeletionVectors.attach(
            entries.map(e =>
              SnapshotFile(s"$qualifiedRoot/${e.rel}", e.len, e.pv)).sortBy(_.path),
            resolved, conf)
        }
      // a version dir (manifest-less legacy version): walk unbounded — the
      // dir is immutable, so the cost is per-version, not per-refresh
      return listPhysical(resolved, partitionColumns, conf = conf)
    }
    // BARE root: every streaming refresh re-walks the whole layout on the
    // driver, so a many-partition bare dir is a standing per-refresh stall
    // — refuse past the limit and name the remedy (adopt migrates the
    // layout into a versioned root whose manifest lists in one read)
    listPhysical(resolved, partitionColumns, bareDirLimit = Some(bareHiveDirLimit), conf = conf)
  }

  /** Max partition directories a BARE (un-adopted) Hive layout may hold
    * before listings refuse and point at [[VersionedTable.adopt]].
    * Overridable for tests and unusual deployments via the system property
    * `graft.reftable.bareHiveDirLimit`.
    */
  private def bareHiveDirLimit: Int =
    Option(System.getProperty("graft.reftable.bareHiveDirLimit"))
      .flatMap(_.toIntOption).getOrElse(4096)

  /** Physical directory listing (flat or Hive-partitioned walk) — the
    * chain-base path of manifest resolution, and every pre-manifest
    * version. `bareDirLimit` bounds the partition-directory walk for BARE
    * roots (see [[list]]): exceeded → refuse with the adopt remedy.
    */
  def listPhysical(resolved: String, partitionColumns: Seq[String],
      bareDirLimit: Option[Int] = None, conf: Configuration = HadoopConf()): Seq[SnapshotFile] = {
    val p = new Path(resolved)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) throw new IllegalArgumentException(s"reftable path does not exist: $resolved")
    if (partitionColumns.isEmpty) {
      fs.listStatus(p).toIndexedSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.toString)
        .map(s => SnapshotFile(s.getPath.toString, s.getLen)) match {
        case Seq() if fs.getFileStatus(p).isFile =>
          Seq(SnapshotFile(p.toString, fs.getFileStatus(p).getLen))
        case other => other
      }
    } else {
      // Hive layout: one directory level per partition column, in option
      // order; values decoded from `col=value` names. One recursive listing
      // per refresh on the driver — bounded for BARE roots by bareDirLimit,
      // because a bare layout re-walks EVERY refresh (a versioned root
      // reads one manifest instead; see VersionedTable.adopt).
      var dirsSeen = 0
      def walk(d: Path, depth: Int, acc: Map[String, String]): Seq[SnapshotFile] =
        if (depth == partitionColumns.size) {
          fs.listStatus(d).toIndexedSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => SnapshotFile(s.getPath.toString, s.getLen, acc))
        } else {
          val entries = fs.listStatus(d).toIndexedSeq
          // a parquet file ABOVE the expected partition depth means this
          // physical dir predates the current partition spec (partition
          // evolution over a manifest-less legacy version) — listing it
          // with the current spec would silently return empty, so refuse
          if (entries.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
            throw new IllegalStateException(
              s"reftable: $d holds data files at partition depth $depth but the current " +
                s"spec expects ${partitionColumns.size} level(s) [${partitionColumns.mkString(", ")}] " +
                "— a manifest-less version written under an earlier partition spec; run " +
                "VersionedTable.adopt (or compact) to migrate it before evolving the spec")
          entries
            .filter(s => s.isDirectory &&
              !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
            .flatMap { s =>
              dirsSeen += 1
              for (limit <- bareDirLimit; if dirsSeen > limit)
                throw new IllegalStateException(
                  s"reftable: bare Hive layout at $resolved exceeds $limit partition " +
                    "directories — every streaming refresh re-walks the whole layout on " +
                    "the driver. Run VersionedTable.adopt(root, partitionColumns) once " +
                    "(readers and writers quiesced) to migrate it into a versioned root " +
                    "whose file manifest lists in one read; " +
                    "graft.reftable.bareHiveDirLimit overrides the threshold.")
              val name = s.getPath.getName
              val eq = name.indexOf('=')
              if (eq < 0 || RefTablePartitioning.unescape(name.substring(0, eq)) != partitionColumns(depth))
                throw new IllegalArgumentException(
                  s"reftable: expected '${partitionColumns(depth)}=<value>' directories under $d, found '$name'")
              walk(s.getPath, depth + 1,
                acc + (partitionColumns(depth) -> RefTablePartitioning.unescape(name.substring(eq + 1))))
            }
        }
      walk(p, 0, Map.empty).sortBy(_.path)
    }
  }

  /** Listing for a scan: partition-aware, version-aware, and pruned by the
    * pushed filters — first exactly on directory partition values, then on
    * the `_STATS.json` per-file ranges when the snapshot carries one
    * ([[RefTableStats]]). The version dir is resolved ONCE so the files and
    * the manifest are guaranteed to come from the same snapshot.
    */
  def pruned(opts: RefTableOptions, filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[SnapshotFile] =
    listing(opts, filters).files

  /** A scan's pinned snapshot: the version dir it resolved, the
    * PRE-pruning file count (the scan's filesListed/filesPruned metrics)
    * and the files that survived pruning.
    */
  final case class Listing(resolved: String, listed: Long, files: Seq[SnapshotFile])

  /** [[pruned]] with its resolved dir and pre-pruning size — one resolve,
    * one listing and one Hadoop conf, shared.
    */
  def listing(opts: RefTableOptions,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Listing = {
    val conf = HadoopConf()
    val resolved = resolveDir(opts.path, opts.version, conf)
    // physicalNesting: hidden partition transforms nest the layout under
    // derived dirs (ts_day=...) that are NOT schema fields — the walk and
    // the manifest pv keys use the dir names, pruning maps source-column
    // predicates onto them (RefTablePartitioning + RefTableTransforms)
    val listed = list(resolved, opts.physicalNesting, None, conf)
    val kept = RefTableStats.prune(
      resolved,
      RefTablePartitioning.prune(listed, opts, filters),
      opts, filters, conf)
    Listing(resolved, listed.size.toLong, kept)
  }
}

/** Offset = (batch counter, refresh generation, files emitted so far in the
  * generation, wall-clock generation at emission time). `upTo` = -1 means
  * "the whole generation" — both the legacy round-1 offset format and the
  * unchunked fast path decode that way. `wall` = -1 means "same as gen"
  * (the normal case and the legacy format): it diverges only when a
  * restart-abandoned generation forces `gen` to run ahead of wall-clock —
  * the refresh decision always compares against `wall`, never the possibly
  * synthetic `gen`, so run-ahead never suppresses a real refresh boundary.
  * JSON-serialized into the streaming checkpoint.
  */
final case class RefTableOffset(batch: Long, gen: Long, upTo: Long = -1L, wall: Long = -1L)
    extends Offset {
  /** The wall-clock generation this offset was emitted under. */
  def wallGen: Long = if (wall >= 0) wall else gen
  override def json(): String = s"""{"batch":$batch,"gen":$gen,"upTo":$upTo,"wall":$wall}"""
}

object RefTableOffset {
  def fromJson(s: String): RefTableOffset = {
    val n = new ObjectMapper().readTree(s)
    RefTableOffset(
      n.path("batch").asLong(),
      n.path("gen").asLong(),
      if (n.has("upTo")) n.path("upTo").asLong() else -1L,
      if (n.has("wall")) n.path("wall").asLong() else -1L)
  }
}

/** The reference's snapshot/refresh semantics as a DSv2 MicroBatchStream
  * (reference core: TableInputDStream.scala:51-62) — the one streaming
  * source of the reftable format, in two read modes.
  *
  *  - Refresh policy: generation = [[RefTableOptions.generationAt]] of the
  *    stream's clock, floor(now / refreshInterval) — refreshes align to
  *    interval multiples exactly like the reference's threshold arithmetic
  *    (`lastRefreshTime + refreshInterval − lastRefreshTime %
  *    refreshInterval`, TableInputDStream.scala:56-58), and the first poll
  *    always loads (reference resets lastRefreshTime in start(),
  *    TableInputDStream.scala:42-45). The clock is the wall clock; tests
  *    drive a manual one.
  *  - The refresh decision is made once, on the driver, inside latestOffset()
  *    and recorded in the offset, so retried tasks always see a consistent
  *    generation (the reference decided per `compute` call with wall-clock).
  *  - emitMode=refresh (default): one micro-batch per generation — idiomatic
  *    Structured Streaming (no-data triggers are skipped, and
  *    processAllAvailable() terminates). emitMode=trigger reproduces the
  *    DStream cadence: every trigger re-emits the current snapshot.
  *  - Admission control (SupportsAdmissionControl): with
  *    maxFilesPerTrigger / maxBytesPerTrigger a generation is emitted across
  *    several micro-batches (offset `upTo` = cumulative file count). The
  *    generation stays pinned until fully emitted — a refresh boundary
  *    crossed mid-generation does NOT switch snapshots, preserving snapshot
  *    identity; the next generation begins at the following batch.
  *  - Trigger.AvailableNow (SupportsTriggerAvailableNow): the current
  *    generation is drained (in chunks if limited), then the query stops —
  *    also what makes trigger-emit mode terminate under AvailableNow.
  *  - commit(end) releases what generations < end.gen pinned — the
  *    reference never unpersisted old snapshots (leak at
  *    TableInputDStream.scala:59); here old generations are dropped as soon
  *    as they are committed.
  *  - Restart: planInputPartitions for an unknown generation re-lists the
  *    current table state — the reference's restart behavior (its pipeline
  *    test stops/restarts and expects current rows, PipelineTest.java:151-177).
  *    A mid-generation offset recovered from the checkpoint is NOT continued
  *    (the pinned listing died with the previous driver — continuing would
  *    stitch two listings into one "snapshot"): the partial generation is
  *    abandoned and the current state re-emitted as a fresh generation.
  *    Replaying the single uncommitted chunk batch after a restart still
  *    slices the re-listed state — at-least-once within the abandoned
  *    generation; sinks requiring exact determinism should run unchunked,
  *    and `strictSnapshot=true` turns that contract into a validation
  *    error by refusing the admission caps outright ([[RefTableOptions]]).
  *
  * The offsets above are the same in both read modes; what a generation
  * IS comes from the mode's generation kind:
  *  - snapshot (default): the table's pruned file listing, pinned in memory
  *    when the generation is emitted (at prepare time under AvailableNow)
  *    and sliced by the admission caps;
  *  - changefeed (`.option("changefeed", "true")` + `keyColumns`, output
  *    schema + `change_type`): the key-level CHANGE SET between the
  *    previous generation's pinned version and this one — `change_type` ∈
  *    insert | update | delete plus the row image (after-image;
  *    before-image for deletes). This lifts the foreachBatch composition
  *    (`VersionedTable.changes` per generation, q145/q165) onto a
  *    one-option surface. Each generation is emitted whole (`upTo` = -1;
  *    admission caps and emitMode=trigger are refused at validation).
  *
  * CHANGEFEED MECHANICS. Each generation pins the table's CURRENT VERSION
  * NAME into a tiny `pin-<gen>.json` under the checkpoint (versioned roots
  * retain versions, so the previous generation's full listing is
  * reconstructible after ANY restart — the FileStreamSource metadata-log
  * pattern applied to versions instead of files). The pins survive a
  * restart, so a restarted changefeed emits nothing until the next
  * boundary. A batch materializes its diff ONCE into
  * `<checkpoint>/graft_cf/diff-<gen>` and the scan reads those files, so
  * an uncommitted batch replayed after a crash re-reads the identical
  * materialized delta (exactly-once delta content under replay).
  *
  * CHANGEFEED COST. The diff is computed from the FILE delta of the two
  * pinned listings, not a full-table join: rows of files only in the old
  * listing and positions newly deletion-vector'd form the "left" side,
  * rows of files only in the new listing the "right" side, and one
  * key-joined [[graft.operators.SnapshotDiff.diff]] over just those rows
  * classifies insert/update/delete while cancelling no-op rewrites (a
  * compaction between generations emits an EMPTY delta — same rows, new
  * files, all cancelled). On manifest-delta commit chains
  * (upsert/DELETE/MoR apply) that is O(changed files + changed rows) per
  * generation on any table size; a full physical re-publish degrades to a
  * whole-snapshot diff, which is the true change-set bound anyway.
  *
  * CHANGEFEED BOOTSTRAP AND FALLBACK. Where the stream STARTS is declared
  * by `changefeedFrom`:
  *  - `earliest` (default): the first batch emits the whole snapshot as
  *    inserts — the standard CDF initial-load shape;
  *  - `latest`: the first batch is EMPTY and pins the current version, so
  *    deltas begin with the next change (consumers that only want what
  *    changes from now on);
  *  - a version dir name: the first batch is the delta FROM that retained
  *    version to current (Delta CDF's startingVersion); if it has been
  *    vacuumed the stream fails loudly — a silent bootstrap would replay
  *    the corpus into a consumer that asked for a delta.
  * If a previous pinned version has been vacuumed away mid-stream, the
  * stream falls back to the snapshot-as-inserts batch (at-least-once;
  * pair with the idempotent [[RefTableMutations.applyChangesMergeOnRead]]
  * replay semantics downstream).
  */
class RefTableMicroBatchStream(
    opts: RefTableOptions, required: StructType, pushed: Array[Filter] = Array.empty,
    checkpointLocation: Option[String] = None,
    clock: () => Long = RefTableOptions.wallClock)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  private val kind: GenerationKind =
    if (opts.changefeed) new Changefeed(checkpointLocation.getOrElse(
      throw new IllegalArgumentException("the changefeed read mode keeps its version pins " +
        "under the query's checkpoint location, and none was given")))
    else new Snapshot

  /** Per-trigger source metrics, surfaced in `StreamingQueryProgress
    * .sources[].metrics` — the streaming analogue of the batch scan's
    * custom SQL metrics: which refresh generation the last batch consumed,
    * plus the kind's own (the pinned snapshot's size, or the table version
    * a delta ended at). At scale this is the signal that tells an operator
    * whether a slow stream is re-reading a huge snapshot every generation
    * or draining it in chunks.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = synchronized {
    val m = new java.util.HashMap[String, String]()
    Option(latestConsumedOffset.orElse(null)).foreach { o =>
      val off = RefTableOffset.fromJson(o.json())
      m.put("generation", off.gen.toString)
      kind.metrics(off, m)
    }
    m
  }

  private var last: RefTableOffset = _
  private var availableNowGen: Option[Long] = None

  /** Statistics of the generation the batch being planned reads: the
    * listing pinned in [[latestOffset]], not the table as it is now (a
    * version published mid-generation is not what this batch scans).
    * None before the first pin, and always None for a changefeed, whose
    * scan sizes a fresh listing.
    */
  def statistics(): Option[RefTableStatistics] =
    synchronized { Option(last).flatMap(l => kind.statistics(l.gen)) }

  private val taskConf = new HadoopConf.PerStream

  override def initialOffset(): Offset = RefTableOffset(-1L, -1L, -1L)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case several => ReadLimit.compositeLimit(several.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    val gen = opts.generationAt(clock())
    kind.files(gen) // a sliced kind pins the drain target now
    availableNowGen = Some(gen)
  }

  /** End index (exclusive, cumulative file count) for a batch starting at
    * `from`, under a read limit. Always admits at least one file.
    */
  private def sliceEnd(files: Seq[SnapshotFile], from: Int, limit: ReadLimit): Long = limit match {
    case m: ReadMaxFiles => math.min(from.toLong + m.maxFiles(), files.size.toLong)
    case b: ReadMaxBytes =>
      var i = from
      var bytes = 0L
      while (i < files.size && (i == from || bytes + files(i).length <= b.maxBytes())) {
        bytes += files(i).length
        i += 1
      }
      i.toLong
    case c: CompositeReadLimit =>
      c.getReadLimits.map(l => sliceEnd(files, from, l)).min
    case _ => files.size.toLong
  }

  /** `upTo` of a batch that starts generation `gen` from file 0: a slice
    * end for a sliced kind, -1 (the whole generation) otherwise.
    */
  private def firstSliceEnd(gen: Long, limit: ReadLimit): Long =
    kind.files(gen).fold(-1L)(sliceEnd(_, 0, limit))

  /** Emit a fresh generation after `prev`. `gen` stays strictly monotonic
    * even if a prior abandon pushed it past wall-clock, and the offset
    * records the wall-clock generation it was emitted under.
    */
  private def fresh(prev: RefTableOffset, wallNow: Long, reuse: Option[Long],
      limit: ReadLimit): RefTableOffset = {
    val gen = math.max(wallNow, prev.gen + 1)
    kind.pin(gen, reuse)
    RefTableOffset(prev.batch + 1, gen, firstSliceEnd(gen, limit), wallNow)
  }

  override def latestOffset(): Offset = latestOffset(null, getDefaultReadLimit)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    val prev = Option(last)
      .orElse(Option(start).map(_.asInstanceOf[RefTableOffset]))
      .getOrElse(RefTableOffset(-1L, -1L, -1L))
    last = (if (prev.gen >= 0) kind.files(prev.gen) else None) match {
      case Some(files) if prev.upTo >= 0 && kind.owns(prev.gen) && prev.upTo < files.size =>
        // partially-emitted generation: finish it before any refresh —
        // snapshot identity requires the whole generation from one pinning
        RefTableOffset(prev.batch + 1, prev.gen, sliceEnd(files, prev.upTo.toInt, limit), prev.wall)
      case Some(_) if prev.upTo >= 0 && !kind.owns(prev.gen) =>
        // restart recovered a chunked offset, but the pinning died with
        // the previous driver: the original listing (and its total file
        // count) is unknowable, so ANY chunked offset from a dead driver
        // is abandoned — even one whose upTo happens to equal the current
        // listing size, which may be a truncated emission of a larger old
        // listing. Continuing would stitch chunks from two different
        // listings into one "snapshot"; instead the current state is
        // re-emitted as a FRESH generation (reference restart semantics:
        // reload current state) — consumers keyed on the generation column
        // discard the partial one. At-least-once, never mixed-snapshot.
        // The generation number may run ahead of wall-clock here (gen
        // monotonicity), so the offset records the true wall-clock
        // generation separately — the next real refresh boundary is
        // detected against `wall`, not `gen`.
        fresh(prev, opts.generationAt(clock()), Some(prev.gen), limit)
      case _ =>
        val wallNow = availableNowGen.getOrElse(opts.generationAt(clock()))
        if (prev.gen < 0 || wallNow > prev.wallGen)
          // new refresh boundary crossed (or first poll). A boundary ALWAYS
          // re-pins (never reuse a listing pinned under a colliding older
          // gen number after a run-ahead — that would freeze the stream on
          // a stale listing forever); AvailableNow uses the pinning made at
          // prepare time.
          fresh(prev, wallNow, availableNowGen, limit)
        else if (opts.emitPerTrigger && availableNowGen.isEmpty)
          // trigger-mode re-emission honors the admission caps too: a cycle
          // of chunked batches re-covers the snapshot, then restarts
          RefTableOffset(prev.batch + 1, prev.gen, firstSliceEnd(prev.gen, limit), prev.wall)
        else prev
    }
    if (last.gen >= 0) kind.emitted(last.gen)
    last
  }

  override def reportLatestOffset(): Offset = synchronized { last }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val e = end.asInstanceOf[RefTableOffset]
    if (e.batch < 0) return Array.empty
    RefTablePartitions.plan(kind.batchFiles(Option(start).map(_.asInstanceOf[RefTableOffset]), e), e.gen)
  }

  override def createReaderFactory(): PartitionReaderFactory = kind.readerFactory(taskConf.get())

  override def deserializeOffset(json: String): Offset = {
    val o = RefTableOffset.fromJson(json)
    synchronized { if (last == null || o.batch > last.batch) last = o }
    o
  }

  override def commit(end: Offset): Unit =
    synchronized { kind.commit(end.asInstanceOf[RefTableOffset].gen) }

  override def stop(): Unit = synchronized {
    kind.stop()
    taskConf.release()
  }

  /** What a generation is in one read mode. Every call runs under the
    * stream's lock.
    */
  private sealed abstract class GenerationKind {
    /** The files generation `gen` is sliced from by the admission caps
      * (pinned on first use — a replay after a restart pins the current
      * state), or None for a kind whose generations are emitted whole.
      */
    def files(gen: Long): Option[Seq[SnapshotFile]]
    /** Whether the pinning of `gen` is the one it was emitted under, so its
      * chunks may continue (false for a dead driver's generation). By
      * default a pinning survives the driver that made it.
      */
    def owns(gen: Long): Boolean = true
    def emitted(gen: Long): Unit = ()
    /** Pin fresh generation `gen`, reusing generation `reuse`'s pinning
      * if given (AvailableNow's prepare-time pin, or an abandoned one).
      */
    def pin(gen: Long, reuse: Option[Long]): Unit
    /** The files the batch (start, end] reads. */
    def batchFiles(start: Option[RefTableOffset], end: RefTableOffset): Seq[SnapshotFile]
    def readerFactory(conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory
    def metrics(off: RefTableOffset, m: java.util.Map[String, String]): Unit
    def statistics(gen: Long): Option[RefTableStatistics] = None
    /** Release what generations before `gen` pinned. */
    def commit(gen: Long): Unit
    def stop(): Unit
  }

  private final class Snapshot extends GenerationKind {
    private val snapshots = scala.collection.mutable.Map.empty[Long, SnapshotFiles.Listing]
    // generations whose listing THIS instance pinned at emission time.
    // `snapshots.contains` is NOT that: replay of an uncommitted batch
    // (planInputPartitions) and prepareForTriggerAvailableNow both pin
    // listings incidentally, and treating those as "ours" would let a
    // restart continue a dead driver's chunked generation against a fresh
    // listing — stitching two listings into one snapshot.
    private val ownGens = scala.collection.mutable.Set.empty[Long]
    // optimizer statistics of the newest pinned generation, built once per
    // generation (trigger-mode re-emissions and chunks reuse them)
    private var pinnedStats: Option[(Long, RefTableStatistics)] = None

    // partition pruning happens at pinning time: a generation of a
    // partitioned table under a partition filter IS the pruned listing
    // (offsets and admission-control slices count pruned files only)
    private def listing(): SnapshotFiles.Listing = SnapshotFiles.listing(opts, pushed.toSeq)
    private def pinnedOf(gen: Long): SnapshotFiles.Listing =
      snapshots.getOrElseUpdate(gen, listing())

    def files(gen: Long): Option[Seq[SnapshotFile]] = Some(pinnedOf(gen).files)
    override def owns(gen: Long): Boolean = ownGens.contains(gen)
    override def emitted(gen: Long): Unit = ownGens += gen
    def pin(gen: Long, reuse: Option[Long]): Unit =
      snapshots(gen) = reuse.fold(listing())(pinnedOf)

    def batchFiles(start: Option[RefTableOffset], end: RefTableOffset): Seq[SnapshotFile] = {
      val files = pinnedOf(end.gen).files
      val hi = if (end.upTo < 0) files.size else math.min(end.upTo, files.size.toLong).toInt
      val lo = start match {
        // continuation of a partially-emitted generation; anything else
        // (new generation, trigger-mode re-emission) starts from file 0
        case Some(s) if s.batch >= 0 && s.gen == end.gen && s.upTo >= 0 && s.upTo < hi =>
          math.min(s.upTo, files.size.toLong).toInt
        case _ => 0
      }
      files.slice(lo, hi)
    }

    def readerFactory(conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
      new RefTableReaderFactory(opts, required, pushed, None, conf)

    def metrics(off: RefTableOffset, m: java.util.Map[String, String]): Unit =
      snapshots.get(off.gen).map(_.files).foreach { fs =>
        m.put("snapshotFiles", fs.size.toString)
        m.put("snapshotBytes", fs.map(_.length).sum.toString)
        m.put("filesEmitted", (if (off.upTo >= 0) off.upTo else fs.size.toLong).toString)
      }

    override def statistics(gen: Long): Option[RefTableStatistics] =
      snapshots.get(gen).map { l =>
        if (!pinnedStats.exists(_._1 == gen))
          pinnedStats = Some(gen -> new RefTableStatistics(opts, required, l))
        pinnedStats.get._2
      }

    def commit(gen: Long): Unit = {
      snapshots.keys.filter(_ < gen).toList.foreach(snapshots.remove)
      ownGens.filter(_ < gen).toList.foreach(ownGens.remove)
    }

    def stop(): Unit = {
      snapshots.clear()
      ownGens.clear()
      pinnedStats = None
    }
  }

  private final class Changefeed(checkpoint: String) extends GenerationKind {
    private val conf = HadoopConf()
    private val pins = scala.collection.mutable.Map.empty[Long, String]
    private val cfDir = new Path(checkpoint, "graft_cf")
    private def pinPath(gen: Long) = new Path(cfDir, s"pin-$gen.json")
    private def diffDir(gen: Long) = new Path(cfDir, s"diff-$gen")
    private val DoneMarker = "_CF_DONE"

    // emitted whole; a pin lives in the checkpoint, so it survives a restart
    def files(gen: Long): Option[Seq[SnapshotFile]] = None
    def pin(gen: Long, reuse: Option[Long]): Unit = { ensurePinned(gen); () }

    /** Pin generation `gen` to the table's current version (idempotent: an
      * existing pin wins, so latestOffset/plan races within one generation
      * agree on the listing). The pin is claimed through the checkpoint
      * store's [[CommitPrimitive]]; a lost claim adopts the winner's pin.
      */
    private def ensurePinned(gen: Long): String =
      pinnedVersion(gen).getOrElse {
        val resolved = VersionedTable.resolveRobust(opts.path, conf).getOrElse(
          throw new IllegalArgumentException(
            s"changefeed requires a versioned table root (no version pointer at ${opts.path}); " +
              "publish through VersionedTable first"))
        val v = new Path(resolved).getName
        val fs = cfDir.getFileSystem(conf)
        fs.mkdirs(cfDir)
        val pinBytes = s"""{"version":"$v"}""".getBytes("UTF-8")
        val p = pinPath(gen)
        if (CommitPrimitive.forPath(p, conf).putIfAbsent(p, pinBytes, conf)) {
          pins(gen) = v
          v
        } else pinnedVersion(gen).getOrElse(
          throw new IllegalStateException(s"changefeed pin $p lost its claim but is unreadable"))
      }

    private def pinnedVersion(gen: Long): Option[String] =
      pins.get(gen).orElse {
        val p = pinPath(gen)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val v = try new ObjectMapper().readTree(in).path("version").asText()
          finally in.close()
          if (v.isEmpty) None else { pins(gen) = v; Some(v) }
        }
      }

    /** The pruned, DV-attached listing of a pinned version. */
    private def listingOf(version: String): Seq[SnapshotFile] =
      SnapshotFiles.pruned(opts.copy(version = Some(version)), pushed.toSeq)

    def batchFiles(start: Option[RefTableOffset], end: RefTableOffset): Seq[SnapshotFile] = {
      val scratch = diffDir(end.gen)
      val fs = scratch.getFileSystem(conf)
      if (!fs.exists(new Path(scratch, DoneMarker))) {
        if (fs.exists(scratch)) fs.delete(scratch, true) // partial attempt
        materialize(start, end, scratch)
        LocalFs.createWrite(fs, new Path(scratch, DoneMarker), Array.emptyByteArray)
      }
      SnapshotFiles.listPhysical(scratch.toString, Nil)
    }

    private def materialize(start: Option[RefTableOffset], end: RefTableOffset, scratch: Path): Unit = {
      val spark = SparkSession.active
      val curFiles = listingOf(ensurePinned(end.gen))
      val prevVer = start.filter(_.batch >= 0).filter(_.gen >= 0)
        .flatMap(s => pinnedVersion(s.gen))
      val out = prevVer match {
        case Some(pv) =>
          try ChangefeedDiff.fileDeltaDiff(spark, opts, listingOf(pv), curFiles)
          catch {
            case NonFatal(_) =>
              // previous version vacuumed (or unreadable): snapshot-as-inserts
              ChangefeedDiff.bootstrap(spark, opts, curFiles)
          }
        case None => opts.changefeedFrom match {
          // first batch — where the stream STARTS is the declared position:
          case "earliest" => ChangefeedDiff.bootstrap(spark, opts, curFiles) // CDF initial load
          case "latest" =>
            // consumers that only want what changes from now on: empty first
            // delta; end.gen is pinned to the current version, so the next
            // generation diffs from HERE
            ChangefeedDiff.emptyOutput(spark, opts)
              .withColumn("change_type", lit("insert").cast(StringType))
          case fromSpec =>
            // a NAMED retained version (or a tag / TIMESTAMP AS OF spec
            // naming one): the first delta is from→current. Loud failure if
            // it is gone — a silent bootstrap would replay the whole corpus
            // into a consumer that asked for a delta
            val from = VersionedTable.resolveSpec(opts.path, fromSpec, conf)
            val fromFiles =
              try listingOf(from)
              catch { case NonFatal(e) => throw new IllegalArgumentException(
                s"changefeedFrom version '$from' of ${opts.path} is not readable " +
                  s"(vacuumed or never committed): ${e.getMessage}", e) }
            ChangefeedDiff.fileDeltaDiff(spark, opts, fromFiles, curFiles)
        }
      }
      VersionedTable.writeParquetMicros(out, scratch.toString, Nil)
    }

    /** The scratch files hold OUTPUT-named columns plus change_type; read
      * them through the standard reader with an identity-mapped options
      * view (the gen column still rides the partition-constant mechanism).
      * Identity includes the column mapping: a renamed column is stored in
      * the scratch under its logical name, and since validation refuses
      * duplicate field names (and `change_type` under changefeed), no two
      * output fields share a storage column.
      */
    private val scanOpts: RefTableOptions = opts.copy(
      schema = StructType(opts.schema.fields :+ StructField("change_type", StringType, nullable = false)),
      rowField = None, keyColumn = None, columnMapping = Map.empty,
      partitionColumns = Nil, hiddenPartitions = Nil,
      version = None, filterSql = None,
      changefeed = false, keyColumns = Nil)
    def readerFactory(conf: Broadcast[SerializableConfiguration]): PartitionReaderFactory =
      new RefTableReaderFactory(scanOpts, required, Array.empty, None, conf)

    /** The pinned table version the last consumed delta ended at — the
      * operator-visible proof the feed is advancing version-by-version
      * rather than re-reading the corpus.
      */
    def metrics(off: RefTableOffset, m: java.util.Map[String, String]): Unit =
      pinnedVersion(off.gen).foreach(v => m.put("pinnedVersion", v))

    def commit(gen: Long): Unit = {
      val fs = cfDir.getFileSystem(conf)
      // the NEXT batch diffs against gen: keep its pin, drop older ones
      // and every materialized delta up to and including the committed batch
      pins.keys.filter(_ < gen).toList.foreach(pins.remove)
      if (fs.exists(cfDir)) {
        val PinName = "pin-(\\d+)\\.json".r
        val DiffName = "diff-(\\d+)".r
        fs.listStatus(cfDir).foreach { s =>
          s.getPath.getName match {
            case PinName(g) if g.toLong < gen => fs.delete(s.getPath, false)
            case DiffName(g) if g.toLong < gen => fs.delete(s.getPath, true)
            case _ => ()
          }
        }
      }
    }

    def stop(): Unit = pins.clear()
  }
}
