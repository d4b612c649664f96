package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.InsertableRelation

/** Write path for reftable: `INSERT INTO` / `INSERT OVERWRITE` /
  * `df.write.format("reftable")` publish VERSIONS of the table.
  *
  * The reference is read-only (a CDAP source plugin; writes happened
  * through separate sink plugins against the transactional Table). On
  * plain file storage the only safe write under concurrent snapshot
  * readers is the versioned publish — an in-place append or overwrite
  * deletes/mutates files a pinned generation listing may still be
  * reading. So:
  *
  *  - overwrite (SQL `INSERT OVERWRITE`, SaveMode.Overwrite): the data
  *    becomes the next version;
  *  - append (SQL `INSERT INTO`, SaveMode.Append): current ∪ data becomes
  *    the next version (the current snapshot is read back through the
  *    source itself, so partitioned layouts and schema evolution behave
  *    exactly as reads do);
  *  - a target holding bare parquet files that is NOT a versioned root is
  *    refused outright rather than corrupted in place;
  *  - `version`-pinned (time travel) relations and `genColumn` projections
  *    are read-only by construction.
  *
  * CONCURRENCY CONTRACT. Commits totally order publishes through the
  * commit log ([[VersionedTable.CommitsDir]]). Two concurrent OVERWRITEs
  * leave whichever committed last (the natural overwrite semantics).
  * APPEND is the dangerous case — two concurrent appends each read the
  * same base and publish base ∪ own-rows, so the loser's rows would be
  * silently absent from the surviving version (a lost update users expect
  * from INSERT INTO far less than from overwrite). Appends therefore run
  * OPTIMISTICALLY: the base read is pinned to the resolved version and
  * the publish commits ONLY IF that base is still the latest commit (the
  * log claim is an atomic create, so this is a real compare-and-swap, not
  * check-then-act); a lost claim re-derives from the new current and
  * retries ([[VersionedTable.withConflictRetry]]). Concurrent appends
  * thus all land, serialized in some order, at the cost of retried
  * publishes under contention — and a lost attempt commits NOTHING, so
  * there is no window in which its rows appear and then vanish. Readers
  * are never endangered either way: every committed version is complete
  * and immutable.
  *
  * Implemented as a V1Write fallback: the insertable relation receives the
  * analyzed DataFrame (columns already aligned to the table schema) and
  * delegates to [[VersionedTable]], which also writes the `_STATS.json`
  * skipping manifest — so written tables are immediately prunable.
  * Streaming writes (`writeStream.format("reftable")` and `toTable`) go
  * through the DSv2 [[RefTableStreamingWrite]]; every exactly-once append,
  * batch or streaming, lands through [[commitAppend]].
  */
object RefTableWrites {

  /** True iff `e` has a FileNotFoundException anywhere in its cause chain —
    * Spark wraps executor-side read failures in SparkException layers.
    */
  private[graft] def causedByMissingFile(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 20) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      t = if (t.getCause eq t) null else t.getCause
      depth += 1
    }
    false
  }

  /** `data` re-keyed to STORAGE names and column-ordered to the declared
    * schema: the rowField alias reverts to the key column, renamed columns
    * (columnMapping) to their stable physical names — validation guarantees
    * storage names are collision-free, so the rename chain is
    * order-independent.
    */
  private[reftable] def alignedStorage(opts: RefTableOptions, data: Dataset[Row]): DataFrame = {
    val stored = opts.schema.fields.foldLeft(data.toDF()) { (df, f) =>
      val s = opts.storageColumn(f.name)
      if (s == f.name) df else df.withColumnRenamed(f.name, s)
    }
    val storageNames = opts.schema.fields.map(f => opts.storageColumn(f.name))
    stored.select(storageNames.map(col).toIndexedSeq: _*)
  }

  /** Refuse writes into a directory holding bare (un-versioned) snapshot
    * data. Bare data = loose parquet files OR partition-style
    * subdirectories without a pointer. The latter matters: creating a
    * pointer next to a bare Hive layout would not corrupt it, but every
    * reader of the root would silently stop seeing it — shadowing is as
    * wrong as deleting.
    */
  /** A write targeting a branch root (`.../_BRANCHES/<name>`) requires the
    * branch to EXIST (its `_FORK` marker claimed by createBranch): the
    * `branch` option is a pure path rewrite, so a typo'd name would
    * otherwise silently create an orphan lineage — invisible to
    * `t$branches`, un-fast-forwardable (no fork marker), and shadowed by a
    * later create_branch of the same name. Reads already fail at table
    * resolution; this closes the write and streaming surfaces.
    */
  private[reftable] def guardBranchExists(path: String, conf: Configuration): Unit = {
    val m = java.util.regex.Pattern
      .compile("^(.*)/" + VersionedTable.BranchesDir + "/([^/]+)$")
      .matcher(path.stripSuffix("/"))
    if (m.matches() && VersionedTable.branchFork(m.group(1), m.group(2), conf).isEmpty)
      throw new IllegalArgumentException(
        s"reftable: branch '${m.group(2)}' does not exist at ${m.group(1)} — create it " +
          "first (CALL system.create_branch(...) or VersionedTable.createBranch) before " +
          "writing through .option(\"branch\", ...) or the branch path")
  }

  private def guardBareRoot(opts: RefTableOptions, conf: Configuration): Unit = {
    guardBranchExists(opts.path, conf)
    val root = new Path(opts.path)
    val fs = root.getFileSystem(conf)
    val versioned = VersionedTable.resolve(opts.path, conf).isDefined
    def bareData(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      (s.isFile && n.endsWith(".parquet")) ||
        (s.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
          !n.matches("v\\d{19}_[0-9a-f]{8}"))
    }
    if (!versioned && fs.exists(root) && fs.listStatus(root).exists(bareData))
      throw new UnsupportedOperationException(
        s"reftable: ${opts.path} holds bare snapshot data without a ${VersionedTable.Pointer} " +
          "pointer; writing would mutate or shadow files under concurrent snapshot readers. " +
          "Publish it as a versioned root (VersionedTable.publish) or target a fresh directory.")
  }

  /** Post-commit skipping-stats augmentation declared by the options —
    * run by every write surface after its commit lands. The commit stands
    * whatever happens here: a failure leaves that version without the
    * declared stats (readers of the manifest fail open) and is reported on
    * stderr with the table path, never thrown at a caller whose write landed.
    */
  private[reftable] def augmentStats(opts: RefTableOptions, spark: org.apache.spark.sql.SparkSession,
      conf: Configuration): Unit =
    try {
      def storage(cols: Seq[String]): Seq[String] = cols.map(opts.storageColumn)
      // one resolve: every declared kind lands in the same version
      lazy val resolved = SnapshotFiles.resolveDir(opts.path, None, conf)
      if (opts.categoricalStats.nonEmpty)
        RefTableStats.augmentCategorical(spark, resolved, storage(opts.categoricalStats))
      if (opts.bloomStats.nonEmpty)
        RefTableStats.augmentBloom(spark, resolved, storage(opts.bloomStats))
      if (opts.ndvStats.nonEmpty)
        RefTableStats.augmentNdv(spark, resolved, storage(opts.ndvStats))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[reftable] stats augmentation failed on ${opts.path} (the commit stands): $e")
    }

  /** Highest micro-batch id transaction `appId` has committed to `root`,
    * read from [[Txn]] markers in the RETAINED commit log (markers ride
    * each commit's atomic claim, so they can never disagree with the
    * committed state). Retention bounds the lookback to `keepVersions`
    * commits — the replay a restart produces is of the LAST batch this
    * query committed, so its marker is among the newest commits unless
    * more than keepVersions external writers interleaved mid-replay, the
    * same practical bound Delta's SetTransaction retention accepts.
    */
  def lastCommittedBatch(root: String, appId: String,
      conf: Configuration = HadoopConf()): Option[Long] = {
    val prefix = Txn.prefix(appId)
    val log = VersionedTable.commitLog(root, conf)
    val markers =
      if (log.nonEmpty) log.flatMap(_.marker)
      else VersionedTable.lastCommit(root, conf).flatMap(_.marker).toSeq // legacy pointer roots
    val ids = markers.filter(_.startsWith(prefix))
      .flatMap(m => m.stripPrefix(prefix).toLongOption)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Batch `batch` of exactly-once transaction `appId` — the one owner of
    * the `txn:<appId>:<batch>` commit marker. A batch is `replayed` once
    * its transaction committed it, or a later one, to `root`.
    */
  private[reftable] final case class Txn(appId: String, batch: Long) {
    def marker: String = Txn.prefix(appId) + batch
    def replayed(root: String, conf: Configuration): Boolean =
      lastCommittedBatch(root, appId, conf).exists(_ >= batch)
  }

  private[reftable] object Txn {
    def prefix(appId: String): String = s"txn:$appId:"
  }

  /** The exactly-once append commit: every append surface lands here
    * (batch INSERT INTO / [[appendVersion]], each streaming epoch, and the
    * epoch's quarantine rejects). `populate(staging, full)` stages the new
    * rows; `full` is false when the version inherits every base file by
    * reference (the `_FILES.json` delta written after populate) and true
    * when the version is exactly what populate stages — a fresh root, or
    * `replace` (a complete-mode epoch is the whole table). Returns whether
    * it committed: false when `txn` was already committed (a replay).
    *
    * ORDER MATTERS inside each CAS attempt: the base version is resolved
    * (pinned) FIRST, the [[Txn]] marker is checked SECOND, and the publish
    * CAS guards exactly that pinned base. Any commit landing after the
    * marker check — including a zombie attempt committing this very batch
    * — necessarily moves the head past the pinned base, so our CAS fails;
    * the retry re-resolves, re-checks the marker, sees the winner's entry
    * and lands nothing. (Checking the marker BEFORE pinning the base would
    * leave a window where the zombie's commit is absorbed into a
    * freshly-resolved base and the batch lands twice — the same reason
    * Delta checks SetTransaction against the pinned snapshot.) An append
    * onto a base reads and removes nothing, so a lost CAS rebases onto any
    * concurrent commit instead of re-staging, once the replay check holds
    * against the moved head.
    */
  private[reftable] def commitAppend(root: String, keepVersions: Int,
      partitionColumns: Seq[String], txn: Option[Txn], conf: Configuration,
      replace: Boolean = false)(populate: (Path, Boolean) => Unit): Boolean =
    VersionedTable.withConflictRetry(root) { () =>
      val base = VersionedTable.resolve(root, conf).map(p => new Path(p).getName)
      if (txn.exists(_.replayed(root, conf))) false
      else {
        val marker = txn.map(_.marker)
        base.filterNot(_ => replace) match {
          case Some(b) =>
            VersionedTable.publishVia(root, keepVersions, marker = marker,
              parent = base, requireBase = true,
              rebase = Some(VersionedTable.RebaseSpec(
                removedRel = Set.empty, readRel = Set.empty,
                partitionColumns = partitionColumns,
                revalidate = () => !txn.exists(_.replayed(root, conf))))) { staging =>
              populate(staging, false)
              RefTableFileManifest.writeDelta(root, staging, b, Set.empty,
                partitionColumns, conf)
            }
          case None => // CAS still armed: a concurrent first publish (or a
            // commit under a replacing epoch) conflicts instead of being shadowed
            VersionedTable.publishVia(root, keepVersions, marker = marker,
              parent = base, requireBase = true,
              manifestPartitionCols = partitionColumns)(populate(_, true))
        }
        true
      }
    }

  /** clusterBy/zorderBy/bucketBy layouts are GLOBAL properties that
    * re-cluster per commit; an O(new data) append cannot keep them. */
  private[reftable] def refuseGlobalLayout(opts: RefTableOptions): Unit =
    require(!opts.layout.global,
      "reftable append: clusterBy/zorderBy/bucketBy layouts are GLOBAL properties that " +
        "re-cluster per commit; write them with batch INSERT (which rewrites the layout " +
        "per commit) or maintain them with RefTableMaintenance")

  /** Append `data` to the versioned root as ONE new version — the
    * non-layout append path of batch INSERT INTO and of callers holding a
    * DataFrame. The commit is O(new data): the new version writes ONLY the
    * appended rows and its `_FILES.json` inherits every base file by
    * reference (RefTableFileManifest); the base snapshot is never read.
    * Runs optimistically under the commit CAS (see [[insert]]'s
    * concurrency contract).
    *
    * `txn = Some((appId, batchId))` arms EXACTLY-ONCE for replays: a batch
    * the transaction already committed lands nothing (see [[commitAppend]]).
    */
  def appendVersion(opts: RefTableOptions, data: Dataset[Row],
      txn: Option[(String, Long)] = None): Unit =
    appendVersionInternal(opts, data, txn.map { case (a, b) => Txn(a, b) }, preEnforced = false)

  /** The quarantine gate's one-materialized-pass cache (see
    * [[enforceExpectations]]): set when the gate persists the input,
    * dropped by [[withQuarantineCache]] once the enclosing write finishes.
    */
  private val quarantineCached =
    new ThreadLocal[org.apache.spark.sql.DataFrame]

  private[reftable] def withQuarantineCache[T](f: => T): T =
    try f finally {
      Option(quarantineCached.get()).foreach { df =>
        quarantineCached.remove()
        try { df.unpersist(); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  private def appendVersionInternal(opts: RefTableOptions, data: Dataset[Row],
      txn: Option[Txn], preEnforced: Boolean): Unit = withQuarantineCache {
    guardReadOnly(opts)
    refuseGlobalLayout(opts)
    val conf = HadoopConf()
    guardBareRoot(opts, conf)
    opts.retainForMs.foreach(VersionedTable.declareRetention(opts.path, _, conf))
    // a COMPUTED append source (an anti-join delta, a union, an aggregated
    // batch) is evaluated twice per commit — the emptiness probe below and
    // the staged write each plan their own scan — so materialize it once,
    // exactly like the mutation layer's merge sources; bare scans stay lazy
    // (each evaluation is one pruned file read). The probe's first action
    // populates the blocks, the write reads them back.
    val aligned = RefTableMutations.materializeComputedSource(alignedStorage(opts,
      if (preEnforced) data.toDF() else enforceExpectations(opts, data)))
    // an empty batch onto a base stages nothing (the delta inherits every
    // base file); a full publish always writes, so the version carries the
    // schema even when it holds no rows
    val committed = commitAppend(opts.path, opts.keepVersions, opts.partitionColumns,
        txn, conf) { (staging, full) =>
      if (full || !aligned.isEmpty)
        VersionedTable.writeParquetMicros(aligned, staging.toString, opts.partitionColumns)
    }
    // outside the retry loop: the stats pass follows the landed commit;
    // replayed no-ops skip it
    if (committed) augmentStats(opts, data.sparkSession, conf)
    ()
  }

  /** Declared row-level expectations applied to a DECLARED-name batch —
    * the Delta-Live-Tables expect / CHECK-constraint shape, enforced by
    * every write surface. `onViolation=fail` audits with ONE narrow
    * aggregation pass and refuses the whole write naming the broken rules
    * (write-audit-publish: nothing lands); `drop` removes violating rows
    * in the write's own plan (no extra pass). NULL outcomes violate.
    */
  /** GENERATED ALWAYS AS computation, applied by every write surface
    * before the expectation gate (declared predicates may reference the
    * generated columns). ANSI ALWAYS semantics: an omitted or NULL value
    * computes; a provided non-null value that differs from the computed
    * one refuses the write loudly — never silently overwritten, never
    * silently kept.
    */
  private[reftable] def applyGenerated(opts: RefTableOptions, data: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, when}
    if (opts.generatedColumns.isEmpty) return data
    def computedOf(c: String, sql: String) = {
      val dt = opts.schema.fields.find(_.name == c).map(_.dataType)
      dt.fold(expr(sql))(t => expr(sql).cast(t))
    }
    // generation expressions reference only NON-generated columns (refused
    // otherwise at option parse), so the ALWAYS-mismatch census of every
    // provided column folds into ONE narrow aggregation pass over the
    // input — the per-column isEmpty probe re-scanned the input once per
    // generated column (doubling or worse the scan cost of large inserts),
    // and split per-column probes could even disagree with each other on a
    // non-deterministic source. The common insert OMITS generated columns
    // entirely: then no extra pass runs at all.
    val provided = opts.generatedColumns.filter { case (c, _) => data.columns.contains(c) }
    if (provided.nonEmpty) {
      val counts = data.select(provided.map { case (c, sql) =>
        count(when(col(c).isNotNull && !col(c).eqNullSafe(computedOf(c, sql)), 1)).as(c)
      }: _*).head()
      provided.zipWithIndex.foreach { case ((c, sql), i) =>
        if (counts.getLong(i) > 0L) throw new IllegalStateException(
          s"reftable: column '$c' is GENERATED ALWAYS AS ($sql) — a provided value " +
            "differs from the computed one; omit the column (or write NULL) and let " +
            "the engine compute it")
      }
    }
    opts.generatedColumns.foldLeft(data) { case (out, (c, sql)) =>
      out.withColumn(c, computedOf(c, sql))
    }
  }

  private[reftable] def enforceExpectations(
      opts: RefTableOptions, data: Dataset[Row]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, expr, lit, not, when}
    val computed = applyGenerated(opts, data.toDF())
    if (opts.expectations.isEmpty) return computed
    opts.onViolation match {
      case "drop" =>
        graft.operators.Expectations.dropViolations(computed, opts.expectations)
      case "quarantine" =>
        // violating rows land in the sibling quarantine table (declared
        // schema + `_violated` rule names) as an append-only rejects log;
        // passing rows continue into the write. The quarantine commit
        // happens FIRST, so a crash between the two can only leave a
        // quarantined-but-also-absent row, never a silently dropped one.
        // The input is MATERIALIZED once (persist) before the split: the
        // quarantine append and the gated main write both read the cached
        // blocks, so a non-deterministic or concurrently-changing source
        // cannot land a row in both tables or in neither, and the two
        // extra full passes of the re-evaluate-per-branch shape are gone.
        // The cache is dropped by the caller's write completing — callers
        // run inside [[withQuarantineCache]]; if one forgets, Spark's
        // ContextCleaner unpersists when the plan is garbage collected.
        val passes = opts.expectations
          .map { case (_, p) => coalesce(expr(p), lit(false)) }.reduce(_ && _)
        val cached = computed.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        quarantineCached.set(cached)
        val violated = cached.filter(not(passes))
          .withColumn("_violated", concat_ws(",",
            opts.expectations.map { case (n, p) =>
              when(!coalesce(expr(p), lit(false)), lit(n)) }: _*))
        if (!violated.isEmpty)
          appendVersion(quarantineOpts(opts), violated)
        cached.filter(passes)
      case _ =>
        val census = graft.operators.Expectations.check(computed, opts.expectations)
          .collect().filter(_.getLong(1) > 0L)
        if (census.nonEmpty)
          throw new IllegalStateException(
            "reftable: write refused — expectation(s) violated (onViolation=fail): " +
              census.map(r => s"${r.getString(0)} (${r.getLong(1)}/${r.getLong(2)} rows)")
                .mkString(", "))
        computed
    }
  }

  /** The quarantine sibling's options: `<path>__quarantine`, declared
    * schema + `_violated STRING`, flat layout (a rejects log), no
    * expectations of its own (no recursion), same retention.
    */
  private[reftable] def quarantineOpts(opts: RefTableOptions): RefTableOptions =
    opts.copy(
      path = opts.path.stripSuffix("/") + "__quarantine",
      schema = org.apache.spark.sql.types.StructType(opts.schema.fields :+
        org.apache.spark.sql.types.StructField("_violated",
          org.apache.spark.sql.types.StringType, nullable = true)),
      expectations = Nil, onViolation = "fail",
      partitionColumns = Nil, hiddenPartitions = Nil,
      zorderBy = Nil, clusterBy = Nil, bucketBy = Nil,
      rowField = None, keyColumn = None, columnMapping = Map.empty,
      categoricalStats = Nil, bloomStats = Nil, ndvStats = Nil,
      // the rejects log stores the images as quarantined — no recompute
      generatedColumns = Nil)

  /** Version-pinned (time travel) relations and genColumn projections are
    * read-only through EVERY write entry point.
    */
  private[reftable] def guardReadOnly(opts: RefTableOptions): Unit = {
    if (opts.version.nonEmpty)
      throw new UnsupportedOperationException(
        "reftable: a version-pinned (time travel) relation is read-only")
    if (opts.genColumn.nonEmpty)
      throw new UnsupportedOperationException(
        "reftable: tables declaring genColumn are read-only projections of refresh generations")
  }

  def insert(opts: RefTableOptions, data: Dataset[Row], overwrite: Boolean,
      overwriteMode: Option[String] = None): Unit = withQuarantineCache {
    guardReadOnly(opts)
    val conf = HadoopConf()
    guardBareRoot(opts, conf)
    opts.retainForMs.foreach(VersionedTable.declareRetention(opts.path, _, conf))
    val gated = enforceExpectations(opts, data)
    val aligned = alignedStorage(opts, gated)
    val storageNames = opts.schema.fields.map(f => opts.storageColumn(f.name))
    val layout = opts.layout

    // Spark's partitioned-overwrite contract: static (the default)
    // replaces the whole table; dynamic replaces ONLY the partitions
    // present in the written data — the per-write option wins over the
    // session conf, exactly like Spark's own file sources. Dynamic mode
    // routes through the COW mutation (O(touched partitions) commit); on
    // a never-published root there is nothing to carry, so it degrades to
    // the plain first publish.
    val dynamicOverwrite = overwrite && opts.partitionColumns.nonEmpty &&
      overwriteMode.orElse(
        data.sparkSession.conf.getOption("spark.sql.sources.partitionOverwriteMode"))
        .exists(_.equalsIgnoreCase("dynamic")) &&
      VersionedTable.resolve(opts.path, conf).isDefined
    if (dynamicOverwrite)
      RefTableMutations.overwritePartitions(data.sparkSession, opts.path, aligned,
        opts.partitionColumns, RefTableMutations.partitionTypesOf(opts),
        opts.keepVersions)
    else if (overwrite) // derives from nothing
      VersionedTable.publish(aligned, opts.path, opts.keepVersions, layout = layout)
    else if (!layout.global) {
      // plain appends (no global re-clustering declared) commit O(new
      // data) through the one exactly-once append commit (the streaming
      // epochs' commit too). clusterBy/zorderBy/bucketBy tables keep the
      // full rewrite below: their layout is a GLOBAL property, which is
      // the point of the option (for bucketBy it keeps every version
      // physically bucketed so keyed-mutation narrowing never lapses).
      appendVersionInternal(opts, gated, txn = None, preEnforced = true)
      return
    }
    else VersionedTable.withConflictRetry(opts.path) { () =>
      // re-resolved per attempt; the read is PINNED to the resolved base so
      // the commit CAS guards exactly the version the union derived from
      val base = VersionedTable.resolve(opts.path, conf).map(p => new Path(p).getName)
      locally {
        val payload = base match {
          case None => aligned // first version of a fresh root
          case Some(b) =>
            // current snapshot through our own read path (storage-named schema)
            val ddl = org.apache.spark.sql.types.StructType(opts.schema.fields.map(f =>
              f.copy(name = opts.storageColumn(f.name)))).toDDL
            // (a global layout never combines with partitionColumns)
            val cur = data.sparkSession.read.format("reftable")
              .option("path", opts.path).option("schema", ddl)
              .option("version", b)
              .option("allowMissingColumns", opts.allowMissingColumns.toString)
              .load()
            cur.select(storageNames.map(col).toIndexedSeq: _*).unionAll(aligned)
        }
        try VersionedTable.publish(payload, opts.path, opts.keepVersions,
          parent = base, requireBase = true, layout = layout)
        catch {
          // the pinned base can be deleted mid-read by a CONCURRENT
          // committer's publish-time retention (keepVersions) — that
          // surfaces as FileNotFoundException from the union's scan, not as
          // a CommitConflictException, yet it is the same stale-base
          // condition: re-derive from the new current and retry. Only
          // reclassified when the base genuinely stopped being current;
          // a FileNotFound while the base IS still current is real
          // corruption and must propagate.
          case e: Exception if base.nonEmpty && RefTableWrites.causedByMissingFile(e) &&
              VersionedTable.resolve(opts.path, conf).map(p => new Path(p).getName) != base =>
            throw new VersionedTable.CommitConflictException(
              s"append base ${base.get} of ${opts.path} was retention-pruned by a concurrent " +
                s"committer mid-read (${e.getClass.getSimpleName}); re-deriving from the new " +
                "current")
        }
      }
    }
    augmentStats(opts, data.sparkSession, conf)
    ()
  }
}

class RefTableWriteBuilder(opts: RefTableOptions, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  // SaveMode.Overwrite / INSERT OVERWRITE arrive as truncate() on the
  // builder — and so does streaming COMPLETE mode (the engine truncates
  // per epoch); the InsertableRelation flag covers older fallback sites
  private var truncateAll = false
  override def truncate(): WriteBuilder = { truncateAll = true; this }
  override def build(): Write = new V1Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    // Partitioned writes CLUSTER the incoming rows by the partition
    // columns (non-strict: the planner may skip the exchange when the
    // data is already co-partitioned or AQE coalesces): without it every
    // task holds every partition value and a P-value epoch across T tasks
    // writes P×T files; with it, files-per-epoch is O(P). Flat tables
    // declare no requirement — no exchange is added. The V1 batch path
    // ignores this interface (InsertableRelation plans its own write);
    // it steers the DSv2 streaming write.
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      if (opts.partitionColumns.isEmpty)
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      else
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          opts.partitionColumns.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.identity(c)
              : org.apache.spark.sql.connector.expressions.Expression).toArray)
    override def distributionStrictlyRequired(): Boolean = false
    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      Array.empty
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: Dataset[Row], overwrite: Boolean): Unit =
        RefTableWrites.insert(opts, data, truncateAll || overwrite,
          overwriteMode = Option(info.options.get("partitionOverwriteMode")))
    }
    // `writeStream.toTable(...)` AND `writeStream.format("reftable")` (the
    // engine prefers DSv2 once STREAMING_WRITE is declared): appId = the
    // checkpoint-stable streaming query id, overridable per write
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      RefTableWrites.guardReadOnly(opts)
      // the declared schema is the write contract, same as for reads — a
      // drifted stream must fail loudly here, not write a positional
      // "fix" (the engine passes the QUERY's schema; catalog tables are
      // name-checked at analysis, format-path writes are not)
      val declared = opts.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val incoming = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
      if (incoming != declared)
        throw new IllegalStateException(
          s"reftable sink: stream columns ${incoming.map(_._1).mkString("[", ", ", "]")} " +
            s"do not match the declared schema ${declared.map(_._1).mkString("[", ", ", "]")}")
      val appId = Option(info.options.get("txnAppId")).filter(_.nonEmpty)
        .getOrElse(info.queryId())
      new RefTableStreamingWrite(opts, truncateAll, appId,
        keyedUpsert = opts.keyColumns.nonEmpty && !truncateAll)
    }
  }
}

/** The write builder for tables that declare `keyColumns`: Spark's DSv2
  * contract signals streaming UPDATE mode purely through this marker
  * interface (`SupportsStreamingUpdateAsAppend` — the engine type-checks
  * the builder, then calls the same `build()` as append mode), so the
  * keyed table's streaming-write semantics must be mode-independent:
  * EVERY non-complete epoch applies as a merge-on-read upsert on the
  * declared keys. For append-mode streams whose keys are genuinely new
  * per epoch that is exactly an append (the key-bounds probe prunes all
  * files and no DV is written); for update-mode streams it is the keyed
  * apply update mode means. Tables without keyColumns keep the plain
  * append builder and Spark itself refuses update mode against them.
  */
class RefTableKeyedWriteBuilder(opts: RefTableOptions, info: LogicalWriteInfo)
    extends RefTableWriteBuilder(opts, info)
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
